"""The benchmark's workloads.  Each one builds its inputs from the seed,
runs the engine through its public functions only, and checks every
output against ``reference``.

A workload has three phases, driven by ``run.py``:

- ``setup(spark)``: generate and cache the inputs and warm the engine's
  Python workers (timed as ``setup_s``);
- ``measure(spark, seconds)``: repeat the workload's operation until
  ``seconds`` have passed (at least once) and return the timings;
- ``check()``: compare every output the measure phase kept against the
  reference; a mismatch is a failed operation.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from distributed_web_crawling_and_indexing_system_gcp_spark.functions import html as H
from distributed_web_crawling_and_indexing_system_gcp_spark.functions import urls as U
from distributed_web_crawling_and_indexing_system_gcp_spark.operators import search as S
from distributed_web_crawling_and_indexing_system_gcp_spark.plans import crawl as C
from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen

from . import gen, reference

SEED_JOB_SCHEMA = (
    "task_id string, seed_urls array<string>, depth int, domain_restriction string"
)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# -- crawl -------------------------------------------------------------------

BLOOM_SHARDS = 4
SALT_BUCKETS = 4


class CrawlWorkload:
    """One crawl job over a seeded sample of webgen's synthetic web,
    without a snapshot store (round state goes through ``localCheckpoint``).

    Shape parameters (``shape``): ``n_pages``, ``n_hosts``, ``richness``
    (webgen page weight), ``n_seeds``, ``depth``, ``budget`` (per host per
    round), ``max_attempts`` and ``max_rounds``.
    """

    kind = "crawl"

    def __init__(self, name: str, shape: dict, seed: int, work_dir: str):
        self.name, self.shape, self.seed = name, shape, seed
        self.work_dir = work_dir
        s = shape
        self.seeds = gen.seed_urls(s["n_pages"], s["n_seeds"], s["n_hosts"], seed)
        self.cfg = C.CrawlConfig(
            max_depth=s["depth"], politeness_budget=s["budget"],
            salt_buckets=SALT_BUCKETS, max_attempts=s["max_attempts"],
            bloom_shards=BLOOM_SHARDS, bloom_bits_per_shard=1 << 18,
            max_rounds=s["max_rounds"],
        )
        self.outputs: list[dict] = []
        self.last: dict = {}
        self.web_rows: dict | None = None

    # set-up ------------------------------------------------------------------

    def setup(self, spark) -> None:
        s = self.shape
        self.web = webgen.make_web_pages(
            spark, s["n_pages"], s["n_hosts"], s["richness"]).persist()
        self.web.count()
        self.robots = webgen.make_robots_src(spark, s["n_hosts"])
        self.jobs = spark.createDataFrame(
            [(f"{self.name}-job", self.seeds, s["depth"], None)], SEED_JOB_SCHEMA
        )

    def teardown(self) -> None:
        self.web.unpersist()

    def collect_inputs(self) -> None:
        """Collect the generated web and robots rules for the reference,
        the way the repository's oracle tests read them (untimed)."""
        self.web_rows = {r["url"]: r.asDict() for r in self.web.collect()}
        self.robots_rows = {r["host"]: r["rules_txt"] for r in self.robots.collect()}

    # measure -----------------------------------------------------------------

    def crawl_once(self, spark) -> dict:
        """One ``run_crawl`` call through to the materialized frontier
        totals.  ``run_round`` is observed for its return time: round 0's
        return is the moment its fetched and parsed pages are
        materialized."""
        calls: list[tuple[float, float]] = []
        inner = C.run_round

        def observed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                calls.append((t, time.perf_counter()))

        C.run_round = observed
        try:
            t0 = time.perf_counter()
            out = C.run_crawl(spark, self.jobs, self.web, self.robots, self.cfg)
            t_ret = time.perf_counter()
            row = out["frontier"].agg(
                F.count("*").alias("scheduled"),
                F.count(F.when(F.col("status") == "fetched", 1)).alias("fetched"),
            ).collect()[0]
            t1 = time.perf_counter()
        finally:
            C.run_round = inner
        return {
            "wall_s": t1 - t0, "call_s": t_ret - t0,
            "fetched": row["fetched"], "scheduled": row["scheduled"],
            "first_round_s": calls[0][1] - t0, "rounds": len(calls), "out": out,
        }

    def summarize(self, res: dict) -> dict:
        """The crawl's output in the reference's terms; the totals must
        agree with the frontier the summary is built from."""
        out = res["out"]
        seen = [r[0] for r in out["seen"].select("url").collect()]
        statuses = {r[0]: r[1] for r in out["frontier"].groupBy("status").count().collect()}
        got = reference.crawl_summary(seen, statuses)
        if (got["fetched"], got["scheduled"]) != (res["fetched"], res["scheduled"]):
            got["totals"] = [res["fetched"], res["scheduled"]]
        return got

    def warmup(self, spark) -> None:
        """Start a Python worker per core and load the crawl's UDFs (parse,
        resolve) in each, so the measured crawl does not pay for worker
        start-up.  Plans stay cold: the measured crawl is the session's
        first, as for a crawl job submitted to a fresh session (a warm-up
        crawl would cost as much as the measured one)."""
        par = spark.sparkContext.defaultParallelism
        pages = self.web.filter(F.col("html").isNotNull()).limit(4 * par).repartition(par)
        links = pages.select(
            "url", F.explode(H.links_view(H.parse_html_udf(F.col("html")))).alias("h"))
        links.select(U.resolve_and_parse_udf(F.col("url"), F.col("h"))).write.format(
            "noop").mode("overwrite").save()

    def measure(self, spark, seconds: float) -> dict:
        walls, calls, rates, firsts = [], [], [], []
        t_end = time.perf_counter() + seconds
        while True:
            res = self.crawl_once(spark)
            walls.append(res["wall_s"])
            calls.append(res["call_s"])
            rates.append(res["fetched"] / res["wall_s"])
            firsts.append(res["first_round_s"])
            self.outputs.append(self.summarize(res))
            self.last = res
            if time.perf_counter() >= t_end:
                break
        return {
            "work_per_s": statistics.median(rates),
            "samples": {"crawls": len(walls), "rounds": res["rounds"]},
            "detail": {
                "crawl_pages_per_s": statistics.median(rates),
                "crawl_wall_s": statistics.median(walls),
                "last_crawl_call_s": calls[-1],
                "first_round_s": statistics.median(firsts),
                "crawl_walls_s": walls,
            },
        }

    # correctness ---------------------------------------------------------------

    def reference_summary(self) -> dict:
        """The reference crawl's summary (about a second at this size)."""
        s = self.shape
        seen, frontier = reference.crawl(
            self.seeds, self.web_rows, self.robots_rows, s["depth"], s["budget"],
            s["max_attempts"], s["max_rounds"],
        )
        return reference.crawl_summary(seen, Counter(r["status"] for r in frontier))

    def check(self) -> tuple[int, int, list[str]]:
        want = self.reference_summary()
        bad = [o for o in self.outputs if o != want]
        notes = [f"crawl output {o} != reference {want}" for o in bad[:1]]
        return len(self.outputs), len(bad), notes


# -- search ------------------------------------------------------------------


# index builds timed per measurement, after the query warm-up
INDEX_BUILDS = 3


class SearchWorkload:
    """The UI read path: a closed loop with one client over a BM25 index
    of the synthetic web's pages, beside the index write path."""

    kind = "search"

    def __init__(self, name: str, shape: dict, seed: int, work_dir: str):
        self.name, self.shape, self.seed = name, shape, seed
        self.work_dir = work_dir
        self.queries = gen.query_mix(shape["max_queries"], shape["n_pages"],
                                     shape["n_hosts"], seed)
        self.results: list[tuple[dict, list]] = []

    def setup(self, spark) -> None:
        s = self.shape
        self.web = webgen.make_web_pages(spark, s["n_pages"], s["n_hosts"], s["richness"])
        # documents exactly as a crawl indexes them: parse_html_udf + text_view
        self.docs = (
            self.web.filter(F.col("html").isNotNull())
            .select(
                F.col("url").alias("doc_id"), F.col("url"),
                H.text_view(H.parse_html_udf(F.col("html"))).alias("text"),
            )
            .persist()
        )
        self.n_docs = self.docs.count()
        self.index = self.build_index()

    def warmup(self, spark) -> None:
        """Every query kind once, so the loop starts on compiled plans."""
        for kind in gen.QUERY_KINDS:
            self.run_query(next(q for q in self.queries if q["kind"] == kind))

    def build_index(self) -> dict:
        content = S.build_postings(self.docs, "doc_id", "text").persist()
        url = S.build_url_postings(self.docs, "doc_id", "url").persist()
        content_len = S.doc_lengths(content).persist()
        url_len = S.doc_lengths(url).persist()
        for df in (content, url, content_len, url_len):
            df.count()
        return {"content": content, "url": url,
                "content_len": content_len, "url_len": url_len}

    def drop_index(self, index: dict) -> None:
        for df in index.values():
            df.unpersist()

    def teardown(self) -> None:
        self.drop_index(self.index)
        self.docs.unpersist()

    def run_query(self, q: dict) -> list:
        ix, terms, kind = self.index, q["terms"], q["kind"]
        if kind in ("bm25_broad", "bm25_selective"):
            rows = S.search_bm25(ix["content"], terms, 10, doclens=ix["content_len"]).collect()
            return [(r["doc"], r["score"]) for r in rows]
        if kind == "multifield":
            rows = S.search_multifield(
                {"content": ix["content"], "url": ix["url"]}, terms, 10,
                field_doclens={"content": ix["content_len"], "url": ix["url_len"]},
            ).collect()
            return [(r["doc"], r["score"]) for r in rows]
        if kind == "snippets":
            top = S.search_bm25(ix["content"], terms, 10, doclens=ix["content_len"])
            rows = S.search_snippets(top, self.docs, terms).collect()
            return sorted((r["rank"], r["url"], r["snippet"], r["score"]) for r in rows)
        rows = S.url_search(self.docs.select("url"), terms[0], 20).collect()
        return [r["url"] for r in rows]

    def measure(self, spark, seconds: float) -> dict:
        """Index builds, then a closed loop with one client: the next query
        is sent when the last one returned.  The loop stops at a cycle
        boundary once ``seconds`` have passed, so every query kind keeps
        an equal share."""
        # the set-up builds run before the warm-up, partly on cold plans;
        # the reported build is the median of builds made after it
        builds = []
        for _ in range(INDEX_BUILDS):
            self.drop_index(self.index)
            t0 = time.perf_counter()
            self.index = self.build_index()
            builds.append(time.perf_counter() - t0)
        lat, kinds = [], {}
        cycle = len(gen.QUERY_KINDS)
        t_start = time.perf_counter()
        for i, q in enumerate(self.queries):
            if i % cycle == 0 and i and time.perf_counter() - t_start >= seconds:
                break
            t0 = time.perf_counter()
            got = self.run_query(q)
            dt = time.perf_counter() - t0
            lat.append(dt)
            kinds.setdefault(q["kind"], []).append(dt)
            self.results.append((q, got))
        loop_s = time.perf_counter() - t_start
        return {
            "work_per_s": len(lat) / loop_s,
            "samples": {"queries": len(lat), "index_builds": len(builds)},
            "detail": {
                "index_build_s": statistics.median(builds),
                "query_mean_ms": 1000.0 * loop_s / len(lat),
                "query_p50_ms": 1000.0 * percentile(lat, 50),
                "query_p90_ms": 1000.0 * percentile(lat, 90),
                "per_kind_ms": {k: 1000.0 * statistics.median(v) for k, v in kinds.items()},
            },
        }

    # correctness ---------------------------------------------------------------

    def collect_inputs(self) -> None:
        """Collect the generated pages for the reference (untimed)."""
        self.pages = self.web.select("url", "html").collect()

    def reference_corpus(self):
        import pandas as pd

        docs = pd.DataFrame(
            [{"doc_id": r["url"], "url": r["url"], "text": reference.page_text(r["html"])}
             for r in self.pages if r["html"] is not None]
        )
        return docs, reference.postings(docs, "text"), reference.postings(docs, "url")

    def expected(self, q: dict, docs, content, url):
        terms, kind = q["terms"], q["kind"]
        if kind in ("bm25_broad", "bm25_selective"):
            return reference.topk(reference.bm25_scores(content, terms))
        if kind == "multifield":
            both = (reference.bm25_scores(content, terms).to_frame("a")
                    .join(reference.bm25_scores(url, terms).to_frame("b"), how="outer"))
            return reference.topk(both.max(axis=1))
        if kind == "snippets":
            top = reference.topk(reference.bm25_scores(content, terms))
            text = dict(zip(docs["doc_id"], docs["text"]))
            return [(rank, d, reference.snippet(text[d], terms), s)
                    for rank, (d, s) in enumerate(top, 1)]
        return sorted(u for u in docs["url"] if terms[0] in u)[:20]

    def matches(self, q: dict, got, want) -> bool:
        kind = q["kind"]
        if kind in ("bm25_broad", "bm25_selective", "multifield"):
            return reference.same_ranking(got, want)
        if kind == "snippets":
            ranking_ok = reference.same_ranking(
                [(u, s) for _, u, _, s in got], [(d, s) for _, d, _, s in want])
            by_doc = {d: snip for _, d, snip, _ in want}
            return ranking_ok and all(by_doc.get(u) == snip for _, u, snip, _ in got
                                      if u in by_doc)
        return got == want

    def check(self) -> tuple[int, int, list[str]]:
        docs, content, url = self.reference_corpus()
        failed, notes = 0, []
        for q, got in self.results:
            want = self.expected(q, docs, content, url)
            if not self.matches(q, got, want):
                failed += 1
                if len(notes) < 2:
                    notes.append(f"query {q}: got {got[:3]} want {want[:3]}")
        return len(self.results), failed, notes


# -- registry ------------------------------------------------------------------

WORKLOADS = {
    "bulk_crawl": (CrawlWorkload, {
        "n_pages": 1200, "n_hosts": 64, "richness": 48, "n_seeds": 600,
        "depth": 1, "budget": 32000, "max_attempts": 1, "max_rounds": 1,
    }),
    "search_serve": (SearchWorkload, {
        "n_pages": 800, "n_hosts": 16, "richness": 4, "max_queries": 400,
    }),
}


def make(name: str, seed: int, work_dir: str):
    cls, shape = WORKLOADS[name]
    return cls(name, shape, seed, work_dir)
