"""The traced run: per-layer metrics from spans around the engine's public
functions, Spark jobs read back from the event log, and isolated timings
of single layers over the run's own data.

In a traced run ``run.py`` starts the session with Spark's event log on
and measures the workload untraced first.  Then a crawl is measured once
more untraced (the overhead baseline, as warm as the traced pass), the
tracer is installed, the workload is measured traced, the isolated
layers are timed, the session is stopped so the log is complete, and
spans + jobs reduce to the per-layer metrics listed in
``BENCHMARK.json``.  The difference between the traced pass and the
baseline pass is the overhead of the spans (the event log is on for
both).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from distributed_web_crawling_and_indexing_system_gcp_spark.functions import html as H
from distributed_web_crawling_and_indexing_system_gcp_spark.functions import urls as U
from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (
    dedup,
    linkgraph,
    politeness,
    robots,
    search,
    seen,
    similarity,
)
from distributed_web_crawling_and_indexing_system_gcp_spark.plans import crawl as C
from distributed_web_crawling_and_indexing_system_gcp_spark.sources import fetch
from distributed_web_crawling_and_indexing_system_gcp_spark.sources.snapshots import (
    SnapshotStore,
)

from . import gen
from .trace import Tracer, covered_within, executor_totals, read_event_log, self_times

# per-host budget of the isolated politeness window: small enough to bind
# on the hot host, which holds a third of the web
ISO_POLITENESS_BUDGET = 8

# every per-layer metric, with its unit; a layer a workload bypasses reports 0
PER_LAYER = {
    "crawl.rounds": "count", "crawl.spark_jobs": "count", "crawl.jobs_per_round": "count",
    "crawl.seed_s": "s", "crawl.round_compute_s": "s", "crawl.round_state_s": "s",
    "crawl.driver_gap_s": "s",
    "fetch.materialize_s": "s", "fetch.join_s": "s", "html.parse_pages_per_s": "1/s",
    "urls.links_resolved": "count", "urls.resolve_links_per_s": "1/s",
    "seen.filter_new_s": "s", "seen.bloom_maybe_frac": "fraction",
    "seen.bloom_false_pos_frac": "fraction", "seen.bloom_insert_s": "s",
    "politeness.select_s": "s", "politeness.deferred_rows": "count",
    "robots.gate_s": "s",
    "snapshots.commit_s": "s", "snapshots.bytes_written": "bytes",
    "exec.task_busy_core_s": "s", "exec.task_jvm_cpu_s": "s",
    "exec.python_wait_frac": "fraction", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s",
    "search.bm25_ms": "ms", "search.multifield_ms": "ms", "search.snippets_ms": "ms",
    "search.url_search_ms": "ms", "search.jobs_per_query": "count",
    "dedup.minhash_lsh_s": "s", "dedup.ngram_jaccard_s": "s", "dedup.simhash_s": "s",
    "dedup.embedding_s": "s", "similarity.ann_s": "s", "linkgraph.pagerank_s": "s",
    "linkgraph.components_s": "s", "linkgraph.triangles_s": "s", "corpus.clean_s": "s",
    "dedup.lsh_candidate_precision": "fraction",
    "trace.overhead_s": "s", "trace.overhead_frac": "fraction", "trace.spans": "count",
}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: Tracer, name: str, fn) -> float:
    with tracer.span(name) as s:
        fn()
    return s.end - s.start


def _install_spark_actions(tracer: Tracer) -> None:
    """Spans around the Spark actions the engine triggers, so a job can be
    told apart by the action that launched it (a parquet write or a
    checkpoint inside ``run_round`` is the fetch+parse materialization)."""
    tracer.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
    # the session's DataFrames are the classic subclass, which overrides
    # the actions of the base class
    for action in ("localCheckpoint", "count", "collect", "toPandas"):
        tracer.wrap(ClassicDataFrame, action, f"spark.{action}")


# -- crawl ---------------------------------------------------------------------


def _install_crawl(tracer: Tracer, captured: dict) -> None:
    tracer.wrap(C, "run_crawl", "plans.crawl.run_crawl")
    tracer.wrap(C, "run_round", "plans.crawl.run_round")
    tracer.wrap(C, "fetch_synthetic", "sources.fetch.fetch_synthetic")
    tracer.wrap(C, "parse_html_udf", "functions.html.parse_html_udf")
    tracer.wrap(U, "resolve_and_parse_udf", "functions.urls.resolve_and_parse_udf")
    tracer.wrap(politeness, "select_polite_batch", "operators.politeness.select_polite_batch")
    tracer.wrap(robots, "gate_on_robots", "operators.robots.gate_on_robots")
    for fn in ("filter_new", "bloom_maybe_seen", "build_bloom_shards"):
        tracer.wrap(seen, fn, f"operators.seen.{fn}")
    tracer.wrap(seen, "bloom_insert_driver", "operators.seen.bloom_insert_driver")
    insert = seen.bloom_insert_driver

    def keep_last(*args, **kwargs):
        # the filter the crawl carries into its next round
        captured["bloom"] = insert(*args, **kwargs)
        return captured["bloom"]

    tracer.patch(seen, "bloom_insert_driver", keep_last)


def _round_metrics(spans, jobs) -> dict:
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    crawl = by_name["plans.crawl.run_crawl"][-1]
    rounds = [s for s in by_name.get("plans.crawl.run_round", [])
              if crawl.start <= s.start <= crawl.end]
    nexts = [r.start for r in rounds[1:]] + [crawl.end]
    in_crawl = [j for j in jobs if crawl.start <= j.start <= crawl.end]
    round_ids = {r.span_id for r in rounds}
    materialize = [s for s in spans if s.parent in round_ids
                   and s.name in ("spark.write_parquet", "spark.localCheckpoint")]
    wall = crawl.end - crawl.start
    return {
        "crawl.rounds": len(rounds),
        "crawl.spark_jobs": len(in_crawl),
        "crawl.jobs_per_round": len(in_crawl) / max(len(rounds), 1),
        "crawl.seed_s": (rounds[0].start if rounds else crawl.end) - crawl.start,
        "crawl.round_compute_s": sum(r.end - r.start for r in rounds),
        "crawl.round_state_s": sum(n - r.end for r, n in zip(rounds, nexts)),
        "crawl.driver_gap_s": wall - covered_within(
            [(j.start, j.end) for j in in_crawl], crawl.start, crawl.end),
        "crawl.wall_s": wall,
        "fetch.materialize_s": sum(s.end - s.start for s in materialize),
        "seen.bloom_insert_s": sum(
            s.end - s.start for s in by_name.get("operators.seen.bloom_insert_driver", [])
            if crawl.start <= s.start <= crawl.end),
    }


def _under(spans, span_id: int | None, name: str) -> bool:
    """Whether ``span_id`` is a span named ``name`` or lies below one."""
    by_id = {s.span_id: s for s in spans}
    while span_id is not None:
        s = by_id.get(span_id)
        if s is None:
            return False
        if s.name == name:
            return True
        span_id = s.parent
    return False


def trace_problems(spans, jobs, measured_call_s: float | None = None,
                   slack_s: float = 0.05) -> list[str]:
    """What makes a traced run's figures untrustworthy:

    - a Spark job attributed to a span it does not lie within, or to a
      span the tracer never recorded (the local property leaked);
    - with a crawl: a job launched while ``run_crawl`` ran that is not
      attributed below it;
    - with a crawl: seed + round compute + round state time, taken from the
      spans, more than 5 % away from ``measured_call_s``, the wall of the
      same ``run_crawl`` call timed by the workload outside the tracer.
    """
    problems = []
    by_id = {s.span_id: s for s in spans}
    for j in jobs:
        if j.span is None:
            continue
        s = by_id.get(j.span)
        if s is None:
            problems.append(f"job {j.job_id} names span {j.span}, which was never recorded")
        elif j.start < s.start - slack_s or j.end > s.end + slack_s:
            problems.append(f"job {j.job_id} ran outside its span {s.name}")
    crawls = [s for s in spans if s.name == "plans.crawl.run_crawl"]
    if measured_call_s is not None and crawls:
        crawl = crawls[-1]
        stray = [j.job_id for j in jobs if crawl.start <= j.start <= crawl.end
                 and not _under(spans, j.span, "plans.crawl.run_crawl")]
        if stray:
            problems.append(f"jobs {stray[:5]} ran during the crawl outside its spans")
        rm = _round_metrics(spans, [])
        parts = rm["crawl.seed_s"] + rm["crawl.round_compute_s"] + rm["crawl.round_state_s"]
        if abs(parts - measured_call_s) > 0.05 * measured_call_s:
            problems.append(f"round spans cover {parts:.2f} s of a {measured_call_s:.2f} s crawl")
    return problems[:8]


def _crawl_isolated(wl, spark, tracer: Tracer, captured: dict, run_dir: str) -> dict:
    """Single layers timed alone over this crawl's own data.  Each input is
    materialized before its timer starts, so a timing covers one layer."""
    out = wl.last["out"]
    web = wl.web
    m: dict[str, float] = {}

    batch = C.seeds_to_frontier(spark, wl.jobs).persist()
    batch.count()
    m["fetch.join_s"] = _timed(tracer, "iso.fetch", lambda: _noop(
        fetch.classify_fetch(fetch.fetch_synthetic(batch, web))))
    rules = wl.robots
    m["robots.gate_s"] = _timed(tracer, "iso.robots", lambda: _noop(
        robots.gate_on_robots(batch, rules)))

    # round 0's pages: every fetched page of the seed batch
    fetched = out["frontier"].filter(F.col("status") == "fetched").select("url")
    pages = web.join(fetched, "url").select("url", "final_url", "html").persist()
    n_pages = pages.count()
    t = _timed(tracer, "iso.parse", lambda: _noop(
        pages.select(H.parse_html_udf(F.col("html")).alias("s"))))
    m["html.parse_pages_per_s"] = n_pages / t

    def link_stream(src: DataFrame) -> DataFrame:
        df = src.select(
            F.coalesce("final_url", "url").alias("base"),
            F.explode(H.links_view(H.parse_html_udf(F.col("html")))).alias("href"),
        ).persist()
        df.count()
        return df

    links = link_stream(pages)
    n_links = links.count()
    m["urls.links_resolved"] = n_links
    t = _timed(tracer, "iso.resolve", lambda: _noop(
        links.select(U.resolve_and_parse_udf(F.col("base"), F.col("href")).alias("r"))))
    m["urls.resolve_links_per_s"] = n_links / t

    # the next round's probe stream: links of the pages still pending
    pending = out["frontier"].filter(F.col("status") == "pending").select("url")
    nxt = web.join(pending, "url").filter(F.col("html").isNotNull()).select(
        "url", "final_url", "html")
    cand = (
        link_stream(nxt)
        .select(U.resolve_and_parse_udf(F.col("base"), F.col("href")).alias("r"))
        .select(F.col("r.canonical").alias("canonical_url"))
        .filter(F.col("canonical_url").startswith("http"))
        .withColumn("url_hash", F.xxhash64("canonical_url"))
        .persist()
    )
    n_cand = cand.count()
    seen_df = out["seen"].persist()
    seen_df.count()
    bloom = captured.get("bloom") or {}
    cfg = wl.cfg
    m["seen.filter_new_s"] = _timed(tracer, "iso.filter_new", lambda: _noop(
        seen.filter_new(cand, seen_df, bloom, cfg.bloom_shards, cfg.bloom_bits_per_shard)))
    flagged = seen.bloom_maybe_seen(spark, cand, bloom, cfg.bloom_shards,
                                    cfg.bloom_bits_per_shard)
    maybe = flagged.filter("maybe_seen")
    n_maybe = maybe.count()
    n_false = maybe.join(seen_df.select("url_hash"), "url_hash", "left_anti").count()
    m["seen.bloom_maybe_frac"] = n_maybe / max(n_cand, 1)
    m["seen.bloom_false_pos_frac"] = n_false / max(n_maybe, 1)

    # the crawl's own budget never binds; a budget that does shows the
    # window's deferral path
    retryable = out["frontier"].filter(F.col("status") == "pending").persist()
    retryable.count()
    window = politeness.select_polite_batch(
        retryable, ISO_POLITENESS_BUDGET, cfg.salt_buckets,
        order_cols=("depth", "url", "task_id"))
    m["politeness.select_s"] = _timed(tracer, "iso.politeness", lambda: _noop(window))
    m["politeness.deferred_rows"] = window.filter(~F.col("selected")).count()

    # the crawl has no store in its loop: commit its final state once
    root = os.path.join(run_dir, "iso-store")
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotStore(root, spark)
    m["snapshots.commit_s"] = _timed(tracer, "iso.commit", lambda: store.commit_round(
        0, {"frontier": (out["frontier"], "state"), "seen": (seen_df, "state")}))
    m["snapshots.bytes_written"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
    for df in (batch, pages, links, cand, seen_df, retryable):
        df.unpersist()
    return m


# -- search --------------------------------------------------------------------


def _search_isolated(wl, spark, tracer: Tracer, run_dir: str) -> dict:
    """The corpus jobs (dedup, similarity, link graph, corpus clean) timed
    alone over the search corpus, a seeded embedding table and a seeded
    link graph."""
    import __spark_entry__ as E

    docs = wl.docs.orderBy("doc_id").limit(400).persist()  # pair jobs are quadratic
    docs.count()
    m: dict[str, float] = {}
    m["dedup.minhash_lsh_s"] = _timed(tracer, "iso.minhash", lambda: _noop(
        dedup.minhash_lsh_candidates(docs, "doc_id", "text")))
    cands = dedup.minhash_lsh_candidates(docs, "doc_id", "text").persist()
    n_cands = cands.count()
    verified = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).persist()
    m["dedup.ngram_jaccard_s"] = _timed(tracer, "iso.ngram", lambda: verified.count())
    n_true = cands.join(verified.select("doc_a", "doc_b"), ["doc_a", "doc_b"]).count()
    m["dedup.lsh_candidate_precision"] = n_true / max(n_cands, 1)
    m["dedup.simhash_s"] = _timed(tracer, "iso.simhash", lambda: _noop(
        dedup.simhash_buckets(docs, "doc_id", "text")))

    rng = random.Random(wl.seed)
    dim = 16
    vecs = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(600)],
        "vec_id long, embedding array<double>",
    ).persist()
    vecs.count()
    m["dedup.embedding_s"] = _timed(tracer, "iso.embedding", lambda: _noop(
        dedup.embedding_near_dup_pairs(vecs, "vec_id", "embedding", 0.9)))
    q = [rng.gauss(0, 1) for _ in range(dim)]
    bucketed = similarity.sign_lsh_bucket(vecs, dim).persist()
    bucketed.count()
    m["similarity.ann_s"] = _timed(tracer, "iso.ann", lambda: (
        similarity.cosine_topk(vecs, q, 10).collect(),
        similarity.sign_lsh_topk(bucketed, q, 10).collect()))

    edges = spark.createDataFrame(gen.link_graph(800, 4, wl.seed), "src long, dst long").persist()
    edges.count()
    m["linkgraph.pagerank_s"] = _timed(tracer, "iso.pagerank", lambda: _noop(
        linkgraph.pagerank(edges, iterations=5)))
    m["linkgraph.components_s"] = _timed(tracer, "iso.components", lambda: _noop(
        linkgraph.connected_components(edges)))
    m["linkgraph.triangles_s"] = _timed(tracer, "iso.triangles", lambda: _noop(
        linkgraph.triangle_count(edges)))

    corpus_dir = os.path.join(run_dir, "corpus")
    docs.select(
        F.monotonically_increasing_id().alias("doc_id"), "text",
        F.lit("en").alias("lang"), F.lit("web").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(corpus_dir, "documents.parquet"))
    m["corpus.clean_s"] = _timed(tracer, "iso.corpus_clean", lambda: _noop(
        E.queries()["corpus_clean"](spark, corpus_dir)))
    for df in (docs, cands, verified, vecs, bucketed, edges):
        df.unpersist()
    return m


def _search_metrics(tracer: Tracer, jobs, e2e: dict) -> dict:
    queries = [s for s in tracer.spans if s.name == "search.query"]
    n_jobs = sum(1 for j in jobs if _under(tracer.spans, j.span, "search.query"))
    kinds = e2e["detail"]["per_kind_ms"]
    return {
        "search.bm25_ms": statistics.median(
            [kinds[k] for k in ("bm25_broad", "bm25_selective") if k in kinds]),
        "search.multifield_ms": kinds.get("multifield", 0.0),
        "search.snippets_ms": kinds.get("snippets", 0.0),
        "search.url_search_ms": kinds.get("url_search", 0.0),
        "search.jobs_per_query": n_jobs / max(len(queries), 1),
    }


# -- driver --------------------------------------------------------------------


def traced_run(wl, spark, seconds: float, run_dir: str, untraced: dict,
               log_dir: str) -> dict:
    """Measure ``wl`` again with tracing on, in the same event-logged
    session as the untraced measurement; returns the per-layer metrics
    (``{name: (value, unit)}``), the span file path and the problems found
    (see ``trace_problems``; an empty event log).  Stops the session so its event log is complete before
    reading it."""
    try:
        # the overhead baseline: an untraced pass right before the traced
        # one, so both run equally warm.  The measured crawl is the
        # session's first and pays plan compilation the later ones do not;
        # the search loop ran after its warm-up, so it is the baseline.
        if wl.kind == "crawl":
            untraced = wl.measure(spark, seconds)
        tracer = Tracer(f"{wl.name}-{wl.seed}-{os.getpid()}", spark.sparkContext)
        captured: dict = {}
        _install_spark_actions(tracer)
        if wl.kind == "crawl":
            _install_crawl(tracer, captured)
        else:
            tracer.wrap(wl, "run_query", "search.query")
            for fn in ("search_bm25", "search_multifield", "search_snippets", "url_search"):
                tracer.wrap(search, fn, f"operators.search.{fn}")
        try:
            e2e = wl.measure(spark, seconds)
            if wl.kind == "crawl":
                iso = _crawl_isolated(wl, spark, tracer, captured, run_dir)
            else:
                iso = _search_isolated(wl, spark, tracer, run_dir)
        finally:
            tracer.restore()
    finally:
        wl.teardown()
        spark.stop()
    jobs, stages = read_event_log(log_dir)
    problems: list[str] = []
    if not jobs:
        problems.append("the event log holds no jobs")
    metrics = {k: 0.0 for k in PER_LAYER}
    if wl.kind == "crawl":
        rm = _round_metrics(tracer.spans, jobs)
        wall = rm.pop("crawl.wall_s")
        metrics.update(rm)
        problems += trace_problems(tracer.spans, jobs, e2e["detail"]["last_crawl_call_s"])
        op_jobs = [j for j in jobs if _under(tracer.spans, j.span, "plans.crawl.run_crawl")]
        base = untraced["detail"]["crawl_wall_s"]
        traced_wall = e2e["detail"]["crawl_wall_s"]
    else:
        metrics.update(_search_metrics(tracer, jobs, e2e))
        op_jobs = [j for j in jobs if _under(tracer.spans, j.span, "search.query")]
        base = 1.0 / untraced["work_per_s"]
        traced_wall = 1.0 / e2e["work_per_s"]
        wall = None
        problems += trace_problems(tracer.spans, jobs)
    # executor totals over the measured operations' own jobs
    stage_ids = {sid for j in op_jobs for sid in j.stages}
    metrics.update(executor_totals({k: v for k, v in stages.items() if k in stage_ids}))
    metrics.update(iso)
    metrics["trace.overhead_s"] = traced_wall - base
    metrics["trace.overhead_frac"] = traced_wall / base - 1.0
    metrics["trace.spans"] = len(tracer.spans)
    span_file = os.path.join(run_dir, "spans.jsonl")
    tracer.dump(span_file)
    selfs = self_times(tracer.spans)
    top = sorted(((selfs[s.span_id], s.name) for s in tracer.spans), reverse=True)[:8]
    return {
        "metrics": {k: (float(metrics[k]), PER_LAYER[k]) for k in PER_LAYER},
        "span_file": span_file,
        "problems": problems,
        "traced_end_to_end": {"work_per_s": e2e["work_per_s"]},
        "crawl_wall_s": wall,
        "top_self_s": top,
        "spark": None,
    }
