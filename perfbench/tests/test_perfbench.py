"""The benchmark's own tests: metric names, the correctness checks (a
corrupted output must fail them), span arithmetic, and the reference crawl
against the repository's pure-Python oracle.  No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
from collections import Counter

import pytest

from distributed_web_crawling_and_indexing_system_gcp_spark.sources import webgen
from perfbench import gen, layers, reference
from perfbench.trace import Job, Span, Tracer, covered_within, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]), m


def test_per_layer_metrics_match_the_traced_run():
    listed = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert listed == layers.PER_LAYER


def test_end_to_end_bounds():
    b = _bench()
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


# -- correctness checks catch corrupted outputs ------------------------------

WEB_N, HOSTS = 120, 8
# h3 has no rules, so it is permissive
ROBOTS = {"h0.test": "User-agent: *\nAllow: /", "h1.test": "User-agent: *\nDisallow: /private/",
          "h2.test": "User-agent: *\nDisallow: /"}


def _small_web() -> dict[str, dict]:
    """webgen's URLs and pages, with one page of each fault kind."""
    web = {}
    for i in range(WEB_N):
        u = webgen.url_of(i, HOSTS)
        web[u] = {"url": u, "final_url": u, "status": 200, "content_type": "text/html",
                  "html": webgen._html_for(i, WEB_N, HOSTS)}
    for i, change in ((3, {"status": 500, "html": None}), (7, {"status": -1, "html": None}),
                      (11, {"content_type": "application/pdf", "html": None}),
                      (13, {"final_url": webgen.url_of(13, HOSTS) + "?canonical=1"})):
        web[webgen.url_of(i, HOSTS)].update(change)
    return web


def _small_crawl():
    web = _small_web()
    seeds = gen.seed_urls(WEB_N, 10, HOSTS, seed=3)
    return seeds, web, reference.crawl(seeds, web, ROBOTS, 2, 4, 3, 8)


def test_dropped_seen_url_fails_the_crawl_check():
    _, _, (seen, frontier) = _small_crawl()
    statuses = Counter(r["status"] for r in frontier)
    want = reference.crawl_summary(seen, statuses)
    assert reference.crawl_summary(set(seen), statuses) == want
    corrupted = set(seen)
    corrupted.discard(sorted(corrupted)[0])
    assert reference.crawl_summary(corrupted, statuses) != want


def test_changed_status_fails_the_crawl_check():
    _, _, (seen, frontier) = _small_crawl()
    statuses = Counter(r["status"] for r in frontier)
    moved = Counter(statuses)
    moved["fetched"] -= 1
    moved["failed"] += 1
    assert reference.crawl_summary(seen, moved) != reference.crawl_summary(seen, statuses)


def test_swapped_rank_fails_the_search_check():
    want = [("d1", 3.0), ("d2", 2.5), ("d3", 2.5), ("d4", 1.0)]
    assert reference.same_ranking(list(want), want)
    # equal scores may come back in either order
    assert reference.same_ranking([want[0], want[2], want[1], want[3]], want)
    assert not reference.same_ranking([want[1], want[0], want[2], want[3]], want)
    assert not reference.same_ranking([want[0], ("d9", 2.5), want[2], want[3]], want)
    assert not reference.same_ranking(want[:3], want)


def test_bm25_reference_matches_hand_computation():
    import math

    import pandas as pd

    docs = pd.DataFrame({"doc_id": ["a", "b"], "url": ["http://x/a", "http://x/b"],
                         "text": ["spark spark bloom", "bloom"]})
    post = reference.postings(docs, "text")
    got = reference.bm25_scores(post, ["spark"])
    n, df, dl, avgdl, tf = 2, 1, 3, 2.0, 2
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert list(got.index) == ["a"]
    assert got["a"] == pytest.approx(want)


# -- the reference crawl agrees with the repository's oracle ------------------


def test_reference_crawl_matches_repository_oracle():
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    oracle = pytest.importorskip("oracle")
    seeds, web, (seen, frontier) = _small_crawl()
    res = oracle.crawl_oracle(
        [{"task_id": "t", "seed_urls": seeds, "depth": 2, "domain_restriction": None}],
        web, ROBOTS, max_depth=2, budget=4, max_attempts=3, max_rounds=8,
    )
    assert seen == res.seen
    assert Counter(r["status"] for r in frontier) == Counter(
        r["status"] for r in res.frontier)


def test_generators_are_seeded():
    assert gen.seed_urls(500, 20, 8, 1) == gen.seed_urls(500, 20, 8, 1)
    assert gen.seed_urls(500, 20, 8, 1) != gen.seed_urls(500, 20, 8, 2)
    assert len(set(gen.seed_urls(500, 20, 8, 1))) == 20
    assert gen.query_mix(20, 500, 8, 4) == gen.query_mix(20, 500, 8, 4)
    assert gen.link_graph(50, 3, 9) == gen.link_graph(50, 3, 9)


# -- spans -------------------------------------------------------------------


def test_self_time_on_hand_built_tree():
    spans = [
        Span(1, "root", 0.0, 10.0, None, "t"),
        Span(2, "a", 1.0, 4.0, 1, "t"),
        Span(3, "b", 3.0, 6.0, 1, "t"),   # overlaps a: children cover [1, 6]
        Span(4, "a.x", 2.0, 3.0, 2, "t"),
        Span(5, "late", 9.0, 12.0, 1, "t"),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert covered_within([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)


def test_tracer_nests_spans_and_restores_patches():
    class Mod:
        @staticmethod
        def outer():
            return Mod.inner() + 1

        @staticmethod
        def inner():
            return 1

    ticks = iter(range(100))
    tr = Tracer("t", clock=lambda: float(next(ticks)))
    original = Mod.inner
    tr.wrap(Mod, "outer", "outer")
    tr.wrap(Mod, "inner", "inner")
    assert Mod.outer() == 2
    tr.restore()
    assert Mod.inner is original
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start < inner.start < inner.end < outer.end


CRAWL_SPANS = [
    Span(1, "plans.crawl.run_crawl", 0.0, 100.0, None, "t"),
    Span(2, "plans.crawl.run_round", 2.0, 40.0, 1, "t"),
    Span(3, "spark.write_parquet", 10.0, 30.0, 2, "t"),
    Span(4, "plans.crawl.run_round", 55.0, 80.0, 1, "t"),
]
CRAWL_JOBS = [Job(0, 1, 0.5, 1.5, [0]), Job(1, 3, 11.0, 29.0, [1]), Job(2, 4, 60.0, 70.0, [2])]


def test_round_metrics_on_hand_built_spans():
    m = layers._round_metrics(CRAWL_SPANS, CRAWL_JOBS)
    assert m["crawl.rounds"] == 2
    assert m["crawl.spark_jobs"] == 3
    assert m["fetch.materialize_s"] == pytest.approx(20.0)
    assert m["crawl.seed_s"] == pytest.approx(2.0)
    assert m["crawl.round_compute_s"] == pytest.approx(63.0)
    assert m["crawl.round_state_s"] == pytest.approx(35.0)
    assert m["crawl.driver_gap_s"] == pytest.approx(100.0 - 1.0 - 18.0 - 10.0)


def test_round_spans_tile_the_measured_crawl_wall():
    assert layers.trace_problems(CRAWL_SPANS, CRAWL_JOBS, measured_call_s=101.0) == []
    # the spans leave 20 s of the independently timed call uncovered
    gap = layers.trace_problems(CRAWL_SPANS, CRAWL_JOBS, measured_call_s=120.0)
    assert len(gap) == 1 and "round spans cover" in gap[0]


def test_misattributed_jobs_are_problems():
    outside = CRAWL_JOBS + [Job(3, 3, 35.0, 45.0, [3])]  # ends after its span
    assert any("outside its span" in p for p in layers.trace_problems(CRAWL_SPANS, outside))
    unknown = CRAWL_JOBS + [Job(3, 99, 35.0, 36.0, [3])]
    assert any("never recorded" in p for p in layers.trace_problems(CRAWL_SPANS, unknown))
    stray = CRAWL_JOBS + [Job(3, None, 45.0, 46.0, [3])]  # no span, inside the crawl
    assert layers.trace_problems(CRAWL_SPANS, stray) == []
    assert any("outside its spans" in p
               for p in layers.trace_problems(CRAWL_SPANS, stray, measured_call_s=100.0))
