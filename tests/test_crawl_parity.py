"""End-to-end crawl parity vs the single-process oracle (SURVEY.md §5.2):

(a) final URL-seen set equality,
(b) crawl ordering equality (depth-major, deterministic tie-break,
    per-host politeness budget per round),
(c) per-row span-sequence equality on extracted documents —
    (kind, text, media_ref, order) per BASELINE.json input_hint,
(d) final frontier status distribution equality.
"""

from __future__ import annotations

import pytest

from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
    CrawlConfig,
    run_crawl,
)
from tests.oracle import crawl_oracle

CFG = CrawlConfig(
    max_depth=3,
    politeness_budget=6,
    salt_buckets=4,
    max_attempts=2,
    bloom_shards=8,
    bloom_bits_per_shard=1 << 16,
    max_rounds=32,
)


@pytest.fixture(scope="module")
def engine_result(spark, web_fixture):
    return run_crawl(
        spark,
        web_fixture["seed_jobs"],
        web_fixture["web_pages"],
        web_fixture["robots_src"],
        CFG,
    )


@pytest.fixture(scope="module")
def oracle_result(web_fixture):
    return crawl_oracle(
        web_fixture["seed_rows"],
        web_fixture["web_rows"],
        web_fixture["robots_rows"],
        max_depth=CFG.max_depth,
        budget=CFG.politeness_budget,
        max_attempts=CFG.max_attempts,
        max_rounds=CFG.max_rounds,
    )


def test_seen_set_equality(engine_result, oracle_result):
    engine_seen = {r["url"] for r in engine_result["seen"].collect()}
    assert engine_seen == oracle_result.seen
    assert len(engine_seen) > 40  # the crawl actually expanded


def test_crawl_order_equality(engine_result, oracle_result):
    rows = engine_result["frontier"].filter("status = 'fetched'").collect()
    engine_order = sorted(
        (r["round_processed"], r["depth"], r["canonical_url"]) for r in rows
    )
    assert engine_order == sorted(oracle_result.fetch_order)


def test_status_distribution_equality(engine_result, oracle_result):
    rows = engine_result["frontier"].collect()
    engine_rows = sorted(
        (r["canonical_url"], r["task_id"], r["depth"], r["status"])
        for r in rows
    )
    oracle_rows = sorted(
        (r["canonical"], r["task_id"], r["depth"], r["status"])
        for r in oracle_result.frontier
    )
    assert engine_rows == oracle_rows


def test_span_sequence_equality(engine_result, oracle_result):
    engine_docs = {
        r["canonical_url"]: r
        for r in engine_result["documents"].collect()
    }
    oracle_docs = {d["canonical_url"]: d for d in oracle_result.documents}
    assert set(engine_docs) == set(oracle_docs)
    for canon, od in oracle_docs.items():
        ed = engine_docs[canon]
        got = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in ed["spans"]
        ]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in od["spans"]
        ]
        assert got == want, canon
        assert ed["text"] == od["text"]
        assert ed["doc_id"] == od["doc_id"]
        assert ed["depth"] == od["depth"]
        assert ed["round"] == od["round"]


def test_document_html_equality(engine_result, oracle_result):
    """The narrow round state drops ``html`` from the fetched parquet and
    re-attaches it to the documents sink with a lazy join keyed by the
    request URL — this pins that the re-attached bodies are the exact
    fixture bodies (and non-null) for every extracted document."""
    engine_docs = {
        r["canonical_url"]: r["html"]
        for r in engine_result["documents"].collect()
    }
    oracle_docs = {d["canonical_url"]: d["html"] for d in oracle_result.documents}
    assert set(engine_docs) == set(oracle_docs)
    for canon, want_html in oracle_docs.items():
        assert engine_docs[canon] == want_html, canon
        assert engine_docs[canon] is not None


def test_politeness_budget_respected(engine_result):
    """No host exceeds the per-round budget among processed rows."""
    from pyspark.sql import functions as F

    per = (
        engine_result["frontier"]
        .filter("round_processed is not null and status in ('fetched','timeout','skipped_non_html','failed','skipped_robots','skipped_seen')")
        .groupBy("host", "round_processed")
        .count()
    )
    assert per.filter(F.col("count") > CFG.politeness_budget).count() == 0


def test_no_duplicate_canonicals_in_seen(engine_result):
    seen = engine_result["seen"]
    assert seen.count() == seen.select("url_hash").distinct().count()


def test_paced_batches():
    """Pacing iterator of the production fetcher: rows released ≥
    min_interval apart, batching preserved, no wall-clock dependence."""
    import pandas as pd

    from distributed_web_crawling_and_indexing_system_gcp_spark.sources.fetch import (
        iter_paced_batches,
    )

    pdf = pd.DataFrame({"url": [f"http://h.test/{i}" for i in range(7)]})
    clock_t = [0.0]
    sleeps: list[float] = []

    def clock():
        return clock_t[0]

    def sleep(s):
        sleeps.append(s)
        clock_t[0] += s

    batches = list(
        iter_paced_batches(pdf, max_batch=3, min_interval_s=1.0,
                           sleep=sleep, clock=clock)
    )
    # batching: 3 + 3 + 1, original order preserved
    assert [len(b) for b in batches] == [3, 3, 1]
    assert [u for b in batches for u in b["url"]] == list(pdf["url"])
    # first row free, every subsequent row waited 1 s
    assert len(sleeps) == 6
    assert all(abs(s - 1.0) < 1e-9 for s in sleeps)
    assert clock_t[0] == 6.0


def test_validate_seed_jobs(spark):
    """Ingest guards (F9): bad jobs routed with reasons, null depth repaired."""
    from distributed_web_crawling_and_indexing_system_gcp_spark.plans.crawl import (
        validate_seed_jobs,
    )

    jobs = spark.createDataFrame(
        [
            ("ok", ["http://a.test/"], 2, None),
            (None, ["http://b.test/"], 2, None),       # missing task_id
            ("  ", ["http://c.test/"], 2, None),       # blank task_id
            ("empty", [], 2, None),                    # no seeds
            ("neg", ["http://d.test/"], -1, None),     # invalid depth
            ("nodepth", ["http://e.test/"], None, None),  # null depth → 3
        ],
        "task_id string, seed_urls array<string>, depth int, domain_restriction string",
    )
    valid, rejected = validate_seed_jobs(jobs)
    v = {r["task_id"]: r["depth"] for r in valid.collect()}
    assert v == {"ok": 2, "nodepth": 3}
    reasons = {r["task_id"]: r["reject_reason"] for r in rejected.collect()}
    assert reasons[None] == "missing_task_id"
    assert reasons["  "] == "missing_task_id"
    assert reasons["empty"] == "empty_seed_set"
    assert reasons["neg"] == "invalid_depth"


def test_stale_extra_toggle_fails_before_any_job(spark, web_fixture):
    """A leftover toggle in ``CrawlConfig.extra`` raises, naming the key,
    before run_crawl launches a single Spark job — it is never silently
    ignored."""
    cfg = CrawlConfig(**{**CFG.__dict__, "extra": {"lazy_parse": False}})
    sc = spark.sparkContext
    group = "stale-extra-toggle"
    sc.setJobGroup(group, "stale extra toggle")
    try:
        with pytest.raises(ValueError, match="lazy_parse"):
            run_crawl(
                spark,
                web_fixture["seed_jobs"],
                web_fixture["web_pages"],
                web_fixture["robots_src"],
                cfg,
            )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # control: a job launched here IS attributed to the group
        spark.range(1).count()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
