"""Golden conformance: the Spark engine must reproduce the
reference-semantics simulator EXACTLY — crawl order, fetch waves, final
seen-set bloom blobs (bit-for-bit), and per-wave budgets (SURVEY.md §5.1).
"""

import shutil
import tempfile

import pytest

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.operators.frontier import seeds_to_frontier
from fundcrawler_spark.plans.simulator import simulate
from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
from fundcrawler_spark.schemas import SEEDS_SCHEMA


@pytest.fixture(scope="module")
def crawl_pair(spark):
    seeds = spark.createDataFrame(fx.seed_rows(10), SEEDS_SCHEMA)
    wd = tempfile.mkdtemp(prefix="golden_")
    # verify_host_counts: every wave cross-checks the driver's
    # incremental per-host frontier counts against a full groupBy
    cfg = CrawlConfig(fail_rate=0.1, max_fail_attempts=1, max_waves=30, n_shards=8,
                      verify_host_counts=True)
    c = Crawler(spark, wd, cfg)
    stats = c.run(seeds=seeds, log=lambda *a: None)
    rows = [r.asDict() for r in seeds_to_frontier(seeds).collect()]
    sim = simulate(rows, fail_rate=0.1, max_fail_attempts=1, max_waves=30, n_shards=8)
    yield spark, c, stats, sim, wd
    shutil.rmtree(wd)


def test_pages_and_waves_match(crawl_pair):
    spark, c, stats, sim, wd = crawl_pair
    assert stats["pages_fetched"] == len(sim["order"])
    assert stats["waves"] == sim["waves"]


def test_crawl_order_matches(crawl_pair):
    spark, c, stats, sim, wd = crawl_pair
    pages = c.pages.read(spark)
    eng = {r["url_hash"]: (r["fetch_order"], r["wave"]) for r in pages.collect()}
    sim_last = {}
    for o, h, w in sim["order"]:
        sim_last[h] = (o, w)  # success is always a url's last attempt
    for h, ow in eng.items():
        assert sim_last[h] == ow, h
    assert set(eng) == sim["seen"]


def test_seen_bloom_blobs_bit_for_bit(crawl_pair):
    spark, c, stats, sim, wd = crawl_pair
    seen = spark.read.parquet(f"{wd}/checkpoints/wave={stats['waves']-1:05d}/seen")
    eng = {r["shard_id"]: bytes(r["blob"]) for r in seen.collect()}
    assert set(eng) == set(sim["bloom_blobs"])
    for sid, blob in sim["bloom_blobs"].items():
        assert eng[sid] == blob, f"shard {sid} diverged"


def test_split_frontier_with_forced_refills_matches_simulator(spark):
    """The active/backlog split must be admission-invisible: with
    active_slice_waves=1 (slice = one wave's max budget, forcing a
    refill on essentially every wave) and failures in play, the crawl
    order, wave count, and final seen set must still match the
    reference-semantics simulator bit-for-bit, and the incremental
    count cross-check runs every wave."""
    seeds = spark.createDataFrame(fx.seed_rows(120), SEEDS_SCHEMA)
    waves = []
    cfg = CrawlConfig(fail_rate=0.07, max_fail_attempts=1, max_waves=40,
                      n_shards=8, max_budget=40, active_slice_waves=1,
                      checkpoint_every=3, verify_host_counts=True,
                      wave_hook=waves.append)
    wd = tempfile.mkdtemp(prefix="split_")
    try:
        c = Crawler(spark, wd, cfg)
        stats = c.run(seeds=seeds, log=lambda *a: None)
        rows = [r.asDict() for r in seeds_to_frontier(seeds).collect()]
        sim = simulate(rows, fail_rate=0.07, max_fail_attempts=1,
                       max_waves=40, max_budget=40, n_shards=8)
        assert stats["pages_fetched"] == len(sim["order"])
        assert stats["waves"] == sim["waves"]
        pages = c.pages.read(spark)
        eng = {r["url_hash"]: (r["fetch_order"], r["wave"]) for r in pages.collect()}
        sim_last = {}
        for o, h, w in sim["order"]:
            sim_last[h] = (o, w)
        assert eng == {h: sim_last[h] for h in eng}
        assert set(eng) == sim["seen"]

        # wave_hook contract: the keys perfbench and bench_extra.py read,
        # and phase times that add up to the wave time
        assert [w["wave"] for w in waves] == list(range(stats["waves"]))
        assert any(w["durable_ckpt"] for w in waves)
        assert any(not w["durable_ckpt"] for w in waves)
        for w in waves:
            assert {"wave", "wave_sec", "durable_ckpt", "refilled_hosts",
                    "fetch_agg_sec", "discover_sec", "checkpoint_sec"} <= set(w)
            if w["durable_ckpt"]:
                assert {"ckpt_flush_sec", "ckpt_write_sec"} <= set(w)
            phases = (w["refill_sec"] + w["fetch_agg_sec"]
                      + w["discover_sec"] + w["checkpoint_sec"])
            assert abs(phases - w["wave_sec"]) <= 0.01, w
    finally:
        shutil.rmtree(wd)


def test_fetch_log_lineage_written(crawl_pair):
    spark, c, stats, sim, wd = crawl_pair
    log = c.fetch_log.read(spark)
    assert log is not None
    n = log.count()
    assert n > 0
    cols = set(log.columns)
    assert {"wave", "host", "n_admitted", "n_success", "n_fail", "partition_id"} <= cols
    total = log.groupBy().sum("n_admitted").first()[0]
    assert total == stats["pages_fetched"]


def test_fetch_log_telemetry_recorded(crawl_pair):
    """AIMD telemetry must be real values, not NULLs: the reference's
    analyse mode records (fail_rate, tasks_num, threshold) per update
    (rate_control.py:42-47) and this engine persists the same triple
    into fetch_log plus the wave wall time."""
    from pyspark.sql import functions as F

    from fundcrawler_spark.plans.rate_control import analyze_rate_log

    spark, c, stats, sim, wd = crawl_pair
    log = c.fetch_log.read(spark)
    bad = log.filter(
        F.col("fail_rate_w10").isNull() | F.col("budget").isNull()
        | F.col("threshold").isNull() | F.col("wall_ms").isNull()
    ).count()
    assert bad == 0
    rng = log.agg(
        F.min("fail_rate_w10"), F.max("fail_rate_w10"),
        F.min("budget"), F.min("threshold"), F.min("wall_ms"),
    ).first()
    assert 0.0 <= rng[0] and rng[1] <= 1.0    # fail rate is a rate
    assert rng[2] >= 0.0 and rng[3] > 0.0     # budget/threshold sane
    assert rng[4] > 0.0                        # wall time measured
    # with fail injection on, some wave must observe a non-zero rate
    assert log.filter(F.col("fail_rate_w10") > 0).count() > 0
    # the analysis job runs over the real log: one row per (host, wave)
    series = analyze_rate_log(log)
    assert series.count() == log.select("host", "wave").distinct().count()
