"""North-rule correctness gate (SURVEY §5.2 item 1): the distributed
engine must reproduce the sequential reference semantics exactly —
crawl ordering, final URL-seen set, per-URL fetch status — plus the
per-row image invariants (PSNR ≥ 40 dB lossy / exact lossless decode,
caption equality)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from voz_spark.oracle_sim import simulate
from voz_spark.rounds import CrawlEngine

N_SEEDS, N_IMAGES = 10, 400


@pytest.fixture(scope="module")
def crawl(spark):
    wd = tempfile.mkdtemp(prefix="crawl-order-")
    eng = CrawlEngine(spark, wd, n_seeds=N_SEEDS, n_images=N_IMAGES)
    eng.run()
    sim = simulate(n_seeds=N_SEEDS, n_images=N_IMAGES)
    return eng, sim


def test_schedule_order_matches_reference(crawl):
    eng, sim = crawl
    assert eng.schedule_order() == sim.schedule


def test_seen_set_matches_reference(crawl):
    eng, sim = crawl
    got = {r.canon_url for r in eng.seen().collect()}
    assert got == sim.seen


def test_fetch_status_parity(crawl):
    eng, sim = crawl
    got = {(r.round_id, r.canon_url): r.status for r in eng.results().collect()}
    exp = {(r["round_id"], r["canon_url"]): r["status"] for r in sim.results}
    assert got == exp


def test_crawl_ran_on_seen_index(crawl):
    """The three parity checks above hold on the engine's one seen
    store: the rounds anti-joined against the bucketed seen index, whose
    marker lists the committed seen files the last round started from."""
    eng, _ = crawl
    synced = eng.seen_idx._synced_files()
    assert synced and set(synced) <= set(eng.cat.manifest()["tables"]["seen"])


def test_image_validation_invariants(crawl):
    """input_hint: decoded-pixel allclose (PSNR=inf for png),
    PSNR ≥ 40 dB for lossy, exact caption equality on every ok row."""
    eng, _ = crawl
    ok_imgs = eng.results().where(
        (F.col("kind") == "image") & (F.col("status") == "ok")
    ).collect()
    assert len(ok_imgs) > 0
    for r in ok_imgs:
        assert r.caption_ok is True
        assert r.psnr_db is not None and r.psnr_db >= 40.0


def test_no_url_scheduled_twice_except_retries(crawl):
    """B8 invariant: a URL re-enters the schedule ONLY via the retry
    loop — per canon_url at most cfg.max_retries attempts, at most one
    non-retryable (terminal) outcome, and every extra attempt is
    explained by a preceding retryable failure."""
    from voz_spark.frontier import RETRYABLE_STATUSES

    eng, _ = crawl
    agg = (
        eng.results()
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("status").isin(list(RETRYABLE_STATUSES)), 1).otherwise(0)
            ).alias("n_fail"),
        )
    )
    assert agg.where(F.col("n") > eng.cfg.max_retries).count() == 0
    assert agg.where((F.col("n") - F.col("n_fail")) > 1).count() == 0


def test_transient_failure_is_retried_and_succeeds(crawl):
    """A12/B8: a transiently flaked image (fetch_error on attempt 0)
    is re-scheduled in a later round and succeeds; deterministically
    missing images exhaust max_retries and land in fetch_failures."""
    eng, sim = crawl
    per_url = {}
    for r in eng.results().orderBy("round_id").collect():
        per_url.setdefault(r.canon_url, []).append((r.round_id, r.status))
    flaked = {
        u: v for u, v in per_url.items() if any(s == "fetch_error" for _, s in v)
    }
    assert flaked, "fixture produced no transient failures — enlarge the world"
    recovered = [v for v in flaked.values() if v[-1][1] in ("ok", "gated")]
    assert recovered, "no flaked URL ever recovered on retry"
    for attempts in flaked.values():
        rounds = [rid for rid, _ in attempts]
        assert rounds == sorted(rounds) and len(set(rounds)) == len(rounds)

    # permanent failures: retried max_retries times, then sunk
    fails = eng.fetch_failures().collect()
    assert fails, "fixture produced no permanent failures"
    for r in fails:
        assert r.attempt == eng.cfg.max_retries
        assert len(per_url[r.canon_url]) == eng.cfg.max_retries
    # the sink holds exactly the URLs whose final status is retryable
    from voz_spark.frontier import RETRYABLE_STATUSES

    exp_failed = {u for u, v in per_url.items() if v[-1][1] in RETRYABLE_STATUSES}
    assert {r.canon_url for r in fails} == exp_failed


def test_politeness_budget_derived_from_interval(crawl):
    """B4 pacing: per-host budgets derive from min_interval_ms ×
    round window; hosts with different intervals get different
    budgets, and no host ever exceeds its derived budget in a round."""
    from voz_spark import synth

    eng, _ = crawl
    rows = synth.host_budgets(eng.cfg.default_host_budget, eng.cfg.round_window_ms)
    by_host = {r["host"]: r for r in rows}
    for r in rows:
        assert r["max_fetches_per_round"] == synth.budget_from_interval(
            r["min_interval_ms"], eng.cfg.round_window_ms
        )
    # two hosts with different intervals → different per-round budgets
    assert by_host["voz.test"]["min_interval_ms"] != rows[1]["min_interval_ms"]
    assert (
        by_host["voz.test"]["max_fetches_per_round"]
        != rows[1]["max_fetches_per_round"]
    )
    counts = (
        eng.results()
        .where(F.col("status") != "robots")
        .groupBy("round_id", "host")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in counts:
        budget = eng.budgets.get(r.host, eng.cfg.default_host_budget)
        assert r.n <= budget, f"host {r.host} exceeded budget in round {r.round_id}"


def test_lineage_funnel_recorded(crawl):
    eng, _ = crawl
    funnel = eng.lineage().where(F.col("partition_id") == -1)
    assert funnel.count() == len({r for r, _ in eng.schedule_order()})
    row = funnel.orderBy("round_id").first()
    assert row.n_candidates > 0 and row.n_scheduled > 0


def test_lineage_partition_rows_sum_to_funnel(crawl):
    """B13: per-partition lineage rows carry every funnel counter,
    and their per-round sums equal the funnel row exactly."""
    eng, _ = crawl
    counters = [
        "n_candidates",
        "n_bloom_new",
        "n_deduped",
        "n_robots_blocked",
        "n_scheduled",
        "n_fetched",
        "n_failed",
    ]
    parts = (
        eng.lineage()
        .where(F.col("partition_id") >= 0)
        .groupBy("round_id")
        .agg(*[F.sum(c).alias(c) for c in counters])
        .collect()
    )
    funnel = {
        r.round_id: r
        for r in eng.lineage().where(F.col("partition_id") == -1).collect()
    }
    assert parts, "no per-partition lineage rows"
    for p in parts:
        f = funnel[p.round_id]
        for c in counters:
            assert getattr(p, c) == getattr(f, c), (p.round_id, c)


def test_checkpoints_advance(crawl):
    eng, _ = crawl
    rounds = [r.round_id for r in eng.checkpoints().orderBy("round_id").collect()]
    assert rounds == list(range(1, len(rounds) + 1))


def test_round_counts_match_committed_state(spark):
    """Every count a round reports is the committed truth: at each
    round's version the checkpoint's n_frontier and n_seen_total equal
    that version's frontier and seen row counts, and the dict run_round
    returns equals the round's lineage funnel row."""
    from voz_spark import schemas

    eng = CrawlEngine(spark, tempfile.mkdtemp(prefix="crawl-counts-"), n_seeds=5, n_images=150)
    stats = {st["round_id"]: st for st in eng.run()}
    assert len(stats) >= 3
    cat = eng.cat
    round_of = {v: cat.manifest(v)["meta"]["round_id"] for v in range(1, cat.latest_version() + 1)}
    versions = [v for v, r in round_of.items() if r > 0]
    assert len(versions) == len(stats)

    def read(table, schema, v):
        return cat.read(spark, table, schema, version=v)

    for v in versions:
        r = round_of[v]
        (ck,) = read("checkpoints", schemas.CHECKPOINTS, v).where(F.col("round_id") == r).collect()
        assert ck.n_frontier == read("frontier", schemas.FRONTIER, v).count(), r
        assert ck.n_seen_total == read("seen", schemas.SEEN, v).count(), r
        assert stats[r]["n_next_frontier"] == ck.n_frontier
    funnel = {f.round_id: f for f in eng.lineage().where(F.col("partition_id") == -1).collect()}
    for r, st in stats.items():
        f = funnel[r]
        assert st == {
            "round_id": r,
            "n_candidates": f.n_candidates,
            "n_new": f.n_bloom_new,
            "n_robots_blocked": f.n_robots_blocked,
            "n_scheduled": f.n_scheduled,
            "n_fetched_ok": f.n_fetched,
            "n_failed": f.n_failed,
            "n_next_frontier": st["n_next_frontier"],
        }, r
        assert f.n_deduped == f.n_bloom_new


# Spark jobs of one steady-state round of the 5-seed crawl below
# (round 3: no fold, no bloom base build): the lineage collect (one job
# per AQE query stage) plus one job per commit write
ROUND_JOB_CAP = 33


def test_round_spark_jobs_are_capped(spark):
    """Plan shape of a whole round, counted through a status-tracker
    job group: at most ROUND_JOB_CAP jobs, and the seen write is a
    single job (a union of cached frames, no join to plan at runtime)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    eng = CrawlEngine(spark, tempfile.mkdtemp(prefix="crawl-jobs-"), n_seeds=5, n_images=150)
    eng.run(max_rounds=2)
    write_files = eng.cat.write_files

    def grouped_write(df, table):
        sc.setJobGroup(f"jobcap-write-{table}", table)
        try:
            return write_files(df, table)
        finally:
            sc.setJobGroup("jobcap-round", "round")

    eng.cat.write_files = grouped_write
    sc.setJobGroup("jobcap-round", "round")
    try:
        eng.run_round()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    writes = {
        t: len(tracker.getJobIdsForGroup(f"jobcap-write-{t}"))
        for t in ("seen", "results", "frontier", "fetch_failures")
    }
    total = len(tracker.getJobIdsForGroup("jobcap-round")) + sum(writes.values())
    assert writes["seen"] == 1, writes
    assert total <= ROUND_JOB_CAP, (total, writes)


def test_round_leaves_no_broadcast_temp_file(spark):
    """A driver broadcast stays in a temp file until destroyed: a
    round with bloom state (broadcast membership) must destroy its
    broadcasts, or every round leaks the state's size on disk."""
    import os

    eng = CrawlEngine(spark, tempfile.mkdtemp(prefix="crawl-bcast-"), n_seeds=5, n_images=150)
    eng.bootstrap()
    eng.run_round()  # round 1 has no bloom state, hence no broadcast
    tmp = spark.sparkContext._temp_dir
    before = set(os.listdir(tmp))
    eng.run_round()
    assert set(os.listdir(tmp)) - before == set()


def test_thread_limit_and_sticky_parity(spark):
    """A1 LIMIT + B7 sticky filter must match the simulator too."""
    wd = tempfile.mkdtemp(prefix="crawl-limit-")
    eng = CrawlEngine(spark, wd, n_seeds=40, n_images=200, thread_limit=6)
    eng.run()
    sim = simulate(n_seeds=40, n_images=200, thread_limit=6)
    assert eng.schedule_order() == sim.schedule
    assert {r.canon_url for r in eng.seen().collect()} == sim.seen
