"""The frontier bench jobs (voz_spark/bench_frontier.py) time the
engine's scheduling chain: at a small N their scheduled counts must
equal an independent count over the same synthetic inputs, the full
round's statuses must be the engine's, and no call may leave a
broadcast temp file behind."""

from __future__ import annotations

import os
from collections import Counter
from urllib.parse import urlsplit

import pytest

from voz_spark.bench_frontier import bench_frontier_schedule, bench_full_round
from voz_spark.frontier import RETRYABLE_STATUSES
from voz_spark.synth import robots_rules

N_URLS = 20_000
ROUND_BUDGET = 1_000  # binds on the dominant host only
ENGINE_STATUSES = {"ok", "gated", "robots", "bad_url", *RETRYABLE_STATUSES}


@pytest.fixture(scope="module")
def runs(spark):
    """Each bench call's result and the files it left in the driver's
    temp dir (where a broadcast keeps its value until destroyed)."""
    tmp = spark.sparkContext._temp_dir
    calls = {
        "schedule": lambda: bench_frontier_schedule(spark, n_urls=N_URLS),
        "round": lambda: bench_full_round(spark, n_urls=N_URLS, budget=ROUND_BUDGET),
    }
    out = {}
    for key, call in calls.items():
        before = set(os.listdir(tmp))
        result = call()
        out[key] = (result, set(os.listdir(tmp)) - before)
    return out


@pytest.fixture(scope="module")
def unseen_allowed_per_host(spark):
    """Per host: distinct robots-allowed frontier URLs not in the
    preloaded seen set, counted in Python from the bench's inputs."""
    from voz_spark.bench_frontier import bench_inputs

    frontier, seen = bench_inputs(spark, N_URLS, parts=4)
    seen_urls = {r.canon_url for r in seen.collect()}
    disallowed = [(r["host"], r["path_prefix"]) for r in robots_rules() if not r["allowed"]]
    per_host = Counter()
    for url in {r.url for r in frontier.select("url").collect()}:
        parts = urlsplit(url)
        blocked = any(
            parts.hostname == h and parts.path.startswith(p) for h, p in disallowed
        )
        if url not in seen_urls and not blocked:
            per_host[parts.hostname] += 1
    return per_host


def test_schedule_bench_counts_match_independent_count(runs, unseen_allowed_per_host):
    budget = min(25_000, N_URLS)  # bench_frontier_schedule's per-host budget
    expected = sum(min(budget, n) for n in unseen_allowed_per_host.values())
    result = runs["schedule"][0]
    assert result["n_scheduled"] == expected
    assert result["n_seen_preloaded"] > 0


def test_round_bench_validates_every_scheduled_url(runs, unseen_allowed_per_host):
    assert max(unseen_allowed_per_host.values()) > ROUND_BUDGET  # the budget binds
    expected = sum(min(ROUND_BUDGET, n) for n in unseen_allowed_per_host.values())
    counts = runs["round"][0]["fetch_status"]
    assert sum(counts.values()) == runs["round"][0]["n_fetched_validated"] == expected
    assert set(counts) <= ENGINE_STATUSES, counts
    # the engine's size gate runs before decode
    assert counts.get("ok", 0) > 0 and counts.get("gated", 0) > 0, counts


def test_bench_calls_leave_no_broadcast_temp_file(runs):
    assert {key: sorted(new) for key, (_, new) in runs.items() if new} == {}
