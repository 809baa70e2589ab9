"""Bucketed seen-index (voz_spark/seen_index.py), the engine's only seen
store: its physical plan has no seen-side exchange, it follows the
catalog through appends, reopen and session restarts, and an index
written under another bucket count is rebuilt, never misread. The
crawl semantics on the index are pinned against the sequential
simulator in tests/test_frontier_order.py.

Reference parity target: the same crawled-set membership the reference
checks per thread against its cache dir (src/thread_crawler.py:46-59).
"""

from __future__ import annotations

import json
import os
import re
import tempfile
from collections import Counter

from pyspark.sql import functions as F

from voz_spark.config import CrawlConfig
from voz_spark.rounds import CrawlEngine
from voz_spark.seen_index import N_BUCKETS, BucketedSeenIndex


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _run(spark, cfg, workdir=None, rounds=None):
    eng = CrawlEngine(
        spark,
        workdir or tempfile.mkdtemp(prefix="seenidx-"),
        n_seeds=5,
        n_images=150,
        cfg=cfg,
    )
    eng.run(max_rounds=rounds)
    seen = sorted(r.canon_url for r in eng.seen().collect())
    return eng, seen


def test_anti_join_plan_has_no_seen_side_exchange(spark):
    """The point of the index: with broadcast disabled (the 10^10-state
    regime — seen never fits a broadcast), the left-anti plan reads the
    bucketed seen scan in place. Exactly ONE exchange total (the small
    candidate side), and the scan is bucketed."""
    eng, _ = _run(spark, CrawlConfig(), rounds=2)
    idx_df = eng.seen_idx.sync(eng.cat)
    cand = (
        spark.range(500)
        .select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.concat(F.lit("https://x/"), F.col("id")).alias("canon_url"),
        )
    )
    with _no_broadcast(spark):
        anti = cand.join(
            idx_df.select("url_hash", "canon_url"),
            ["url_hash", "canon_url"],
            "left_anti",
        )
        plan = _formatted_plan(anti)
    assert "Bucketed: true" in plan, plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan


class _no_broadcast:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *a):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.prev)


def test_reopen_triggers_index_rebuild(spark):
    """CrawlEngine.reopen REPLACES seen wholesale; the derived index
    must detect the non-append change and rebuild from the new seen
    files, and the recrawl must fetch each reopened URL exactly once
    and end on the seen set it started from."""
    eng, seen_before = _run(spark, CrawlConfig())
    reopen_round = eng.last_round()
    # URLs fetched ok on their only attempt: a refetch succeeds again
    ok_once = (
        eng.results()
        .groupBy("canon_url")
        .agg(F.count(F.lit(1)).alias("n"), F.max("status").alias("status"))
        .where((F.col("n") == 1) & (F.col("status") == "ok"))
    )
    targets = sorted(r.canon_url for r in ok_once.orderBy("canon_url").limit(3).collect())
    assert len(targets) == 3
    files_before = set(eng.cat.manifest()["tables"]["seen"])
    eng.reopen(eng.spark.createDataFrame([(u,) for u in targets], "canon_url string"))
    files_reopened = set(eng.cat.manifest()["tables"]["seen"])
    eng.run()

    refetched = Counter(
        r.canon_url for r in eng.results().where(F.col("round_id") > reopen_round).collect()
    )
    assert refetched == Counter(targets)
    assert sorted(r.canon_url for r in eng.seen().collect()) == seen_before
    synced = set(eng.seen_idx._synced_files())
    assert files_reopened <= synced
    assert not synced & files_before


def test_index_reregisters_after_catalog_loss(spark):
    """A session restart empties the in-memory metastore; sync() must
    re-register the table over its on-disk bucketed files and return
    the full content."""
    eng, seen = _run(spark, CrawlConfig(), rounds=2)
    n = eng.seen().count()
    assert n > 0
    spark.sql(f"DROP TABLE IF EXISTS {eng.seen_idx.table}")  # simulate restart
    df = eng.seen_idx.sync(eng.cat)
    assert df.count() == n
    assert sorted(r.canon_url for r in df.collect()) == sorted(
        r.canon_url for r in eng.seen().select("canon_url").collect()
    )
    plan = _formatted_plan(df)
    assert "Bucketed: true" in plan or "bucketed" in plan.lower()


def test_index_appends_only_delta_files(spark):
    """Steady state pays O(new rows): after round k the marker lists
    exactly the catalog's seen files, and a subsequent sync with no new
    commit appends nothing (file set in the index dir is unchanged)."""
    eng, _ = _run(spark, CrawlConfig(), rounds=2)
    # sync runs at the START of a round, so the final round's delta is
    # absorbed by this first explicit sync; the second must be a no-op
    eng.seen_idx.sync(eng.cat)
    files_before = sorted(os.listdir(eng.seen_idx.path))
    eng.seen_idx.sync(eng.cat)
    assert sorted(os.listdir(eng.seen_idx.path)) == files_before
    synced = eng.seen_idx._synced_files()
    assert sorted(synced) == sorted(eng.cat.manifest()["tables"]["seen"])


def test_index_rebuilt_under_another_bucket_count(spark):
    """An index written at 8 buckets and resumed (metastore lost) at
    N_BUCKETS must not register N_BUCKETS-bucket DDL over 8-bucket
    files — candidates would hash to the wrong buckets and the exact
    backstop would miss seen URLs. The marker records the count, and a
    mismatch rebuilds."""
    eng, _ = _run(spark, CrawlConfig(), rounds=2)
    wd = eng.cat.root
    old = BucketedSeenIndex(spark, wd, 8)
    old.sync(eng.cat)
    spark.sql(f"DROP TABLE IF EXISTS {old.table}")  # simulate restart
    resumed = BucketedSeenIndex(spark, wd, N_BUCKETS)
    df = resumed.sync(eng.cat)
    committed = eng.seen().select("url_hash", "canon_url")
    assert committed.count() > 0
    with _no_broadcast(spark):
        survivors = committed.join(df, ["url_hash", "canon_url"], "left_anti").count()
    assert survivors == 0
    with open(resumed.version_path) as f:
        assert json.load(f)["n_buckets"] == N_BUCKETS
