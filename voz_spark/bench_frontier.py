"""Frontier scheduling throughput benchmark (BASELINE.json metric:
"frontier URLs scheduled+deduped / second").

Measures the per-round scheduling pipeline — canonicalize → hash →
in-batch dedup → bloom prefilter → exact anti-join vs a pre-seeded
seen set → robots → salted per-host priority scheduling — on a
synthetic frontier of N URLs, ~25% in-batch duplicates, 50% of the
distinct space already seen (so the dedup path does real work), one
dominant host (~70%) for skew realism.

The 10^10 design point is extrapolated from this per-round pipeline
(BASELINE.md protocol): state is partition-sharded, so rounds at
10^10 differ only by the seen-table size, whose anti-join cost is
bounded by the bloom prefilter's pass-through rate.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from voz_spark import schemas
from voz_spark.config import DEFAULT, CrawlConfig
from voz_spark.frontier import (
    _bloom_split,
    _canonicalize,
    _dedup_against_seen,
    _dedup_in_batch,
    _host_path,
    _robots_flag,
    _schedule,
)
from voz_spark.rounds import updated_bloom_cogroup
from voz_spark.synth import DOMINANT_IMG_HOST, MINOR_IMG_HOSTS, robots_rules


def _url_expr() -> F.Column:
    """JVM-side synthetic URL generator: uniform ids, skewed hosts."""
    h = F.xxhash64(F.col("uid").cast("string"))
    host = (
        F.when(F.pmod(h, F.lit(10)) < 7, F.lit(DOMINANT_IMG_HOST))
        .when(F.pmod(h, F.lit(3)) == 0, F.lit(MINOR_IMG_HOSTS[0]))
        .when(F.pmod(h, F.lit(3)) == 1, F.lit(MINOR_IMG_HOSTS[1]))
        .otherwise(F.lit(MINOR_IMG_HOSTS[2]))
    )
    blocked = F.when(F.pmod(F.col("uid"), F.lit(23)) == 0, F.lit("/blocked")).otherwise(F.lit(""))
    return F.concat(
        F.lit("https://"),
        host,
        blocked,
        F.lit("/img/"),
        F.lpad(F.col("uid").cast("string"), 10, "0"),
        F.lit(".png"),
    )


def _build_membership(spark: SparkSession, seen, cfg: CrawlConfig):
    """Build bloom state from `seen` with the engine's distributed
    build path and return the membership splitter. Shared by BOTH
    benchmark jobs so the full round pays the same real prefilter +
    anti-join the scheduling job does; the build itself stays OUTSIDE
    the timed window — the metric is per-round membership + scheduling
    cost, not one-time state construction."""
    empty = spark.createDataFrame([], schemas.SEEN_BLOOM)
    blob_rows = updated_bloom_cogroup(seen.select("url_hash"), empty, cfg).collect()
    shard_blobs = {int(r.shard_id): bytes(r.bits) for r in blob_rows}

    def membership(df):
        return _bloom_split(spark, df, shard_blobs, cfg)

    return membership


def bench_frontier_schedule(
    spark: SparkSession,
    n_urls: int = 2_000_000,
    cfg: CrawlConfig = DEFAULT,
    partitions: int | None = None,
    persist_cand: bool = True,
    persist_stage1: bool = True,
) -> dict:
    """One timed scheduling round over n_urls candidates."""
    sc = spark.sparkContext
    parts = partitions or sc.defaultParallelism * 2
    distinct_space = int(n_urls * 0.75)  # ~25% in-batch duplicate URLs

    frontier = (
        spark.range(n_urls, numPartitions=parts)
        .select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(distinct_space)).alias("uid"),
            F.col("id"),
        )
        .select(
            _url_expr().alias("url"),
            F.lit(None).cast("string").alias("base_url"),
            (F.col("id") % 1000).cast("int").alias("seed_rank"),
            (F.col("id") % 11).cast("int").alias("page_no"),
            (F.col("id") % 3).cast("int").alias("post_no"),
            F.lit(0).alias("attempt"),
        )
    )

    # pre-seeded seen set: 50% of the distinct space
    seen = (
        spark.range(distinct_space // 2, numPartitions=parts)
        .select(F.col("id").alias("uid"), F.col("id"))
        .select(_url_expr().alias("canon_url"))
        .select(F.xxhash64("canon_url").alias("url_hash"), "canon_url")
        .persist()
    )
    n_seen = seen.count()

    # seen-filter state (engine build paths, distributed), outside the
    # timed window — see _build_membership
    membership = _build_membership(spark, seen, cfg)

    # seen side of the exact anti-join: cfg.seen_store="bucketed" is
    # the 10^10 design point — the pre-seeded seen set is materialized
    # ONCE as a hash-bucketed bucket-sorted table (seen_index.py's
    # layout) outside the timed window, so the timed anti-join reads
    # the seen side with NO exchange and only the small bloom-survivor
    # candidate set shuffles into the bucket layout (steady-state
    # rounds append deltas; the build here stands in for state that a
    # real crawl already has on disk).
    seen_anti = seen
    if cfg.seen_store == "bucketed":
        import tempfile

        bdir = tempfile.mkdtemp(prefix="voz_bench_seen_bk_")
        tbl = "voz_bench_seen_bucketed"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            seen.select("url_hash", "canon_url")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(cfg.seen_buckets, "url_hash", "canon_url")
            .sortBy("url_hash", "canon_url")
            .option("path", bdir)
            .saveAsTable(tbl)
        )
        seen_anti = spark.table(tbl)

    # politeness budgets are inherently small vs the frontier: that is
    # what keeps the per-host exact top-k (stage-2) bounded at
    # salts×budget rows regardless of frontier size — the property
    # that makes the scheduler scale to 10^10.
    budget = int(min(25_000, n_urls))
    budgets = {h: budget for h in [DOMINANT_IMG_HOST, *MINOR_IMG_HOSTS]}

    t0 = time.time()
    cand = _host_path(_dedup_in_batch(_canonicalize(frontier)))
    cand = membership(cand)
    _tmp = []
    if persist_cand:
        cand = cand.persist()
        _tmp.append(cand)
    new = _dedup_against_seen(cand, seen_anti)
    new = _robots_flag(new, robots_rules())
    # mirror run_round_pipeline: path/robots_blocked end here, so the
    # window exchange and stage-1 cache never carry them
    allowed = new.where(~F.col("robots_blocked")).drop("robots_blocked", "path")
    sched = _schedule(allowed, budgets, cfg.default_host_budget, cfg.n_salts, _tmp,
                      do_persist=persist_stage1)
    n_scheduled = sched.where(F.col("scheduled")).count()
    wall = time.time() - t0
    for df_ in _tmp:
        df_.unpersist()

    seen.unpersist()
    if cfg.seen_store == "bucketed":
        import shutil

        spark.sql("DROP TABLE IF EXISTS voz_bench_seen_bucketed")
        shutil.rmtree(bdir, ignore_errors=True)
    return {
        "n_urls": n_urls,
        "n_seen_preloaded": n_seen,
        "n_scheduled": n_scheduled,
        "seen_store": cfg.seen_store,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
        "parallelism": sc.defaultParallelism,
    }


def bench_full_round(
    spark: SparkSession,
    n_urls: int = 8_000_000,
    budget: int = 100_000,
    cfg: CrawlConfig = DEFAULT,
    partitions: int | None = None,
) -> dict:
    """Full crawl-round job: scheduling pipeline + fetch + REAL image
    decode/PSNR validation of every scheduled URL — the north-rule job
    shape (the reference's crawl = fetch + decode + OCR per URL).

    Sandbox fetch stand-in: bytes are synthesized per scheduled URL
    inside the same Arrow batch (no network exists here, exactly like
    the reference's 403-blocked images) and then decoded + validated
    with the repo's real codecs; the decode/validate work is the
    representative per-URL CPU cost.
    """
    import numpy as np
    import pandas as pd

    from voz_spark import synth
    from voz_spark.codec import decode_image, psnr

    sc = spark.sparkContext
    parts = partitions or sc.defaultParallelism * 2
    distinct_space = int(n_urls * 0.75)

    frontier = (
        spark.range(n_urls, numPartitions=parts)
        .select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(distinct_space)).alias("uid"),
            F.col("id"),
        )
        .select(
            _url_expr().alias("url"),
            F.lit(None).cast("string").alias("base_url"),
            (F.col("id") % 1000).cast("int").alias("seed_rank"),
            (F.col("id") % 11).cast("int").alias("page_no"),
            (F.col("id") % 3).cast("int").alias("post_no"),
            F.lit(0).alias("attempt"),
        )
    )
    seen = (
        spark.range(distinct_space // 2, numPartitions=parts)
        .select(F.col("id").alias("uid"), F.col("id"))
        .select(_url_expr().alias("canon_url"))
        .select(F.xxhash64("canon_url").alias("url_hash"), "canon_url")
        .persist()
    )
    seen.count()
    budgets = {h: budget for h in [DOMINANT_IMG_HOST, *MINOR_IMG_HOSTS]}

    def fetch_validate(batches):
        for pdf in batches:
            statuses = []
            psnrs = []
            for u in pdf["canon_url"]:
                uid = int(u.rsplit("/", 1)[1].split(".")[0])
                small = uid % 4096  # bound the synthesis space like a CDN cache
                data = synth.image_bytes(small)
                fmt = synth.image_fmt(small)
                try:
                    decoded = decode_image(data, fmt)
                    expected = synth.image_pixels(small)
                    p = psnr(expected, decoded)
                    ok = (
                        np.array_equal(expected, decoded)
                        if fmt == "png"
                        else p >= cfg.psnr_min_db
                    )
                    statuses.append("ok" if ok else "psnr_fail")
                    psnrs.append(float(min(p, 1e9)))
                except Exception:
                    statuses.append("decode_error")
                    psnrs.append(None)
            yield pd.DataFrame({"status": statuses, "psnr_db": psnrs})

    # real seen-filter state from the preloaded seen set (previously the
    # round job passed EMPTY bloom state, so maybe_seen was a constant
    # False and the 37%-seen preload never exercised the prefilter or
    # the anti-join — the round benchmark now pays the same membership
    # cost per candidate that the scheduling benchmark does)
    membership = _build_membership(spark, seen, cfg)

    t0 = time.time()
    cand = _host_path(_dedup_in_batch(_canonicalize(frontier)))
    cand = membership(cand).persist()
    _tmp = [cand]
    new = _dedup_against_seen(cand, seen)
    new = _robots_flag(new, robots_rules())
    # mirror run_round_pipeline: path/robots_blocked end here, so the
    # window exchange and stage-1 cache never carry them
    allowed = new.where(~F.col("robots_blocked")).drop("robots_blocked", "path")
    sched = _schedule(allowed, budgets, cfg.default_host_budget, cfg.n_salts, _tmp)
    fetched = (
        sched.where(F.col("scheduled"))
        .select("canon_url")
        .repartition(parts)
        .mapInPandas(fetch_validate, "status string, psnr_db double")
    )
    counts = {r["status"]: r["n"] for r in fetched.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    wall = time.time() - t0
    for df_ in _tmp:
        df_.unpersist()
    seen.unpersist()
    n_fetched = sum(counts.values())
    return {
        "n_urls": n_urls,
        "n_fetched_validated": n_fetched,
        "fetch_status": counts,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
        "parallelism": sc.defaultParallelism,
    }
