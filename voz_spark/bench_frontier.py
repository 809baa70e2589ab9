"""Frontier throughput benchmarks (BASELINE.json metric: "frontier URLs
scheduled+deduped / second").

Both jobs time the engine's own scheduling chain, `frontier.
schedule_stage` (canonicalize → hash → in-batch dedup → bloom
prefilter → exact anti-join vs a preloaded seen set → robots → salted
per-host priority scheduling), with the engine's persists, on a
synthetic frontier of N URLs: ~25% in-batch duplicates, 50% of the
distinct space already seen (so the dedup path does real work), one
dominant host (~70%) for skew realism. `bench_full_round` adds the
engine's image validation (`frontier._validate_images`) of every
scheduled URL.

The seen state is built before the timed window and dropped after it:
the bloom blobs (the engine's distributed build,
`rounds.updated_bloom_cogroup`) and the engine's seen store, the
bucketed seen index (`seen_index.BucketedSeenIndex` synced from a
temporary catalog). The metric is per-round membership + scheduling
cost, not one-time state construction.

The 10^10 design point is extrapolated from this per-round pipeline
(BASELINE.md protocol): state is partition-sharded, so rounds at
10^10 differ only by the seen-table size, whose anti-join cost is
bounded by the bloom prefilter's pass-through rate.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from voz_spark import schemas
from voz_spark.config import DEFAULT, CrawlConfig
from voz_spark.frontier import _validate_images, schedule_stage
from voz_spark.rounds import generate_images, updated_bloom_cogroup
from voz_spark.seen_index import BucketedSeenIndex
from voz_spark.synth import DOMINANT_IMG_HOST, MINOR_IMG_HOSTS, robots_rules
from voz_spark.tables import SnapshotCatalog

HOSTS = [DOMINANT_IMG_HOST, *MINOR_IMG_HOSTS]

# image space of the full round's stand-in fetch: URL id `uid` fetches
# image `uid % CDN_IMAGES`, as from a CDN cache of bounded size
CDN_IMAGES = 4096


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


def bench_inputs(spark: SparkSession, n_urls: int, parts: int):
    """The synthetic frontier of `n_urls` candidates and the preloaded
    seen set (url_hash, canon_url) over half its distinct space."""
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
    seen = (
        spark.range(distinct_space // 2, numPartitions=parts)
        .select(F.col("id").alias("uid"))
        .select(_url_expr().alias("canon_url"))
        .select(F.xxhash64("canon_url").alias("url_hash"), "canon_url")
    )
    return frontier, seen


@contextmanager
def _bench_round(spark: SparkSession, n_urls: int, parts: int, cfg: CrawlConfig):
    """Build the inputs and seen state (module docstring) and yield
    `(schedule, n_seen)`. `schedule(budgets)` plans `schedule_stage`
    over them and returns its `sched_all`; on exit every persisted
    frame and broadcast of the plan, the seen set and the index are
    released."""
    frontier, seen = bench_inputs(spark, n_urls, parts)
    seen = seen.persist()
    workdir = tempfile.mkdtemp(prefix="voz_bench_seen_")
    idx = BucketedSeenIndex(spark, workdir)
    persisted, broadcasts = [], []
    try:
        n_seen = seen.count()
        empty = spark.createDataFrame([], schemas.SEEN_BLOOM)
        base = {
            int(r.shard_id): bytes(r.bits)
            for r in updated_bloom_cogroup(seen, empty, cfg).collect()
        }
        cat = SnapshotCatalog(workdir)
        rows = seen.withColumn("first_round", F.lit(0))
        cat.commit(appends={"seen": cat.write_files(rows, "seen")})
        seen_anti = idx.sync(cat)

        def schedule(budgets: dict[str, int]):
            return schedule_stage(
                spark, frontier, seen_anti, base, robots_rules(), budgets,
                cfg, persisted, broadcasts,
            )[1]

        yield schedule, n_seen
    finally:
        for df in persisted:
            df.unpersist()
        for bc in broadcasts:
            bc.destroy()
        seen.unpersist()
        idx.drop()
        shutil.rmtree(workdir, ignore_errors=True)


def bench_frontier_schedule(
    spark: SparkSession,
    n_urls: int = 2_000_000,
    cfg: CrawlConfig = DEFAULT,
    partitions: int | None = None,
) -> dict:
    """One timed scheduling round over n_urls candidates."""
    sc = spark.sparkContext
    parts = partitions or sc.defaultParallelism * 2
    # politeness budgets are inherently small vs the frontier: that is
    # what keeps the per-host exact top-k (stage-2) bounded at
    # salts×budget rows regardless of frontier size — the property
    # that makes the scheduler scale to 10^10.
    budget = int(min(25_000, n_urls))
    with _bench_round(spark, n_urls, parts, cfg) as (schedule, n_seen):
        t0 = time.time()
        sched_all = schedule({h: budget for h in HOSTS})
        n_scheduled = sched_all.where(F.col("scheduled")).count()
        wall = time.time() - t0
    return {
        "n_urls": n_urls,
        "n_seen_preloaded": n_seen,
        "n_scheduled": n_scheduled,
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
    """Full crawl-round job: the scheduling round + fetch + the
    engine's validation of every scheduled URL (size gate, REAL image
    decode, PSNR / PNG-exact pixels, caption) — the north-rule job
    shape (the reference's crawl = fetch + decode + OCR per URL).

    Sandbox fetch stand-in: no network exists here (like the
    reference's 403-blocked images), so a scheduled URL is joined to a
    CDN_IMAGES-row images table of real encoded bytes, built before
    the timed window; the validation work is the representative
    per-URL CPU cost.
    """
    sc = spark.sparkContext
    parts = partitions or sc.defaultParallelism * 2
    uid = F.regexp_extract("canon_url", r"(\d{10})\.png$", 1).cast("long")
    with (
        tempfile.TemporaryDirectory(prefix="voz_bench_images_") as img_dir,
        _bench_round(spark, n_urls, parts, cfg) as (schedule, _),
    ):
        generate_images(spark, img_dir, CDN_IMAGES)
        images = spark.read.schema(schemas.IMAGES).parquet(img_dir)
        t0 = time.time()
        fetched = (
            schedule({h: budget for h in HOSTS})
            .where(F.col("scheduled"))
            .select(
                "canon_url",
                F.concat(
                    F.lit("img"), F.lpad(F.pmod(uid, F.lit(CDN_IMAGES)).cast("string"), 10, "0")
                ).alias("image_id"),
            )
            .repartition(parts)
            .join(F.broadcast(images), "image_id", "left")
        )
        validated = _validate_images(
            fetched.select("canon_url", "image_id", "bytes", "fmt", "w", "h", "caption"), cfg
        )
        counts = {
            r["status"]: r["n"]
            for r in validated.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        wall = time.time() - t0
    return {
        "n_urls": n_urls,
        "n_fetched_validated": sum(counts.values()),
        "fetch_status": counts,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
        "parallelism": sc.defaultParallelism,
    }
