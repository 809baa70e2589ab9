"""Crawl-round orchestration: bootstrap, atomic commit, exact resume
(SURVEY §2.A A11/A12/B13; reference: save_checkpoint/load_checkpoint at
src/main.py:94-128 and the every-5-threads cadence at :215-216).

Each round is one deterministic batch job. Its outputs (seen/results/
lineage/fetch_failures appends; frontier/bloom replaces; checkpoint row)
become visible in a single atomic catalog commit, so a kill at ANY
point leaves the previous round's state intact and a restart resumes
exactly (test: tests/test_resume.py).

Commit ordering note (SURVEY §7.4 item 2): the seen filter is a bloom
base (the `seen_bloom` blobs) OR an exact delta, and both are derived
from COMMITTED seen files. The manifest meta marks the leading seen
files the base covers (`bloom_base_covers`, `bloom_base_last`); the
seen files after them are the delta, whose url_hash values the driver
reads with pyarrow. A base is only ever published in the same commit
as a marker naming files that commit already lists, so a crash can
never produce a filter that claims URLs the seen table lacks, and no
committed seen row can be missing from base ∪ delta (no false
negatives). A base the engine cannot trust (a changed bloom layout, a
marker that no longer names the head of `seen` after a `reopen` or
`compact`, a catalog predating the marker) counts as empty: it covers
0 files, all of `seen` is the delta, and the round drops the stale
base from the manifest.

One bloom writer: the fold. `updated_bloom_cogroup` cogroups the
delta's hashes with the stored blob rows per shard (untouched shards
pass through; an empty base builds from scratch) and the new base is
written in that round's commit. A round folds before its membership
probe, and only when the delta's 8 B/row would exceed 1/DELTA_SHARE of
cfg.bloom_broadcast_max_bytes; every other round writes no bloom
state. At bloom_broadcast_max_bytes=0 every round with seen rows
folds. The delta always travels as a sorted uint64 broadcast; the base
is broadcast (read with pyarrow, cached by its file list) while the
full state fits cfg.bloom_broadcast_max_bytes, and is cogrouped
shard-aligned beyond (`CrawlEngine.run_round` picks the form).

Where a round's counts come from: the funnel (n_candidates … n_failed)
is the column sums of the lineage rows the pipeline collects once
(frontier.run_round_pipeline); the checkpoint's n_frontier and the new
seen rows are `Observation` counts on the frontier and seen commit
writes, read after those writes return; n_seen_total adds the new
seen rows to the parquet-footer row counts of the committed seen files
(cached per path on the driver). No standalone count runs, and the
lineage and checkpoint rows, already on the driver, are written with
pyarrow (`SnapshotCatalog.write_rows`), not by a Spark job.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from voz_spark import bloom as B
from voz_spark import schemas, synth
from voz_spark.config import DEFAULT, CrawlConfig
from voz_spark.frontier import run_round_pipeline
from voz_spark.seen_index import BucketedSeenIndex
from voz_spark.tables import SnapshotCatalog

# The seen filter's delta (8 B/row, always broadcast) is folded into the
# bloom base once it would exceed this share of
# cfg.bloom_broadcast_max_bytes: 1/8, 8 MiB (1M rows) at the default.
DELTA_SHARE = 8


def img_space_for(n_images: int) -> int:
    """~5% of link-graph image indexes miss the table (failure path)."""
    return int(n_images * 1.05) + 1


def generate_images(spark: SparkSession, path: str, n_images: int) -> None:
    """Materialize the images input table (BASELINE.json input_hint
    shape) with REAL encoded bytes, distributed via mapInPandas."""

    def gen(batches):
        for pdf in batches:
            rows = [synth.image_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    (
        spark.range(n_images)
        .repartition(max(2, min(64, n_images // 256 + 1)))
        .mapInPandas(gen, schemas.IMAGES)
        .write.mode("overwrite")
        .parquet(path)
    )


def updated_bloom_cogroup(
    new_seen: DataFrame, bloom_df: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Incremental bloom shard update with NO driver collect and NO
    broadcast — the 10^10 path (state is ~64 GiB there; neither a
    driver collect of the blobs nor a broadcast is possible). New
    hashes and existing blob rows cogroup per shard; Spark's cogroup
    has full-outer semantics, so shards that received no new hashes
    appear as blob-only groups and pass through unchanged, and
    brand-new shards appear as hash-only groups and build from empty,
    so an empty `bloom_df` builds the whole base. The engine's one
    caller is the fold of the seen filter's delta into its base
    (CrawlEngine._seen_filter). Bit-equivalence with blobs built
    directly in numpy is pinned in tests/test_bloom.py."""
    nbits, k, n_shards = cfg.bloom_bits_per_shard, cfg.bloom_k, cfg.n_bloom_shards

    def update(hashes_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(hashes_pdf) == 0:
            return blob_pdf[["shard_id", "nbits", "k", "bits"]]
        sid = int(hashes_pdf["shard_id"].iloc[0])
        bits = (
            np.frombuffer(blob_pdf["bits"].iloc[0], dtype=np.uint8).copy()
            if len(blob_pdf)
            else B.empty_shard(nbits)
        )
        B.add_hashes(bits, hashes_pdf["url_hash"].to_numpy().astype(np.uint64), nbits, k)
        return pd.DataFrame(
            [{"shard_id": sid, "nbits": nbits, "k": k, "bits": bits.tobytes()}]
        )

    new = new_seen.select(
        F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int").alias("shard_id"),
        "url_hash",
    )
    return (
        new.groupBy("shard_id")
        .cogroup(bloom_df.groupBy("shard_id"))
        .applyInPandas(update, schemas.SEEN_BLOOM)
    )


class CrawlEngine:
    """Drives crawl rounds over a SnapshotCatalog at `workdir`."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        n_seeds: int = 30,
        n_images: int = 2000,
        thread_limit: int | None = None,
        include_sticky: bool = False,
        cfg: CrawlConfig = DEFAULT,
    ):
        self.spark = spark
        self.cfg = cfg
        self.n_seeds = n_seeds
        self.n_images = n_images
        self.img_space = img_space_for(n_images)
        self.thread_limit = thread_limit
        self.include_sticky = include_sticky
        self.cat = SnapshotCatalog(workdir)
        self.images_path = f"{workdir}/images_input"
        # derived bucketed index of seen: the exact anti-join's seen
        # side, read with no exchange (voz_spark/seen_index.py)
        self.seen_idx = BucketedSeenIndex(spark, workdir)
        # driver-side caches of immutable committed files (no Spark job
        # reads them): footer row counts of `seen`, the delta's hashes,
        # and the bloom base's blobs keyed by its file list
        self._rows: dict[str, int] = {}
        self._hashes: dict[str, np.ndarray] = {}
        self._blobs: tuple[list[str] | None, dict[int, bytes]] = (None, {})
        self.robots = synth.robots_rules()
        self.budgets = {
            r["host"]: r["max_fetches_per_round"]
            for r in synth.host_budgets(cfg.default_host_budget, cfg.round_window_ms)
        }

    # -- state ----------------------------------------------------------------

    def _read(self, table: str, schema) -> DataFrame:
        return self.cat.read(self.spark, table, schema)

    def last_round(self) -> int:
        return int(self.cat.manifest()["meta"].get("round_id", 0))

    def seen(self) -> DataFrame:
        return self._read("seen", schemas.SEEN)

    def results(self) -> DataFrame:
        return self._read("results", schemas.RESULTS)

    def frontier(self) -> DataFrame:
        return self._read("frontier", schemas.FRONTIER)

    def lineage(self) -> DataFrame:
        return self._read("lineage", schemas.LINEAGE)

    def checkpoints(self) -> DataFrame:
        return self._read("checkpoints", schemas.CHECKPOINTS)

    def fetch_failures(self) -> DataFrame:
        return self._read("fetch_failures", schemas.FETCH_FAILURES)

    def schedule_order(self) -> list[tuple]:
        """The committed crawl order: the invariant the ordering test
        pins against the sequential simulator (SURVEY §4.3)."""
        return [
            (r.round_id, r.canon_url)
            for r in self.results()
            .where(F.col("status") != "robots")  # blocked URLs are never fetched
            .select("round_id", "seed_rank", "page_no", "post_no", "canon_url")
            .orderBy("round_id", "seed_rank", "page_no", "post_no", "canon_url")
            .collect()
        ]

    # -- bootstrap ---------------------------------------------------------------

    def bootstrap(self) -> None:
        """Round 0: seeds → initial frontier (A1: thread_limit is a real
        LIMIT; B7: sticky filter — reference src/box_crawler.py:64-87)."""
        if self.cat.latest_version() > 0:
            return
        import os

        if not os.path.exists(self.images_path):
            generate_images(self.spark, self.images_path, self.n_images)
        seeds = self.spark.createDataFrame(
            pd.DataFrame(synth.seed_rows(self.n_seeds)), schemas.SEEDS
        )
        if not self.include_sticky:
            seeds = seeds.where(~F.col("is_sticky"))
        seeds = seeds.orderBy("seed_rank")
        if self.thread_limit is not None:
            seeds = seeds.limit(self.thread_limit)
        frontier = seeds.select(
            F.col("url"),
            F.lit(None).cast("string").alias("base_url"),
            "seed_rank",
            F.lit(0).alias("page_no"),
            F.lit(0).alias("post_no"),
            F.lit(0).alias("attempt"),
        )
        files = {"frontier": self.cat.write_files(frontier, "frontier")}
        self.cat.commit(replaces=files, meta={"round_id": 0, **self._bloom_meta([], 0)})

    # -- bloom state ---------------------------------------------------------------

    def _bloom_meta(self, seen_files: list[str], covers: int) -> dict:
        """Seen-filter state persisted with every commit.

        Layout parameters: stored blobs are only meaningful under the
        (n_shards, nbits, k) they were built with; resuming under
        different cfg values would route pmod(hash, n_shards) against
        blobs built with another shard count and silently re-crawl
        seen URLs.

        Base marker: the bloom base covers the first `covers` committed
        `seen` files, the last of them `bloom_base_last`. The seen files
        after them are the exact delta."""
        cfg = self.cfg
        return {
            "bloom_n_shards": cfg.n_bloom_shards,
            "bloom_bits_per_shard": cfg.bloom_bits_per_shard,
            "bloom_k": cfg.bloom_k,
            "bloom_base_covers": covers,
            "bloom_base_last": seen_files[covers - 1] if covers else None,
        }

    def _base_covers(self, man: dict) -> int:
        """How many leading committed `seen` files the committed bloom
        base covers; 0 (an empty base) when there is no base or it
        cannot be trusted: the layout parameters differ from the config,
        the marker is missing, or its prefix is no longer the head of
        `seen` (a `reopen` or `compact` replaced the files, or a catalog
        had `seen` but no base)."""
        meta, tables = man["meta"], man["tables"]
        seen = tables.get("seen", [])
        cfg = self.cfg
        stored = (
            meta.get("bloom_n_shards"),
            meta.get("bloom_bits_per_shard"),
            meta.get("bloom_k"),
        )
        n = meta.get("bloom_base_covers")
        if (
            stored != (cfg.n_bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_k)
            or not tables.get("seen_bloom")
            or not isinstance(n, int)
            or not 1 <= n <= len(seen)
        ):
            return 0
        return n if seen[n - 1] == meta.get("bloom_base_last") else 0

    def _file_rows(self, files: list[str]) -> int:
        """Rows in committed parquet files, from their footers (cached
        per path: data files are immutable). No Spark job."""
        for f in files:
            if f not in self._rows:
                self._rows[f] = pq.read_metadata(f).num_rows
        return sum(self._rows[f] for f in files)

    def _delta_hashes(self, files: list[str]) -> np.ndarray:
        """The sorted distinct url_hash values of `files` as uint64, read
        with pyarrow (cached per path; files that left the delta are
        dropped from the cache)."""
        for f in files:
            if f not in self._hashes:
                col = pq.read_table(f, columns=["url_hash"]).column(0)
                self._hashes[f] = col.to_numpy().astype(np.uint64)
        self._hashes = {f: self._hashes[f] for f in files}
        if not files:
            return np.empty(0, dtype=np.uint64)
        return np.unique(np.concatenate([self._hashes[f] for f in files]))

    def _base_blobs(self, files: list[str]) -> dict[int, bytes]:
        """The base's blobs by shard, for the broadcast membership probe,
        read with pyarrow and cached by the `seen_bloom` file list: the
        base changes only at a fold."""
        if self._blobs[0] != files:
            blobs = {}
            for f in files:
                t = pq.read_table(f, columns=["shard_id", "bits"]).to_pydict()
                blobs.update(zip(t["shard_id"], t["bits"]))
            self._blobs = (list(files), blobs)
        return self._blobs[1]

    def _bloom_state_is_broadcastable(self) -> bool:
        """Static criterion (no collect needed): full-capacity state
        size vs the broadcast ceiling."""
        cfg = self.cfg
        return cfg.n_bloom_shards * cfg.bloom_bits_per_shard // 8 <= cfg.bloom_broadcast_max_bytes

    def _seen_filter(self, man: dict) -> tuple[list[str], int]:
        """The round's bloom base files and how many leading `seen`
        files they cover: the committed base (none when `_base_covers`
        is 0). Folds first — writes a new base with
        `updated_bloom_cogroup`, uncommitted until the round's commit —
        when the delta's 8 B/row would exceed 1/DELTA_SHARE of
        cfg.bloom_broadcast_max_bytes."""
        seen_files = man["tables"].get("seen", [])
        covers = self._base_covers(man)
        base = man["tables"]["seen_bloom"] if covers else []
        if self._file_rows(seen_files[covers:]) * 8 <= (
            self.cfg.bloom_broadcast_max_bytes // DELTA_SHARE
        ):
            return base, covers
        delta = self.spark.read.schema(schemas.SEEN).parquet(*seen_files[covers:])
        base_df = (
            self.spark.read.schema(schemas.SEEN_BLOOM).parquet(*base)
            if base
            else self.spark.createDataFrame([], schemas.SEEN_BLOOM)
        )
        folded = updated_bloom_cogroup(delta.select("url_hash"), base_df, self.cfg)
        return self.cat.write_files(folded, "seen_bloom"), len(seen_files)

    # -- the round -------------------------------------------------------------------

    def run_round(self) -> dict:
        round_id = self.last_round() + 1
        frontier = self.frontier()
        images = self.spark.read.schema(schemas.IMAGES).parquet(self.images_path)
        man = self.cat.manifest()
        tables = man["tables"]
        seen_files = tables.get("seen", [])
        bloom_files, covers = self._seen_filter(man)
        delta = self._delta_hashes(seen_files[covers:])
        # the one broadcast-vs-cogroup choice for the base; no base and
        # no delta (round 1 of every crawl) takes the free lit(False)
        # membership path
        if self._bloom_state_is_broadcastable():
            base = self._base_blobs(bloom_files)
        elif bloom_files:
            base = self.spark.read.schema(schemas.SEEN_BLOOM).parquet(*bloom_files)
        else:
            base = {}
        rr = run_round_pipeline(
            self.spark,
            frontier,
            self.seen_idx.sync(self.cat),
            base,
            images,
            self.robots,
            self.budgets,
            self.cfg,
            round_id,
            self.img_space,
            delta=delta,
        )

        # the two sizes the checkpoint needs are observed on the writes
        # that already scan those rows; an Observation is filled when its
        # write returns
        n_rows = F.count(F.lit(1)).alias("n")
        seen_obs, frontier_obs = Observation("new_seen"), Observation("next_frontier")
        appends = {
            "seen": self.cat.write_files(rr.new_seen_df.observe(seen_obs, n_rows), "seen"),
            "results": self.cat.write_files(rr.results_df, "results"),
            "lineage": self.cat.write_rows(rr.lineage_rows, schemas.LINEAGE, "lineage"),
        }
        # A12: permanent failures only — retried URLs went back into
        # rr.next_frontier_df with attempt+1 (the union-back lives in
        # run_round_pipeline so the simulator semantics stay in one place)
        fail_files = self.cat.write_files(rr.permanent_failures_df, "fetch_failures")
        if fail_files:
            appends["fetch_failures"] = fail_files
        replaces = {
            "frontier": self.cat.write_files(
                rr.next_frontier_df.observe(frontier_obs, n_rows), "frontier"
            ),
        }
        if bloom_files != tables.get("seen_bloom", []):
            replaces["seen_bloom"] = bloom_files  # a fold, or a stale base dropped
        if tables.get("seen_cuckoo"):
            # state of the retired cuckoo filter: drop it from the
            # manifest so snapshot expiry can reclaim its files
            replaces["seen_cuckoo"] = []
        n_next = frontier_obs.get["n"]
        checkpoint = (
            round_id,
            _dt.datetime.now(_dt.timezone.utc).isoformat(),
            n_next,
            self._file_rows(seen_files) + seen_obs.get["n"],
        )
        self._rows = {f: self._rows[f] for f in seen_files}  # drop replaced files
        appends["checkpoints"] = self.cat.write_rows(
            [checkpoint], schemas.CHECKPOINTS, "checkpoints"
        )
        self.cat.commit(
            appends=appends,
            replaces=replaces,
            meta={"round_id": round_id, **self._bloom_meta(seen_files, covers)},
        )
        rr.unpersist()
        return {
            "round_id": round_id,
            "n_candidates": rr.n_candidates,
            "n_new": rr.n_new,
            "n_robots_blocked": rr.n_robots_blocked,
            "n_scheduled": rr.n_scheduled,
            "n_fetched_ok": rr.n_fetched_ok,
            "n_failed": rr.n_failed,
            "n_next_frontier": n_next,
        }

    def reopen(self, urls: DataFrame) -> dict:
        """Make already-crawled URLs crawlable again (recrawl of a
        stale host, cache expiry, deletion requests): remove them from
        `seen`, reset the bloom base to empty, and re-enter them into
        the frontier with their ORIGINAL priority fields so the next
        round fetches them in the right order.

        Reference analogue: deleting a thread's cache file makes the
        thread crawlable again on the next run
        (src/thread_crawler.py:46-59).

        A bloom cannot unset bits, so the commit drops the base (marker
        covers 0): every remaining seen row is the exact delta, and the
        next round folds it into a new base only if it outgrows its
        share of cfg.bloom_broadcast_max_bytes. reopen is an operator
        action, not per-round traffic, so the engine keeps no deletable
        filter for it.

        ``urls``: a DataFrame with a ``canon_url`` column. Returns the
        number of URLs actually reopened.
        """
        from pyspark.sql.window import Window

        urls = urls.select("canon_url").distinct().persist()
        seen = self.seen()
        removed = seen.join(urls, "canon_url", "left_semi").persist()
        n_removed = removed.count()
        remaining = seen.join(urls, "canon_url", "left_anti")
        # original priority fields from the results log (first crawl wins)
        w = Window.partitionBy("canon_url").orderBy(
            "round_id", "seed_rank", "page_no", "post_no"
        )
        refetch = (
            self.results()
            .join(urls, "canon_url", "left_semi")
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(
                F.col("canon_url").alias("url"),
                F.lit(None).cast("string").alias("base_url"),
                "seed_rank",
                "page_no",
                "post_no",
                F.lit(0).alias("attempt"),
            )
        )
        next_frontier = self.frontier().unionByName(refetch)
        seen_files = self.cat.write_files(remaining, "seen")
        self.cat.commit(
            replaces={
                "seen": seen_files,
                "frontier": self.cat.write_files(next_frontier, "frontier"),
                "seen_bloom": [],
            },
            meta={"round_id": self.last_round(), **self._bloom_meta(seen_files, 0)},
        )
        urls.unpersist()
        removed.unpersist()
        return {"n_reopened": n_removed}

    def run(self, max_rounds: int | None = None, verbose: bool = False) -> list[dict]:
        """Run rounds until the frontier drains (or `max_rounds`). The
        committed frontier is counted once, before the first round (a
        resume may start on a drained one); after that each round's
        observed next-frontier size decides."""
        self.bootstrap()
        stats: list[dict] = []
        if self.frontier().limit(1).count() == 0:
            return stats
        while max_rounds is None or len(stats) < max_rounds:
            st = self.run_round()
            stats.append(st)
            if verbose:
                print(st)
            if st["n_next_frontier"] == 0:
                break
        return stats
