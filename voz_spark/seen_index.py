"""Bucketed seen-index: the engine's seen store, a shuffle-free exact
anti-join at 10^10 rows.

The exact-dedup backstop (frontier._dedup_against_seen, SURVEY §2.B B3)
left-anti joins bloom survivors against the FULL seen table on
(url_hash, canon_url). Reading seen as plain parquet makes that a
SortMergeJoin whose seen side re-shuffles every round — at the
10^10-URL design point that is an exchange of the entire multi-TB seen
table per crawl round, by far the dominant recurring cost.

This module maintains seen as a hash-bucketed, bucket-sorted table
(``CLUSTERED BY (url_hash, canon_url) SORTED BY (url_hash, canon_url)
INTO n BUCKETS``). Spark's bucketed scan then satisfies the join's
distribution requirement directly from storage: the plan has NO
exchange on the seen side (pinned by tests/test_seen_index.py); only
the tiny bloom-survivor candidate set shuffles into the bucket layout.
Each round appends only the new seen rows with the same bucket spec,
so the steady-state per-round cost is O(new rows), not O(all rows).
The engine reads seen for the anti-join only through this index
(CrawlEngine.run_round): against a plain parquet read of seen it was
within 2.5% at 16M and 32M frontier URLs and 25% faster at 64M
(BENCH/frontier_bucketed_{32m,64m}.json), so no store selection exists.

Bucket count: N_BUCKETS (32) sizes the sandbox; the 10^10 design point
wants ~4096 (≈2.4M rows per bucket). The count is fixed per index: the
marker records it, and an index written under another count is
rebuilt rather than read with mismatched bucket DDL (candidates would
hash to the wrong buckets and the anti-join could miss seen URLs).

Consistency model (mirrors tables.SnapshotCatalog's crash rules):

- The catalog's ``seen`` table remains the single source of truth; the
  index is DERIVED state, versioned by the exact file list it has
  absorbed and the bucket count it was written with
  (``<workdir>/seen_bucketed.version``, atomic rename).
- ``sync`` appends precisely the data files the catalog added since
  the last marker; a wholesale seen replace (CrawlEngine.reopen) makes
  the marker's file list no longer a subset of the catalog's and
  triggers a full index rebuild; so does a marker without a bucket
  count or with a different one.
- A crash between append and marker write can only re-append the same
  delta on the next sync: duplicated rows are semantically harmless to
  a left-anti membership probe (documented, not silent) and disappear
  at the next rebuild.
- The bucketed table lives in the metastore only for the session's
  lifetime (local catalogs are in-memory); ``sync`` re-registers it
  over its on-disk location with the same DDL on resume — bucket ids
  are recovered from the writer's file naming.

Reference analogue: the crawled-set lookup voz-crawler does per thread
against its cache directory (src/thread_crawler.py:46-59), re-expressed
as storage-aligned distributed membership.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from voz_spark import schemas
from voz_spark.tables import SnapshotCatalog

_COLS = ["url_hash", "canon_url"]

N_BUCKETS = 32


class BucketedSeenIndex:
    def __init__(self, spark: SparkSession, workdir: str, n_buckets: int = N_BUCKETS):
        self.spark = spark
        self.n_buckets = n_buckets
        self.path = os.path.join(workdir, "seen_bucketed")
        self.version_path = os.path.join(workdir, "seen_bucketed.version")
        # table names are session-global; derive from workdir so two
        # engines in one session never collide
        wd_tag = hashlib.md5(workdir.encode()).hexdigest()[:12]
        self.table = f"voz_seen_idx_{wd_tag}"

    # -- marker ----------------------------------------------------------------

    def _synced_files(self) -> list[str] | None:
        """The catalog seen files the index holds, or None when there is
        no marker or it was written under another bucket count."""
        try:
            with open(self.version_path) as f:
                marker = json.load(f)
        except FileNotFoundError:
            return None
        if marker.get("n_buckets") != self.n_buckets:
            return None
        return marker["files"]

    def _write_marker(self, files: list[str]) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.version_path))
        with os.fdopen(fd, "w") as f:
            json.dump({"files": files, "n_buckets": self.n_buckets}, f)
        os.rename(tmp, self.version_path)

    # -- registration ----------------------------------------------------------

    def _registered(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def _register(self) -> None:
        """(Re)create the metastore entry over the existing on-disk
        bucketed files — the resume path after a session restart."""
        self.spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {self.table}
            (url_hash BIGINT, canon_url STRING)
            USING PARQUET
            CLUSTERED BY (url_hash, canon_url)
            SORTED BY (url_hash, canon_url)
            INTO {self.n_buckets} BUCKETS
            LOCATION '{self.path}'"""
        )

    def _append(self, df: DataFrame) -> None:
        (
            df.select(*_COLS)
            .write.mode("append")
            .format("parquet")
            .bucketBy(self.n_buckets, *_COLS)
            .sortBy(*_COLS)
            .option("path", self.path)
            .saveAsTable(self.table)
        )

    def drop(self) -> None:
        """Drop the index: its metastore entry and its files."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        shutil.rmtree(self.path, ignore_errors=True)

    # -- sync ------------------------------------------------------------------

    def sync(self, cat: SnapshotCatalog) -> DataFrame:
        """Bring the index up to the catalog's committed seen state and
        return it as the anti-join's seen side (url_hash, canon_url)."""
        cur_files = list(cat.manifest()["tables"].get("seen", []))
        if not cur_files:
            # nothing seen yet (bootstrap round): nothing to index
            return self.spark.createDataFrame([], schemas.SEEN).select(*_COLS)
        synced = self._synced_files()
        if synced is not None and not os.path.isdir(self.path):
            synced = None  # marker without data: treat as fresh
        synced_set = set(synced or ())
        if synced is None or not synced_set <= set(cur_files):
            # no usable marker, or seen was replaced (reopen/expiry):
            # derived state is stale
            self.drop()
            delta = cur_files
        else:
            if not self._registered():
                self._register()
            delta = [f for f in cur_files if f not in synced_set]
        if delta:
            self._append(self.spark.read.schema(schemas.SEEN).parquet(*delta))
            self._write_marker(cur_files)
        elif not self._registered():  # pragma: no cover - defensive
            self._register()
        return self.spark.table(self.table)
