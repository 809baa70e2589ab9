"""Snapshot catalog: Iceberg-semantics table state over plain Parquet.

No Iceberg runtime jar ships in this container, so the engine carries
its own minimal snapshot layer providing exactly the Iceberg
properties the north rule needs (SURVEY §2.A A11):

- **atomic multi-table commit**: one crawl round appends/replaces
  several tables; a single manifest JSON, renamed into place, flips
  all of them at once (rename(2) is atomic on POSIX).
- **snapshot isolation / time travel**: every version's manifest lists
  the full file set per table; readers pin a version.
- **exact resume**: a killed run restarts from the last committed
  manifest; orphaned data files from an uncommitted round are never
  referenced (Iceberg's crash model).

On a production cluster this class is replaced 1:1 by Iceberg
catalog commits (``df.writeTo(...).append()`` + a multi-table
transaction); the engine code above it is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- manifest plumbing --------------------------------------------------

    def _latest_path(self) -> str:
        return os.path.join(self.root, "LATEST")

    def latest_version(self) -> int:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v == 0:
            return {"version": 0, "tables": {}, "meta": {}}
        with open(os.path.join(self.root, "manifests", f"v{v:012d}.json")) as f:
            return json.load(f)

    # -- data files ----------------------------------------------------------

    def write_files(self, df: DataFrame, table: str) -> list[str]:
        """Write df's rows as parquet data files owned by `table`;
        returns their paths. NOT visible to readers until commit()."""
        tmp = tempfile.mkdtemp(prefix=f"{table}-", dir=os.path.join(self.root, "data"))
        df.write.mode("overwrite").parquet(tmp)
        out = []
        dest_dir = os.path.join(self.root, "data", table)
        os.makedirs(dest_dir, exist_ok=True)
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".parquet"):
                dest = os.path.join(dest_dir, f"{uuid.uuid4().hex}.parquet")
                shutil.move(os.path.join(tmp, fn), dest)
                out.append(dest)
        shutil.rmtree(tmp, ignore_errors=True)
        return out

    def write_rows(self, rows: list[tuple], schema: StructType, table: str) -> list[str]:
        """Write rows already on the driver (tuples in `schema`'s field
        order) as one parquet data file owned by `table`, with pyarrow:
        no Spark job. Same visibility rule as write_files: NOT visible
        to readers until commit()."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if not rows:
            return []
        arrow_schema = to_arrow_schema(schema)
        tbl = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=arrow_schema
        )
        dest_dir = os.path.join(self.root, "data", table)
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, f"{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, dest)
        return [dest]

    # -- commit ----------------------------------------------------------------

    def commit(
        self,
        appends: dict[str, list[str]] | None = None,
        replaces: dict[str, list[str]] | None = None,
        meta: dict | None = None,
    ) -> int:
        """Atomically publish a new version: `appends` extend a table's
        file set, `replaces` swap it wholesale (frontier, bloom)."""
        cur = self.manifest()
        tables = {k: list(v) for k, v in cur["tables"].items()}
        for t, files in (appends or {}).items():
            tables.setdefault(t, []).extend(files)
        for t, files in (replaces or {}).items():
            tables[t] = list(files)
        version = cur["version"] + 1
        man = {"version": version, "tables": tables, "meta": meta or {}}
        man_path = os.path.join(self.root, "manifests", f"v{version:012d}.json")
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "manifests"))
        with os.fdopen(fd, "w") as f:
            json.dump(man, f)
        os.rename(tmp, man_path)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.rename(tmp, self._latest_path())  # the atomic flip
        return version

    # -- read -------------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema: StructType,
        version: int | None = None,
    ) -> DataFrame:
        files = self.manifest(version)["tables"].get(table, [])
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*files)

    # -- maintenance (Iceberg expireSnapshots / removeOrphanFiles /
    # rewriteDataFiles; at 100 TB these run as scheduled jobs — without
    # them the catalog's time-travel guarantee turns into unbounded
    # storage growth and every crashed round leaks its data files) -----------

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Drop all but the newest `keep_last` manifest versions (the
        latest is always retained). Expired versions stop being
        time-travel targets; their data files become vacuum-eligible
        unless a retained manifest still references them (Iceberg
        expireSnapshots semantics). Returns the expired version ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        latest = self.latest_version()
        expired = [v for v in self._all_versions() if v <= latest - keep_last]
        for v in expired:
            os.remove(os.path.join(self.root, "manifests", f"v{v:012d}.json"))
        return expired

    def _all_versions(self) -> list[int]:
        out = []
        for fn in os.listdir(os.path.join(self.root, "manifests")):
            if fn.startswith("v") and fn.endswith(".json"):
                out.append(int(fn[1:-5]))
        return sorted(out)

    def referenced_files(self) -> set[str]:
        """Every data file referenced by any RETAINED manifest."""
        refs: set[str] = set()
        for v in self._all_versions():
            for files in self.manifest(v)["tables"].values():
                refs.update(files)
        return refs

    def orphan_files(self, min_age_s: float = 3600.0) -> list[str]:
        """Data files no retained manifest references: leftovers of
        expired snapshots and of rounds that died between write_files
        and commit. `min_age_s` keeps files younger than the grace
        window (an in-flight writer's not-yet-committed output) safe —
        the same age guard Iceberg's removeOrphanFiles applies."""
        import time

        refs = self.referenced_files()
        now = time.time()
        orphans = []
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if p in refs:
                    continue
                try:
                    if now - os.path.getmtime(p) < min_age_s:
                        continue
                except OSError:
                    continue
                orphans.append(p)
        return sorted(orphans)

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """Delete orphan data files (see orphan_files). Returns the
        deleted paths."""
        victims = self.orphan_files(min_age_s)
        for p in victims:
            try:
                os.remove(p)
            except OSError:
                pass
        return victims

    def compact(
        self,
        spark: SparkSession,
        table: str,
        schema: StructType,
        target_files: int = 1,
        cluster_by: tuple[str, str] | None = None,
    ) -> int:
        """Rewrite `table`'s current file set into `target_files`
        files and commit the swap as a new snapshot (Iceberg
        rewriteDataFiles): readers of prior versions keep seeing the
        old files until those versions expire — compaction is a layout
        change, never a data change. The small-files problem this
        solves is the dominant metadata cost of a long crawl: every
        round appends a few files per table, and after 10^4 rounds an
        uncompacted scan plans 10^4 tiny splits.

        `cluster_by=(x, y)`: z-order the rewrite (OPTIMIZE ZORDER BY)
        — rows are range-partitioned and sorted by the Morton
        interleave of the two integer columns, so every output file
        covers a tight bounding box in BOTH dimensions and rectangle
        queries prune files by their min/max column statistics (the
        q92 layout, applied at the write side).

        The current manifest's meta is carried forward verbatim: a
        layout rewrite must not disturb engine state (round_id, seen-
        filter parameters) the way a round commit re-asserts it."""
        from pyspark.sql import functions as F

        df = self.read(spark, table, schema)
        if cluster_by is not None:
            from voz_spark.storage import _morton_terms

            x, y = cluster_by
            df = (
                df.withColumn("_z", F.expr(_morton_terms(x, y, spark_syntax=True)))
                .repartitionByRange(max(1, target_files), "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.coalesce(max(1, target_files))
        files = self.write_files(df, table)
        return self.commit(replaces={table: files}, meta=self.manifest()["meta"])
