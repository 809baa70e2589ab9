"""Query registry shared by __spark_entry__ and the benchmarks.

Every operator we claim (SURVEY.md §2) registers here with:
- a Spark implementation  ``fn(spark, sf_dir) -> DataFrame``
- an (optional) ANSI-SQL DuckDB oracle string over the driver's
  pre-registered views.  ``oracle=None`` → the driver records a
  weaker rows-only check (used only for genuinely non-SQL ops).

Correctness discipline for oracle parity (SURVEY.md §5.2):
- money/double sums go through DECIMAL so they are order-independent
  and bit-identical after CAST(... AS DOUBLE) on both engines;
- every computed column is aliased identically on both sides;
- every top-k has a total order (unique tie-break column);
- timestamps are compared as formatted strings (session TZ pinned UTC).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # import for side effects: modules populate REGISTRY on import
    from voz_spark import dataprep, file_io, imagedup, relational, storage, streaming  # noqa: F401
    from voz_spark import corpus_ops, crawl_queries, crawlops, extras_r4, extras_r5  # noqa: F401

    return {k: v.fn for k, v in REGISTRY.items()}


def release_caches(spark: SparkSession) -> int:
    """Cache-scope contract (VERDICT r3 item 4): query implementations
    persist subplans that are referenced >=2x inside ONE query's plan
    (self-joins, funnels — the q25/q81/q223 recompute trap). Those
    caches must live until the CALLER materializes the result, so the
    query functions themselves cannot unpersist. Instead, every
    long-lived harness (oracle-parity suite, bench.py, ad-hoc drivers)
    calls this between queries: it drops the SQL cache manager's
    entries AND blocking-unpersists any still-registered RDDs, so
    storage memory stays flat across a 247-query session instead of
    relying on LRU eviction. Returns the number of RDDs released.

    At production scale each query is its own job and the caches die
    with the session; this contract exists for the long-lived
    many-query sessions the driver and the test suite actually run.

    Contract assumption: NO harness-owned persisted DataFrames/RDDs may
    be live across a release_caches call — this releases EVERY
    persistent RDD in the session, not just the previous query's. A
    harness that keeps its own long-lived cache (e.g. a preloaded seen
    set or a shared fixture) must either re-persist after each call or
    scope release_caches around the query-only region (what
    bench_frontier does: each bench call builds its seen set, bloom
    blobs and bucketed index, runs one timed round on them, and
    releases them, the round's persists and its broadcasts before it
    returns, so nothing of it is held across a release).
    """
    spark.catalog.clearCache()
    # py4j exposes the JavaSparkContext's Map<Integer, JavaRDD> as a
    # Python mapping; blocking unpersist so the test's "empty between
    # queries" assertion observes a settled store
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


def all_oracles() -> dict[str, str]:
    from voz_spark import dataprep, file_io, imagedup, relational, storage, streaming  # noqa: F401
    from voz_spark import corpus_ops, crawl_queries, crawlops, extras_r4, extras_r5  # noqa: F401

    return {k: v.oracle for k, v in REGISTRY.items() if v.oracle is not None}
