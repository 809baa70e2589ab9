"""Benchmark runner (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] plus the frontier-scheduling throughput
benchmark, and prints ONE JSON line.

Output fields:
  metric/value/unit : total headline wall seconds (lower is better)
  queries           : per-query seconds
  frontier          : URLs scheduled+deduped per second (BASELINE.json
                      metric) with run details
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_orders_by_nation",
    "q09_brand_cooccurrence",
    "q13_sessionize_events",
    "q21_doc_quality",
    "q25_lsh_candidate_pairs",
    "q27_simhash",
    "q29_embedding_topk",
]

# timed and reported, but NOT in the headline total — keeps the
# headline metric comparable across rounds while still benching the
# round-2 additions (image pHash near-dup, bucketed fact-fact join)
EXTRA = [
    "q80_semantic_dedup",
    "q81_dup_span_fraction",
    "q84_bigram_fluency",
    # round-3 additions: PQ-compressed ANN search, video clip dedup
    "q130_pq_adc_search",
    "q141_video_clip_containment",
    # round-3 wave 2: the dedup PR curve (one-pass tuning frontier)
    # and the capstone image-corpus funnel (all six gates + CC)
    "q179_dedup_pr_curve",
    "q182_image_corpus_build",
    # round-3 wave 3: exact prefix-filter similarity join (the
    # heaviest new operator — the complete no-false-negative dedup
    # path) and the DSIR-shaped selection scorer
    "q223_prefix_filter_join",
    "q225_target_affinity_selection",
    # round-4 rotation (VERDICT r3 item 6): q61/q62 have three rounds
    # of stable wall-time evidence — swap in the heaviest unbenched
    # warehouse operators so that family gets wall-time evidence too
    "q231_incremental_view_merge",
    "q240_scd2_asof_enrich",
    # round-5 wave representatives: the decontamination semi-join and
    # the chunk manifest (the two with the most novel plan shapes)
    "q261_benchmark_decontamination",
    "q265_rag_chunk_manifest",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 16M matches BENCH/BASELINE.md's measurement protocol: the
    # pipeline has a fixed ~4s candidate-materialization cost, so
    # throughput at small N under-reports the steady-state rate a
    # long-running crawl actually sustains (urls/sec is a throughput
    # metric — measure it at a batch size that amortizes startup)
    n_frontier = int(os.environ.get("VOZ_BENCH_FRONTIER_URLS", "16000000"))

    from voz_spark.bench_frontier import bench_frontier_schedule
    from voz_spark.registry import all_queries
    from voz_spark.session import get_spark

    qs = all_queries()
    spark = get_spark("voz_bench")

    # warm the JVM/codegen/parquet-reader/noop-sink paths once with a
    # trivial action on a 5-row table — the timed numbers measure the
    # queries, not one-time session init (no query data is cached:
    # region is not an input to any headline query)
    spark.range(1000).count()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()

    # best of 2 per query (same discipline as the frontier number
    # below): co-tenant storms on this shared box swing a single shot
    # 2x; the min of a back-to-back pair is the stable signal.
    # Cache-scope contract (VERDICT r3 item 4): each query's internal
    # persists are released after its rep pair finishes, so the
    # many-query bench session stays flat in storage memory — reps of
    # the SAME query stay back-to-back (warm), queries don't leak
    # cached blocks into each other's runs.
    from voz_spark.registry import release_caches

    def _bench(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 3)
                out[name] = min(out.get(name, dt), dt)
            release_caches(spark)
        return out

    times = _bench(HEADLINE)

    # headline frontier row: the engine's bloom seen filter and bucketed
    # seen store. Best of 3: this box sees large co-tenant wall-clock
    # swings (BENCH/BASELINE.md notes; one observed window halved a
    # single run) — the later runs are also codegen-warm.
    frontier = None
    for _ in range(3):
        r = bench_frontier_schedule(spark, n_urls=n_frontier)
        if frontier is None or r["urls_per_sec"] > frontier["urls_per_sec"]:
            frontier = r

    extra = _bench(EXTRA)
    spark.stop()

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "extra_queries": extra,
                "sf": sf_dir,
                "frontier": frontier,
                "frontier_urls_per_sec": frontier["urls_per_sec"],
            }
        )
    )


if __name__ == "__main__":
    main()
