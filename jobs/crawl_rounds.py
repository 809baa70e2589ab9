"""Crawl-round job: the spark-submit entry point for the frontier
engine (north_rule: "ships via spark-submit --py-files").

Usage (local dev):
    python jobs/crawl_rounds.py --workdir /tmp/crawl --seeds 30 --images 2000

Usage (cluster):
    python jobs/make_pyfiles.py   # → dist/voz_spark.zip
    spark-submit --py-files dist/voz_spark.zip jobs/crawl_rounds.py \
        --workdir hdfs://.../crawl --seeds 200 --images 1000000

Re-running with the same --workdir resumes from the last committed
round (exact, by snapshot-catalog atomicity).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from voz_spark.config import DEFAULT, CrawlConfig

    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--seeds", type=int, default=30)
    ap.add_argument("--images", type=int, default=2000)
    ap.add_argument("--rounds", type=int, default=None, help="max rounds this invocation")
    ap.add_argument("--thread-limit", type=int, default=None)
    ap.add_argument("--include-sticky", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--bloom-broadcast-max-bytes",
        type=int,
        default=DEFAULT.bloom_broadcast_max_bytes,
        help="also bounds the seen filter's delta: it folds above 1/8 of this",
    )
    args = ap.parse_args()

    from voz_spark.rounds import CrawlEngine
    from voz_spark.session import get_spark

    spark = get_spark("voz_crawl_rounds", master=args.master)
    eng = CrawlEngine(
        spark,
        args.workdir,
        n_seeds=args.seeds,
        n_images=args.images,
        thread_limit=args.thread_limit,
        include_sticky=args.include_sticky,
        cfg=CrawlConfig(bloom_broadcast_max_bytes=args.bloom_broadcast_max_bytes),
    )
    t0 = time.time()
    stats = eng.run(max_rounds=args.rounds, verbose=True)
    wall = time.time() - t0
    scheduled = sum(s["n_scheduled"] for s in stats)
    deduped = sum(s["n_candidates"] - s["n_new"] for s in stats)
    print(
        json.dumps(
            {
                "rounds": len(stats),
                "resumed_from_round": stats[0]["round_id"] - 1 if stats else eng.last_round(),
                "urls_scheduled": scheduled,
                "urls_deduped": deduped,
                "wall_sec": round(wall, 2),
                "urls_per_sec": round((scheduled + deduped) / wall, 1) if wall > 0 else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
