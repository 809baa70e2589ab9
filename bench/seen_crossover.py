"""Plain vs bucketed seen-store at 64M frontier URLs (VERDICT r4
item 5): the bucketed seen index (hash-bucketed, bucket-sorted table;
voz_spark/seen_index.py layout) is the 10^10 design point — the seen
side of the exact anti-join must never shuffle when it holds 10^10
rows. At the 16M-URL bench size the published r4 row showed it ~1.6%
SLOWER than the plain persisted-DataFrame store (the bucket-layout
read pays small fixed costs while the plain seen side is only ~6M
rows — cheap to shuffle). This harness runs the identical scheduling
round at 64M URLs / 24M preloaded seen (the r2 archives prove 64M
fits this VM) for both stores and publishes the pair, so the README's
crossover claim carries a measured point instead of an extrapolation.

Each store runs in its own fresh JVM (fair codegen/alloc state),
load-gated like bench/scaling.py, 2 in-JVM repeats with the best
kept (both repeats published). Writes BENCH/frontier_bucketed_64m.json
and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench.scaling import run_child  # noqa: E402

_CHILD = r"""
import dataclasses, json, os, sys
sys.path.insert(0, {repo!r})
from voz_spark.session import get_spark
from voz_spark.bench_frontier import bench_frontier_schedule
from voz_spark.config import DEFAULT
cpus = int(os.environ["VOZ_BENCH_CPUS"])
n = int(os.environ["VOZ_BENCH_URLS"])
store = os.environ["VOZ_BENCH_STORE"]
cfg = dataclasses.replace(DEFAULT, seen_store=store)
spark = get_spark("voz_crossover", master="local[" + str(cpus) + "]",
                  shuffle_partitions=cpus,
                  extra_conf={{"spark.sql.adaptive.enabled": "false",
                               "spark.sql.broadcastTimeout": "1800"}})
spark.range(1000).count()
runs = []
for _ in range(int(os.environ.get("VOZ_BENCH_REPEATS", "2"))):
    runs.append(bench_frontier_schedule(spark, n_urls=n, cfg=cfg,
                                        partitions=cpus * 2))
spark.stop()
best = max(runs, key=lambda r: r["urls_per_sec"])
print("RESULT " + json.dumps({{"best": best, "runs": runs}}))
"""


def run_store(store: str, cpus: int, n_urls: int) -> dict:
    return run_child(
        _CHILD,
        dict(VOZ_BENCH_CPUS=str(cpus), VOZ_BENCH_URLS=str(n_urls), VOZ_BENCH_STORE=store),
        timeout=3600,
    )


def main() -> None:
    cpus = int(os.environ.get("VOZ_BENCH_CPUS", "32"))
    n_urls = int(os.environ.get("VOZ_BENCH_URLS", "64000000"))
    plain = run_store("plain", cpus, n_urls)
    bucketed = run_store("bucketed", cpus, n_urls)
    ratio = round(
        bucketed["best"]["urls_per_sec"] / plain["best"]["urls_per_sec"], 4
    )
    out = {
        "metric": "seen_store_crossover",
        "n_urls": n_urls,
        "cpus": cpus,
        "seen_preloaded": plain["best"]["n_seen_preloaded"],
        "plain": plain,
        "bucketed": bucketed,
        "bucketed_over_plain": ratio,
    }
    path = os.path.join(
        REPO, "BENCH", f"frontier_bucketed_{n_urls // 1_000_000}m.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
