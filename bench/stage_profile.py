"""Per-stage scaling profile of the frontier scheduling pipeline
(VERDICT r2 #2: schedule raw efficiency 0.63 at (6,24) vs the 0.8 bar
— find WHICH stage stops scaling).

Runs the schedule job in a fresh JVM per parallelism level with the
Spark event log enabled, then parses the log into per-stage rows:

  stage id, name (callsite), wall (completion - submission),
  sum of task run times, shuffle read/write bytes, task count

and prints an N-vs-4N side-by-side with each stage's wall ratio. A
stage whose wall does not shrink ~4x from N to 4N is the scaling
bottleneck; fixed driver-side gaps (time between stages: scheduling,
broadcast collection, cache materialization barriers) show up as
job-gap time.

Usage: python bench/stage_profile.py [--urls 16000000] [--pairs 6 24]
       [--out PATH]

The shuffle-bytes sidecar goes to --out (default
BENCH/stage_profile_latest.json, not committed); pass
--out BENCH/stage_profile_r4.json to refresh the committed baseline.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench.scaling import run_child  # noqa: E402

_CHILD = r"""
import json, os, sys, shutil
sys.path.insert(0, {repo!r})
from voz_spark.session import get_spark
from voz_spark.bench_frontier import bench_frontier_schedule
cpus = int(os.environ["VOZ_BENCH_CPUS"])
n = int(os.environ["VOZ_BENCH_URLS"])
evdir = os.environ["VOZ_EVLOG_DIR"]
shutil.rmtree(evdir, ignore_errors=True)
os.makedirs(evdir, exist_ok=True)
spark = get_spark("voz_stage_profile", master="local[" + str(cpus) + "]",
                  shuffle_partitions=cpus,
                  extra_conf={{"spark.sql.adaptive.enabled": "false",
                               "spark.eventLog.enabled": "true",
                               "spark.eventLog.compress": "false",
                               "spark.eventLog.dir": evdir}})
spark.range(1000).count()
r = bench_frontier_schedule(spark, n_urls=n, partitions=cpus * 2)
spark.stop()
print("RESULT " + json.dumps(r))
"""


def run_level(cpus: int, n_urls: int):
    evdir = f"/tmp/voz-evlog-{cpus}"
    result = run_child(
        _CHILD,
        dict(
            VOZ_BENCH_CPUS=str(cpus),
            VOZ_BENCH_URLS=str(n_urls),
            VOZ_EVLOG_DIR=evdir,
            SPARK_GRAFT_CPUS=str(cpus),
        ),
    )
    return result, parse_eventlog(evdir)


def parse_eventlog(evdir: str) -> dict:
    # Spark 4 writes rolling logs: evdir/eventlog_v2_<app>/events_* files
    files = sorted(
        (
            p
            for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
            if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        ),
        key=os.path.getmtime,
    )
    stages = {}
    jobs = []
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    st = stages.setdefault(sid, {"stage": sid})
                    st.update(
                        name=si.get("Stage Name", "")[:40],
                        wall_ms=(comp - sub) if sub and comp else 0,
                        tasks=si.get("Number of Tasks", 0),
                        sub=sub,
                        comp=comp,
                    )
                elif e == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(sid, {"stage": sid})
                    st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
                    st["cpu_ms"] = st.get("cpu_ms", 0) + m.get("Executor CPU Time", 0) // 1_000_000
                    st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                    st["max_task_ms"] = max(st.get("max_task_ms", 0), m.get("Executor Run Time", 0))
                    st["spill_mb"] = st.get("spill_mb", 0.0) + m.get("Memory Bytes Spilled", 0) / 1e6
                    sr = (m.get("Shuffle Read Metrics") or {})
                    sw = (m.get("Shuffle Write Metrics") or {})
                    st["shuf_read_mb"] = st.get("shuf_read_mb", 0.0) + (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    st["shuf_write_mb"] = st.get("shuf_write_mb", 0.0) + sw.get(
                        "Shuffle Bytes Written", 0
                    ) / 1e6
                elif e == "SparkListenerJobStart":
                    jobs.append({"job": ev["Job ID"], "start": ev.get("Submission Time")})
                elif e == "SparkListenerJobEnd":
                    for j in jobs:
                        if j["job"] == ev["Job ID"]:
                            j["end"] = ev.get("Completion Time")
    return {"stages": stages, "jobs": jobs}


def report(levels: list[tuple[int, dict, dict]]) -> None:
    # align stages by order of submission within the timed window
    for cpus, result, prof in levels:
        print(f"\n=== local[{cpus}]  wall={result['wall_sec']}s  tput={result['urls_per_sec']:,.0f}/s ===")
        st = [s for s in prof["stages"].values() if s.get("sub")]
        st.sort(key=lambda s: s["sub"])
        t0 = st[0]["sub"] if st else 0
        total_stage_wall = 0
        for s in st:
            total_stage_wall += s["wall_ms"]
            print(
                f"  s{s['stage']:>3} +{(s['sub']-t0)/1000:7.2f}s wall={s['wall_ms']/1000:7.2f}s "
                f"task={s.get('task_ms',0)/1000:7.1f}s cpu={s.get('cpu_ms',0)/1000:7.1f}s "
                f"gc={s.get('gc_ms',0)/1000:5.1f}s maxT={s.get('max_task_ms',0)/1000:6.2f}s "
                f"n={s['tasks']:>3} spill={s.get('spill_mb',0):7.0f}MB "
                f"shR={s.get('shuf_read_mb',0):7.1f}MB shW={s.get('shuf_write_mb',0):7.1f}MB  {s.get('name','?')}"
            )
        jobs = [j for j in prof["jobs"] if j.get("end")]
        jobs.sort(key=lambda j: j["start"])
        job_span = (jobs[-1]["end"] - jobs[0]["start"]) / 1000 if jobs else 0
        job_wall = sum((j["end"] - j["start"]) / 1000 for j in jobs)
        print(f"  stage-wall total={total_stage_wall/1000:.2f}s  job span={job_span:.2f}s  sum job wall={job_wall:.2f}s  gap(span-jobs)={job_span-job_wall:.2f}s")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--urls", type=int, default=int(os.environ.get("VOZ_BENCH_URLS", "16000000")))
    ap.add_argument("--pairs", type=int, nargs=2, default=[6, 24])
    ap.add_argument(
        "--out",
        default=os.path.join(REPO, "BENCH", "stage_profile_latest.json"),
        help="sidecar JSON path (default not committed)",
    )
    args = ap.parse_args()
    levels = []
    for cpus in args.pairs:
        result, prof = run_level(cpus, args.urls)
        levels.append((cpus, result, prof))
    report(levels)
    n, f = levels[0][1], levels[-1][1]
    ratio = args.pairs[1] / args.pairs[0]
    print(f"\nefficiency = {f['urls_per_sec']/n['urls_per_sec']/ratio:.3f}")
    # sidecar for BENCH/BASELINE.md's roofline section (scaling.py
    # _roofline_section): total shuffle WRITE bytes across the round's
    # stages, per input URL, at the small-N level (byte volume is
    # parallelism-independent; the small level is the less noisy one)
    shuf_mb = sum(
        s.get("shuf_write_mb", 0.0) for s in levels[0][2]["stages"].values()
    )
    sidecar = {
        "n_urls": args.urls,
        "pairs": args.pairs,
        "shuffle_write_mb_total": round(shuf_mb, 1),
        "shuffle_bytes_per_url": round(shuf_mb * 1e6 / args.urls, 1),
        "per_stage": {
            str(sid): {
                "name": s.get("name", ""),
                "shuf_write_mb": round(s.get("shuf_write_mb", 0.0), 1),
                "shuf_read_mb": round(s.get("shuf_read_mb", 0.0), 1),
                "wall_ms": s.get("wall_ms", 0),
            }
            for sid, s in levels[0][2]["stages"].items()
        },
    }
    with open(args.out, "w") as fh:
        json.dump(sidecar, fh, indent=1)
    print(f"sidecar -> {args.out} ({sidecar['shuffle_bytes_per_url']} B/URL)")


if __name__ == "__main__":
    main()
