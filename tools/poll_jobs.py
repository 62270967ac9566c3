"""Spark jobs and state commits per poll of the benchmark's poll workload.

    python3 tools/poll_jobs.py --seed 41 --seconds 15 [--tiny]

Runs ``perfbench``'s poll cycle with tracing on, set up the way
``perfbench/run.py --workload poll_cycle --trace 1`` sets it up (same
session configuration, same work directory under ``.perfbench_work/``,
removed at the end), and reads the jobs and wall time of every ``poll``
span. Prints, per poll kind (delta, idle, backlog), the median jobs and
the median wall seconds per poll (the first poll runs cold and is left out
of the seconds), then the per-poll state figures (``state.commits``,
``state.merge_s``, ``state.bytes_written``); the last line is the same as one JSON object.
Exits 1 when a poll's count check or the final-state check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--seed", type=int, default=41)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)
    sys.path[:0] = [BENCH, ROOT]
    import run as bench_run

    work = os.path.join(ROOT, ".perfbench_work", f"poll_jobs-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conf = bench_run._prepare_env(work)
        import polls
        from trace import Tracer

        from ideafast_etl_spark.session import get_spark

        spark = get_spark("poll-jobs", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            shape = polls.TINY_SHAPE if args.tiny else polls.SHAPE
            tracer = Tracer(spark, enabled=True)
            out = polls.run_polls(spark, shape, args.seed, args.seconds, work, tracer)
            _, layers = polls.metrics(out)
        finally:
            bench_run._stop_jvm(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    jobs: dict[str, list[int]] = {kind: [] for kind in polls.CYCLE}
    wall: dict[str, list[float]] = {kind: [] for kind in polls.CYCLE}
    for i, s in enumerate(x for x in out["spans"] if x.name == "poll"):
        kind = polls.CYCLE[i % len(polls.CYCLE)]
        jobs[kind].append(s.jobs)
        if i:
            wall[kind].append(s.seconds)
    result = {
        "jobs_per_poll": {k: statistics.median(v) for k, v in jobs.items() if v},
        "seconds_per_poll": {
            k: round(statistics.median(v), 3) for k, v in wall.items() if v
        },
        "polls": out["ops"],
        **{
            k: layers[k]
            for k in ("state.commits", "state.merge_s", "state.bytes_written")
        },
        "failures": out["failures"],
    }
    for kind, n in result["jobs_per_poll"].items():
        secs = result["seconds_per_poll"].get(kind)
        print(
            f"# {kind}: {n} Spark jobs per poll (median of {len(jobs[kind])}), "
            + (f"{secs:.3f} s per warm poll (median of {len(wall[kind])})"
               if secs is not None else "no warm poll")
        )
    for k in ("state.commits", "state.merge_s", "state.bytes_written"):
        print(f"# {k} = {result[k]:.6g} per poll")
    for f in out["failures"]:
        print(f"# FAILED {f}", file=sys.stderr)
    print(json.dumps(result))
    return 1 if out["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
