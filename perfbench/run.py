"""Benchmark of the spark-graft engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload poll_cycle --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json): ``poll_cycle`` runs the incremental
``DreemPipeline`` over a ``StateStore`` (polls.py);
``analytics_mix`` runs registered queries over generated tables and times
an all-column digest of each result (mix.py).

Run from the root of a source checkout. Everything the run writes stays
under ``.perfbench_work/`` in that checkout and is removed at the end. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines before
it (prefixed ``#``) give the box, the error rate and every metric by name.
Exits non-zero, without a result line, when the program's source is not
there.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("poll_cycle", "analytics_mix")

E2E_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "cold_op_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
TRACE_UNITS = {"trace.overhead_s": "s", "trace.op_s_p50": "s"}


def _box() -> dict:
    mem = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                mem = round(int(line.split()[1]) / 1024)
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "mem_available_mb": mem,
    }


def _prepare_env(work: str) -> dict:
    """Environment fixed before the package is imported: the session size
    from the CPUs this process may use, and every temporary file inside
    the work directory. Returns the extra Spark configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM that spark-submit starts first would write to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # executor-side Python imports the package and the benchmark modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size: no heap resizing decisions that move peak RSS
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="tiny inputs, for the self-test"
    )
    ap.add_argument(
        "--freeze",
        action="store_true",
        help="analytics_mix: record the mix's digests in digests.json and exit",
    )
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ideafast_etl_spark", "session.py")):
        print(f"no ideafast_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    box = _box()
    conf = _prepare_env(work)
    sys.path[:0] = [HERE, ROOT]
    from ideafast_etl_spark.session import get_spark
    from pyspark import SparkContext

    import mix
    import polls
    from trace import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.workload == "analytics_mix":
            out = mix.run_mix(
                spark, args.seed, args.seconds, work, tracer, args.tiny, args.freeze
            )
            if args.freeze:
                return _freeze(out, args.tiny)
            e2e, layers = mix.metrics(out)
        else:
            shape = polls.TINY_SHAPE if args.tiny else polls.SHAPE
            out = polls.run_polls(spark, shape, args.seed, args.seconds, work, tracer)
            e2e, layers = polls.metrics(out)
        e2e["peak_rss_mb"] = _peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        _stop_jvm(spark)
    failures = out["failures"]
    attempted = out["attempted"]
    if args.trace:
        layers["trace.overhead_s"] = tracer.overhead_s / max(1, out["ops"])
        layers["trace.op_s_p50"] = e2e["op_s_p50"]
        # every workload reports every layer; one it never enters reads 0
        units = {**polls.LAYER_UNITS, **mix.LAYER_UNITS, **TRACE_UNITS}
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    for f in failures:
        print(f"# FAILED {f}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "session_start_s": round(session_s, 3),
        "ops": out["op_log"],
        "error_rate": len(failures) / max(1, attempted),
        "box": box,
    }
    print("# " + json.dumps(summary))
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


def _freeze(out: dict, tiny: bool) -> int:
    import mix

    if out["failures"]:
        print("\n".join(out["failures"]), file=sys.stderr)
        return 1
    frozen = {}
    if os.path.exists(mix.DIGESTS):
        with open(mix.DIGESTS) as fh:
            frozen = json.load(fh)
    frozen["tiny" if tiny else "full"] = out["digests"]
    with open(mix.DIGESTS, "w") as fh:
        json.dump(frozen, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out['digests'])} digests to {mix.DIGESTS}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
