"""Closed-loop benchmark of the customer_er_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One Spark session on local[nproc];
inputs are generated from --seed under .bench_work/ in the checkout (the
set-up), then rounds run back to back until --seconds have passed.  There
is no warm-up: the first round pays JIT, codegen and Python-worker start,
as a batch job submitted per run does (see README.md).  Every operation's
output is checked.  The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer table
(see perfbench/README.md).  Host context goes to stderr as metadata only;
it never selects, drops or retries a run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import proc  # noqa: E402  (perfbench/, the script's directory)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_context() -> dict:
    """Metadata only: never used to select, drop or retry a run."""
    steal, total = proc.host_steal()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_jiffies": steal,
        "total_jiffies": total,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def end_to_end(rounds: list[list], setup_s: float) -> dict:
    """setup_s, and the median over rounds of the round's CPU seconds.
    Failed rounds count only if every round failed."""
    good = [r for r in rounds if all(op.ok for op in r)] or rounds
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "round_cpu_s": {"value": statistics.median(
            sum(op.cpu_s for op in r) for r in good), "unit": "s"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "customer_er_spark", "__init__.py")):
        print("perfbench: the customer_er_spark package is not in this "
              f"checkout ({ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "eventlog"))
    proc.confine(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    nproc = len(os.sched_getaffinity(0))
    context = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "size": args.size,
               "host_before": host_context()}

    from customer_er_spark.config import ERConfig
    from customer_er_spark.session import get_spark

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
    } if args.trace else {}
    t_session = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    session_s = time.perf_counter() - t_session
    import pyarrow
    import pyspark

    context["versions"] = {"spark": spark.version, "pyspark": pyspark.__version__,
                           "pyarrow": pyarrow.__version__,
                           "python": sys.version.split()[0]}
    rounds: list[list] = []
    try:
        from spans import NullTracer, Tracer

        tracer = Tracer(spark) if args.trace else NullTracer()
        tracer.install()
        cfg = ERConfig(shuffle_partitions=nproc)
        cls, sizes = workloads.WORKLOADS[args.workload], workloads.SIZES[args.workload]
        wl = cls(spark, cfg, work, args.seed, sizes[args.size], tracer)
        wl.prepare()
        setup_s = time.perf_counter() - T_START

        sampler = proc.RssSampler() if args.trace else None
        if sampler:
            sampler.start()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds:
            tracer.round = len(rounds)
            rounds.append(wl.round())
        tracer.round = -1
        peak_rss = sampler.stop() if sampler else None
        metrics = end_to_end(rounds, setup_s)
        context["rounds"] = [[(op.name, round(op.seconds, 3), round(op.cpu_s, 2), op.ok)
                              for op in r] for r in rounds]
        context["failed_ops"] = [(op.name, op.extra) for r in rounds
                                 for op in r if not op.ok]
        context.update(wl.context)
        if args.trace:
            context["missing_spans"] = tracer.missing
    finally:
        proc.stop_spark(spark)
    context["host_after"] = host_context()
    context["e2e"] = {k: v["value"] for k, v in metrics.items()}
    if args.trace:
        import layers

        metrics = layers.per_layer(
            tracer, os.path.join(work, "eventlog"), rounds, session_s, peak_rss)
    shutil.rmtree(work, ignore_errors=True)
    ops = [op for r in rounds for op in r]
    failed = sum(not op.ok for op in ops)
    print(json.dumps(context, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
