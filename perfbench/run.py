"""CodeRAG benchmark command.

    python3 perfbench/run.py --workload ingest_corpus --seed 1 --seconds 10 --trace 0

Runs one seeded workload (see workloads.py and README.md) against the
engine's public entry points in a single process on `local[4]`, checks
the outputs, and prints as its LAST stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the layers (tracing.py) and
reports the per-layer metrics, writes the spans under
``.perfbench/traces/``, and prints the tracing overhead against the
last untraced run of the same workload and seed. Exit code 0 only when
every output checked correct.

All scratch data lives under ``.perfbench/`` in the checkout; the run's
work dir is removed at exit, and Spark's local dirs and temp files live
there too.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DRIVER_MEM = "2g"


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the work dir; let the Python workers import the engine and this
    package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output before the checks (self-test)")
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digests in perfbench/expected.json")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "githubrepostorag_spark")):
        print(f"no engine package beside {os.path.dirname(__file__)!r}: "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    W.clean(work)
    _env(work)
    try:
        return _run(args, W, base, work)
    finally:
        W.clean(work)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _run(args, W, base: str, work: str) -> int:
    from githubrepostorag_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    t_session = time.perf_counter()
    tracer = None
    if args.trace:
        from perfbench import tracing

        tracer = tracing.Tracer(spark)
        tracing.install(tracer)
    run = W.Run(spark, work, args.workload, args.seed, args.seconds, args.size,
                tracer=tracer, corrupt=args.corrupt)
    try:
        W.WORKLOADS[args.workload](run)
    finally:
        for q in spark.streams.active:
            q.stop()
    t_m0 = run.window[0]
    run.info["session_start_s"] = t_session - T_PROCESS
    run.info["warmup_s"] = t_m0 - t_session
    e2e = dict(setup_s=(t_m0 - T_PROCESS, "s"), **run.metrics)
    peak_rss = e2e.pop("peak_rss_mb")

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-{args.seed}-{args.seconds:g}"
    overhead = {}
    if tracer is not None:
        from perfbench import tracing

        metrics = tracing.layer_metrics(run, tracer)
        metrics["process.peak_rss_mb"] = peak_rss
        run.digests["counts"] = tracing.exact_counts_digest(args.workload, metrics)
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, stem + ".spans.jsonl"), t_m0)
        try:
            with open(os.path.join(results, stem + ".json")) as f:
                plain = json.load(f)
            overhead = {k: v - plain[k] for k, (v, _) in e2e.items() if k in plain}
        except FileNotFoundError:
            pass
    else:
        metrics = e2e
        with open(os.path.join(results, stem + ".json"), "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
    _stop_spark(spark)

    run.check_recorded()
    failed = len(run.failures)
    attempted = max(run.attempted, failed, 1)
    correct = failed == 0
    if args.record and correct:
        run.record()
    for f in run.failures[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    run.mark("checks")
    run.info["phases_s"] = " ".join(
        f"{n}={t - run.marks[i][1]:.1f}" for i, (n, t) in enumerate(run.marks[1:]))
    run.info["digests"] = run.digests
    for k, v in sorted(run.info.items()):
        print(f"# {k}: {v}")
    tag = " (traced)" if tracer else ""
    for k, (v, unit) in sorted(e2e.items()):
        print(f"# e2e {k} = {v:.6g} {unit}{tag}")
    print(f"# e2e ops_failed_frac = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(f"# peak_rss_mb = {peak_rss[0]:.6g} MB")
    if tracer is not None:
        if overhead:
            for k, v in sorted(overhead.items()):
                print(f"# trace overhead {k} = {v:+.6g} {e2e[k][1]} (traced - untraced)")
        else:
            print("# trace overhead: run the same workload, seed and seconds with --trace 0 first")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
