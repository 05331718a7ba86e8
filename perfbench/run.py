"""Layered benchmark for the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client in one process drives a
local[4] session in a closed loop: the next op starts when the previous one
returns. Prints one human-readable line per metric, then, as the last line,
one JSON object {correct, attempted, failed, metrics}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 a separate, traced run
reports the per-layer split. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
# the timed fixture and the fixture of the oracle checks
SF, ORACLE_SF = 0.1, 0.001


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(run_dir: str, traced: bool):
    from skiliopay_datapipeline_customer_spark import session

    # keep the JVM's temporary files (artifacts, native libraries) inside the
    # run directory, and its perf-data file out of /tmp
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and its Python
    workers have exited."""
    from perfbench.stats import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def warm_page_cache(sf_dir: str) -> None:
    """Read the timed fixture once, so no op pays a cold-disk first read."""
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            while f.read(1 << 24):
                pass


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0


def timed_passes(workload, ctx, seconds: float, first_idx: int = 0) -> None:
    """Run whole passes until ``seconds`` have elapsed (at least one). A
    pass is timed as the sum of its ops' wall times, which leaves out the
    harness's cleanup between ops."""
    t_end = time.perf_counter() + seconds
    idx = first_idx
    while True:
        busy0 = ctx.ledger.busy_s
        with ctx.tracer.span("pass"):
            workload.run_pass(ctx, idx)
        ctx.ledger.passes.append(ctx.ledger.busy_s - busy0)
        idx += 1
        if time.perf_counter() >= t_end:
            return


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    try:
        import skiliopay_datapipeline_customer_spark  # noqa: F401

        from perfbench import fixtures, metrics, trace
        from perfbench.workloads import WORKLOADS, Context, Ledger
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "scripts", "gen_sf.py")):
        print("perfbench: scripts/gen_sf.py is missing", file=sys.stderr)
        return 2
    args = parse_args(argv)

    sf_dir = fixtures.ensure(ROOT, WORK, SF)
    oracle_dir = fixtures.ensure(ROOT, WORK, ORACLE_SF)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python's and the workers' temporary files go there too
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    workload = WORKLOADS[args.workload]()
    tracer = trace.Tracer()
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            ctx = Context(spark, args.workload, args.seed, run_dir, sf_dir, oracle_dir, tracer)
            warm_page_cache(sf_dir)
            workload.setup(ctx)
            setup_s = time.perf_counter() - T_PROCESS
            if args.trace:
                # an untraced pass so that the traced passes are not the
                # first at sf0.1, the traced passes, then an untraced
                # reference pass for trace.overhead; only the traced passes
                # reach the ledger
                gated, ctx.ledger = ctx.ledger, Ledger()
                timed_passes(workload, ctx, 0)
                ctx.ledger = gated
                trace.install(tracer, workload.traced_modules)
                gc0 = jvm_gc_s(spark)
                tracer.enabled = True
                timed_passes(workload, ctx, args.seconds, first_idx=1)
                tracer.enabled = False
                gc_s = jvm_gc_s(spark) - gc0
                tracer.restore()
                gated, ctx.ledger = ctx.ledger, Ledger()
                timed_passes(workload, ctx, 0, first_idx=len(gated.passes) + 1)
                untraced = ctx.ledger.passes[0]
                ctx.ledger = gated
            else:
                timed_passes(workload, ctx, args.seconds)
            rss_mb = metrics.peak_rss_mb()
        finally:
            stop_session(spark)
        if args.trace:
            log = trace.read_event_log(os.path.join(run_dir, "eventlog"))
            result = metrics.per_layer(
                ctx, tracer, log, session_s=session_s, untraced_pass_s=untraced, gc_s=gc_s
            )
            extra = [metrics.host_line(ctx.ledger), *metrics.layer_notes(tracer, log)]
        else:
            result = metrics.end_to_end(ctx, setup_s=setup_s, rss_mb=rss_mb)
            extra = [
                metrics.host_line(ctx.ledger),
                *metrics.op_percentiles(ctx),
                *metrics.op_lines(ctx),
            ]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics.report(args.workload, ctx.ledger, result, extra)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
