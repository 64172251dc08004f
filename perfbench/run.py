"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_batch,query_mix,ann_serve} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds a ``local[nproc]`` session through
``session.get_spark``, makes the workload's inputs from ``--seed``, sets up
and warms up, then runs whole rounds of the workload's closed loop until
``--seconds`` have passed and the workload's minimum number of rounds has
run. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The lines before
it are a readable report. Exits 1 when a correctness check failed and 2
when the library cannot be imported.

Everything the run writes goes under ``.perfbench/`` in the working
directory: a per-run scratch directory (removed at exit), the span dump
of traced runs, and the per-seed job/stage-count record that a later run
of the same code, workload and seed must match exactly.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
# The sources whose change may change job counts and plan shapes.
CODE_DIRS = ("soccer_data_pipeline_spark", "perfbench")


def _metric_lists() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(end_to_end, per_layer) as (name, unit) pairs from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        [(m["name"], m["unit"]) for m in spec["per_layer"]],
    )


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stamp(spark) -> dict:
    try:
        with open("/proc/sys/kernel/random/boot_id") as fh:
            boot = fh.read().strip()
    except OSError:
        boot = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "python": platform.python_version(),
        "boot_id": boot,
    }


def _stop_jvm() -> None:
    """Close the py4j gateway and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def code_version(root: str, spark_version: str) -> str:
    """Digest of the library and benchmark sources and the Spark version."""
    h = hashlib.sha256(spark_version.encode())
    for top in CODE_DIRS:
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def check_counts(path: str, signatures: dict) -> list[str]:
    """Compare this run's per-op job/stage counts and plan fingerprints with
    the record at ``path`` (same code, workload and seed), then write the
    merged record, this run's entries replacing older ones."""
    earlier = {}
    if os.path.exists(path):
        with open(path) as fh:
            earlier = json.load(fh)
    errors = [
        f"{key}: counts {sig} differ from an earlier run's {earlier[key]}"
        for key, sig in sorted(signatures.items())
        if key in earlier and earlier[key] != sig
    ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({**earlier, **signatures}, fh, sort_keys=True)
    os.replace(tmp, path)
    return errors


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_batch", "query_mix", "ann_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    END_TO_END, PER_LAYER = _metric_lists()

    sys.path.insert(0, ROOT)
    try:
        import soccer_data_pipeline_spark.session  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    from perfbench import workloads
    from perfbench.spark_metrics import StatusCollector
    from perfbench.trace import Tracer
    from soccer_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = None
    setup: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cores=cores,
            extra_conf={
                # the bench.py split settings: small files spread over cores
                "spark.sql.files.maxPartitionBytes": "2m",
                "spark.sql.files.openCostInBytes": "262144",
                # Spark's default cache of 100 generated classes is smaller
                # than what the query_mix roster generates (~125), so a pass
                # repeated in one session evicts and recompiles every class
                # (an LRU cycle) and the JIT starts over on the new ones,
                # which no single pass of the registry does
                "spark.sql.codegen.cache.maxEntries": "1000",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(work, "spark-local"),
                # start every JIT and GC thread with the JVM, so that
                # StatusCollector can leave their CPU time out of each op's
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"
                " -XX:-UseDynamicNumberOfCompilerThreads -XX:-UseDynamicNumberOfGCThreads",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job, stage and SQL execution of a run attributable
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        setup["session.get_spark_s"] = time.perf_counter() - t0
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            work=work, cores=cores, setup=setup,
            tracer=Tracer(), collector=StatusCollector(spark),
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        ctx.tracer.enabled = False
        ctx.tracer.unwrap_all()
        stamp = _stamp(spark)
        record = os.path.join(
            OUT, "counts", code_version(ROOT, stamp["spark"]), f"{args.workload}-seed{args.seed}.json"
        )
        mismatches = check_counts(record, ctx.signatures)
        ctx.errors.extend(mismatches)
        ctx.failed = min(ctx.attempted, ctx.failed + len(mismatches))
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    except Exception:  # noqa: BLE001 - report and exit without a result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    lat = res.latencies
    e2e = {
        "setup_s": (ctx.first_op_at or time.perf_counter()) - T_START,
        "op_cpu_s": res.op_cpu_s,
    }
    # Reported but not bounded: on a shared 4-core host the wall-clock
    # figures of one run's few ops move by more than a quarter from run
    # to run, fewer than ten samples lie beyond a p90, and peak RSS moves
    # with JVM heap growth by more than a tenth.
    extra = {
        "op_p50_s": workloads.median(lat),
        "op_p90_s": workloads.pct(lat, 0.9),
        "items_per_s": res.items / res.busy_s if res.busy_s else 0.0,
        "peak_rss_mb": peak_rss,
    }
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    correct = not ctx.errors and ctx.attempted > 0

    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# " + json.dumps(stamp, sort_keys=True))
    print("# load: closed loop, 1 client thread, in-process local[%d] driver" % cores)
    for name, unit in END_TO_END:
        print(f"{name:48s} {e2e[name]:14.6f} {unit}")
    for name, unit in (("op_p50_s", "s"), ("op_p90_s", "s"), ("items_per_s", "items/s"),
                       ("peak_rss_mb", "MB")):
        print(f"{name:48s} {extra[name]:14.6f} {unit}")
    print(f"{'error_rate':48s} {error_rate:14.6f} fraction")
    print(f"{'op_samples':48s} {len(lat):14d} count")
    print(f"{'jit_settle_s':48s} {ctx.settle_s:14.6f} s")
    for name, value, unit in res.report:
        print(f"{name:48s} {value:14.6f} {unit}")
    for name, value in sorted(setup.items()):
        print(f"{name:48s} {value:14.6f} s")
    for e in ctx.errors:
        print(f"# FAILED CHECK: {e}")

    if args.trace:
        layers = {**setup, **res.layers, **extra}
        layers["error_rate"] = error_rate
        layers["trace.overhead_s"] = workloads.tracing_overhead(res.overhead)
        # The result line carries every per-layer metric; one this workload
        # does not measure is 0 there, and the reason is printed here.
        for name, unit in PER_LAYER:
            if name in layers:
                print(f"{name:48s} {layers[name]:14.6f} {unit}")
            else:
                why = res.missing.get(name, f"not measured by {args.workload}")
                print(f"{name:48s} {'n/a':>14s} ({why})")
        listed = {name for name, _ in PER_LAYER}
        for name in sorted(set(res.layers) - listed):
            print(f"{name:48s} {res.layers[name]:14.6f} (not in BENCHMARK.json)")
        spans = os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as fh:
            json.dump([s.__dict__ for s in ctx.tracer.spans], fh)
        metrics = {
            name: {"value": float(layers.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER
        }
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END}

    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
