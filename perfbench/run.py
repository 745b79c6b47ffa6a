"""Benchmark of the apde_etl_spark engine: one workload per process, one
closed-loop client, ``local[N]`` with N = ``$SPARK_GRAFT_CPUS`` (default:
the CPUs this process may run on), and the driver heap ``get_spark`` sets.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload batch-sf0.2 --seed 1 \\
        --seconds 20 --trace 0

Workloads are defined in ``workloads.py``. A run sets up (imports, input
generation or the cached-input content check, session start, warm-up),
computes every oracle, runs one cold pass over the workload's requests,
then ``ceil(--seconds / nominal pass time)`` steady passes. The nominal
pass time is a constant of each workload, so the pass count, and with it
the sample count behind every percentile, does not depend on how fast a
run goes. Every output is checked; a request that raises, times out or
returns a wrong result counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones:

- ``setup_s``: process start to the first timed request, oracles excluded;
- ``pass_s``: median over steady passes of the pass's summed request
  latencies;
- ``cold_pass_s``: the same sum for the first pass of the fresh session;
- ``latency_p50_s`` and ``latency_tail_s`` over steady requests; the tail
  is the highest percentile with at least 10 samples beyond it, or the
  maximum when that percentile would be below the median (the line
  before the JSON names it and the sample count).

The summary line also prints ``peak_rss_mb``, VmHWM of this process plus
its JVM over the passes, and the error rate (failed / attempted); both
are in the run's record. Neither is in the JSON metrics: the error rate
is ``failed`` / ``attempted`` there, and peak RSS varies too much from
run to run (the JVM sizes its heap by timing) to bound a change by. With
``--trace 1`` at least four steady passes run, traced and untraced in the
order T U U T (repeating); the metrics are the per-layer ones (median
over traced passes, see ``harness.LAYER_METRICS``), and
``trace.overhead_s`` is the traced minus the untraced median pass time.
Each run also writes a record with the host stamp, every request's
outcome and per-layer metrics, and (traced) every span, to
``perfbench/.records/``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (LAYER_METRICS, Runner, aggregate_pass,  # noqa: E402
                     median_metrics)
from spans import SparkProbe, Tracer, reset_hwm, tail_percentile, vm_hwm_kb  # noqa: E402

#: a request running longer than this is cancelled and counted failed
REQUEST_TIMEOUT_S = 60.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def host_stamp(spark_version: str | None) -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": os.cpu_count(),
        "cpus_allowed": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "spark": spark_version,
        "python": platform.python_version(),
        "commit": commit,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no __spark_entry__.py under {ROOT}: nothing to benchmark")
        return 2
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    # one work directory per run, holding its temp and Spark local dirs,
    # so whatever a run leaves behind is attributable to it
    work = os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    import tempfile
    tempfile.tempdir = None
    cache = os.path.join(HERE, ".cache")
    os.makedirs(cache, exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        return run(args, cores, work, (tmp, local), cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cores: int, work: str, hygiene: tuple[str, str], cache: str) -> int:
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}")
        return 2
    setup = {}
    t = time.perf_counter()
    import __spark_entry__  # noqa: F401 - the registry import is part of set-up

    from apde_etl_spark.operators.cache import release_scope
    from apde_etl_spark.session import get_spark
    setup["import_s"] = time.perf_counter() - t

    ctx = Context(ROOT, cache, work, log)
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    wl.prepare(ctx, args.seed)
    setup["inputs_s"] = time.perf_counter() - t
    loadavg_start = list(os.getloadavg())

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    setup["session.start_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        spark.read.parquet(wl.warm_path()).count()
        setup["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0
        ctx.spark = spark

        t = time.perf_counter()
        wl.compute_oracles(ctx)
        oracle_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid
        for pid in ("self", jvm_pid):
            reset_hwm(pid)

        tracer = Tracer(False)
        runner = Runner(tracer, SparkProbe(spark), lambda: release_scope(None),
                        cores, REQUEST_TIMEOUT_S, hygiene)
        # a fixed number of steady passes per workload and --seconds, so a
        # parent and a change do the same work and the latency
        # percentiles rest on the same sample count
        n_steady = max(4 if args.trace else 1,
                       math.ceil(args.seconds / wl.nominal_pass_s))
        passes = []  # (kind, traced, outcomes)
        for idx in range(1 + n_steady):
            if idx == 0:
                kind, traced = "cold", bool(args.trace)
            else:
                # traced and untraced steady passes in the order T U U T T U
                # ..., so a drift over the run cancels in the overhead
                kind, traced = "steady", bool(args.trace) and idx % 4 in (0, 1)
            tracer.enabled = traced
            outcomes = [runner.execute(r, f"p{idx}.{i}.{r.name}")
                        for i, r in enumerate(wl.requests(ctx, args.seed, idx))]
            wl.finish_pass(ctx)
            passes.append((kind, traced, outcomes))
            log(f"pass {idx} {kind}{' traced' if traced else ''}: "
                f"{sum(o.latency for o in outcomes):.3f}s, "
                f"{sum(o.failed for o in outcomes)} failed")
        rss_mb = {"python": vm_hwm_kb("self") / 1024, "jvm": vm_hwm_kb(jvm_pid) / 1024}
        spark_version = spark.version
    finally:
        stop_spark(spark)

    all_out = [o for _, _, outs in passes for o in outs]
    failed = [o for o in all_out if o.failed]
    steady = [(traced, outs) for kind, traced, outs in passes if kind == "steady"]
    plain = [outs for traced, outs in steady if not traced]
    lat = [o.latency for outs in plain for o in outs]
    pass_s = statistics.median(sum(o.latency for o in outs) for outs in plain)
    tail = tail_percentile(lat)
    if tail is None or tail[0] < 50:
        tail = (100.0, max(lat))
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "cold_pass_s": (sum(o.latency for o in passes[0][2]), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail[1], "s"),
    }
    error_rate = len(failed) / len(all_out)

    layer = {}
    if args.trace:
        traced_passes = [outs for traced, outs in steady if traced]
        per_pass = [aggregate_pass(outs, cores) for outs in traced_passes]
        layer = median_metrics(per_pass)
        layer["session.start_s"] = setup["session.start_s"]
        layer["trace.overhead_s"] = statistics.median(
            sum(o.latency for o in outs) for outs in traced_passes) - pass_s

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "host": {**host_stamp(spark_version), "loadavg_start": loadavg_start,
                 "loadavg_end": list(os.getloadavg())},
        "setup": setup, "oracle_s": oracle_s, "peak_rss_mb": rss_mb,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "error_rate": error_rate,
        "latency_tail_percentile": tail[0], "latency_samples": len(lat),
        "per_layer": layer,
        "passes": [{"kind": k, "traced": tr,
                    "requests": [{"rid": o.rid, "name": o.name, "latency_s": o.latency,
                                  "error": o.error, "metrics": o.metrics}
                                 for o in outs]}
                   for k, tr, outs in passes],
        "spans": tracer.dump(),
    }
    rec_dir = os.path.join(HERE, ".records")
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh)

    for o in failed:
        log(f"FAILED {o.rid}: {o.error}")
    print(f"{args.workload} seed {args.seed}: " + ", ".join(
        f"{k} {v:.4f} {u}" for k, (v, u) in e2e.items())
        + f", peak_rss_mb {sum(rss_mb.values()):.1f} MB"
        + f", error_rate {error_rate:.4f} ({len(failed)}/{len(all_out)})")
    print(f"latency_tail_s is p{tail[0]:g} over {len(lat)} steady requests; "
          f"record {os.path.relpath(rec_path, ROOT)}")
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, (u, _) in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": len(all_out),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
