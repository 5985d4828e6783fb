"""qfspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload unique --seed 1 --seconds 20 --trace 0

Run from the root of a qfspark checkout. The run generates the workload's
input from the seed, writes it as parquet, drives the library's public entry
points on a ``local[2]`` Spark session, checks the outputs, and prints one
JSON object as the last line of standard output::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of a traced run, which first makes a paired
untraced run with the same seed and rounds in a child process, to measure the
tracing overhead against. ``--repeat N`` instead runs the workload N times
back to back (seeds seed..seed+N-1) and prints each metric's median,
quartiles and spread. See perfbench/README.md.

Exit codes: 0 all outputs correct; 1 an output check failed or a call raised
(the result line says how many); 2 the library or Spark is missing; 3 the run
is invalid (a path switch, a missing C kernel, reference counts that disagree
with the generator, or a traced stream batch off the insert branch) and is
not reported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import checks, stats, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#: A run that is still going after this many seconds raises, so it stops
#: Spark and reports a failure instead of overrunning its 180 s limit. A
#: traced run is two processes, the paired untraced run and the traced one,
#: each with its own deadline; the two add up to less than 180 s too.
DEADLINE_S = 170
PAIR_DEADLINE_S = 72
TRACED_DEADLINE_S = 100

#: After one untimed warm-up round, timed rounds run until --seconds have
#: passed, but at least this many: the sharded build, called twice a round,
#: then has six timed samples.
MIN_ROUNDS = 3
#: A traced run and its paired untraced run time exactly this many rounds.
TRACE_ROUNDS = 2

END_TO_END = {
    "setup_s": "s",
    "build_rows_per_s": "rows/s",
    "sharded_build_rows_per_s": "rows/s",
    "probe_rows_per_s": "rows/s",
    "bytes_per_key": "B/key",
    "driver_peak_rss_mb": "MB",
}

PER_LAYER = {
    "build.qf.jobs": "count",
    "build.qf.spark_s": "s",
    "build.qf.driver_s": "s",
    "build.sharded.jobs": "count",
    "build.sharded.spark_s": "s",
    "build.sharded.driver_s": "s",
    "build.sharded.shuffle_bytes": "B",
    "build.sharded.udf_stage_s": "s",
    "build.sharded.gc_ms": "ms",
    "build.sharded.shard_secs_sum": "s",
    "build.sharded.shard_secs_max": "s",
    "build.sharded.rows_skew": "ratio",
    "sources.estimate_s": "s",
    "lookup.annotate.jobs": "count",
    "lookup.annotate.spark_s": "s",
    "lookup.annotate.task_s": "s",
    "lookup.annotate.broadcast_bytes": "B",
    "lookup.annotate.cold_s": "s",
    "lookup.shard.rows_per_s": "rows/s",
    "lookup.shard.jobs": "count",
    "lookup.shard.spark_s": "s",
    "lookup.shard.shuffle_bytes": "B",
    "lookup.shard.gc_ms": "ms",
    "streaming.keys_per_s": "keys/s",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "streaming.state_update_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_memory_bytes": "B",
    "streaming.emit_ratio": "ratio",
    "kernel.from_hashes_rows_per_s": "rows/s",
    "kernel.fill_keys_per_s": "keys/s",
    "kernel.merge_many_keys_per_s": "keys/s",
    "kernel.build_index_s": "s",
    "kernel.index_probes_per_s": "probes/s",
    "kernel.walk_probes_per_s": "probes/s",
    "kernel.insert_keys_per_s": "keys/s",
    "ckernel.loaded": "bool",
    "ckernel.load_s": "s",
    "serde.to_bytes_mb_per_s": "MB/s",
    "serde.from_bytes_mb_per_s": "MB/s",
    "serde.state_bytes_per_batch": "B",
    "trace.overhead_share": "ratio",
}


class InvalidRun(Exception):
    """The run measured something other than what it claims to measure."""


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat: time the
    hypervisor ran something else while this machine wanted a CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def reset_peak_rss() -> None:
    """Reset this process's peak resident set size (VmHWM) to its current
    one."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's peak resident set size since the last reset, in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.SPECS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run the workload this many times and print each "
                         "metric's median, quartiles and spread")
    # the untraced half of a traced run: time the traced run's rounds
    # untraced, and write the run record to this file
    ap.add_argument("--pair-record", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def find_library() -> str | None:
    """Import qfspark from this checkout (never from elsewhere) and pyspark;
    returns why that failed, or None."""
    try:
        import pyspark  # noqa: F401
        import qfspark
    except ImportError as e:
        return f"cannot import the library: {e}"
    where = Path(qfspark.__file__).resolve()
    if ROOT not in where.parents:
        return f"qfspark at {where} is not this checkout's ({ROOT})"
    return None


def build_path(driver) -> str:
    """The path ``build_qf`` takes on this input: its action-free row
    estimate against SMALL_BUILD_COLLECT_ROWS, from the library's public
    estimator and constant."""
    from pyspark.sql import functions as F
    from qfspark.build import SMALL_BUILD_COLLECT_ROWS
    from qfspark.sources import approx_row_count

    est = approx_row_count(driver.build_df.select(F.xxhash64("url")),
                           fallback_count=False)
    small = est is not None and est <= SMALL_BUILD_COLLECT_ROWS
    return "small-collect" if small else "partial"


def run_pair(args) -> dict:
    """Run the untraced half of a traced run in a child process, with the
    same seed and rounds; returns its per-operation median call times."""
    import subprocess

    results = ROOT / ".bench_build" / "perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    path = results / f"pair-{args.workload}-s{args.seed}-{os.getpid()}.json"
    res = subprocess.run([sys.executable, str(Path(__file__).resolve()),
                          "--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", "0",
                          "--pair-record", str(path)],
                         stdout=subprocess.DEVNULL,
                         timeout=PAIR_DEADLINE_S + 3)
    if res.returncode == 3:
        raise InvalidRun("the paired untraced run is invalid")
    if res.returncode != 0:
        raise RuntimeError(f"the paired untraced run exited {res.returncode}")
    return json.loads(path.read_text())["op_median_s"]


def run(args, rec: dict, untraced_ref: dict | None) -> None:
    """One run. Fills ``rec`` as it goes, so a run cut short by an exception
    still reports how many operations it attempted."""
    bench = ROOT / ".bench_build" / "perfbench"
    results = bench / "results"
    work = bench / f"run-{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    results.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything the run, Spark and the Python workers write stays here
    os.environ["XDG_CACHE_HOME"] = str(bench / "cache")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    import tempfile
    tempfile.tempdir = None
    traced = bool(args.trace)
    paired = traced or bool(args.pair_record)
    spark = driver = None
    tracer = Tracer(False)
    try:
        t0 = time.perf_counter()
        wl = workloads.generate(args.workload, args.seed)
        workloads.write_table(wl.build, str(work / "build"))
        workloads.write_table(wl.probe, str(work / "probe"))
        if traced:
            from perfbench import layers

            stream_batches = workloads.stream_batches(wl.build, args.seed)
            layers.write_stream_input(stream_batches, str(work / "stream-in"))
        n_build, n_probe = wl.build.num_rows, wl.probe.num_rows
        rec["gen_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        ref = checks.reference_counts(wl.build, wl.probe)
        if not (ref == wl.probe_truth).all():
            raise InvalidRun("the reference counts disagree with the generator")
        del wl
        rec["ref_s"] = time.perf_counter() - t0

        from perfbench import ops

        t0 = time.perf_counter()
        spark = ops.start_session(str(work),
                                  str(work / "events") if traced else None)
        rec["session_s"] = time.perf_counter() - t0
        import numpy
        import pyarrow
        import pyspark

        rec["provenance"] = {
            "nproc": os.cpu_count(),
            "task_slots": spark.sparkContext.defaultParallelism,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0],
        }
        tracer = Tracer(traced, spark.sparkContext)
        driver = ops.Driver(spark, tracer, str(work / "build"),
                            str(work / "probe"), str(work), n_build, n_probe)
        with tracer.span("setup"):
            from qfspark import ckernel

            t0 = time.perf_counter()
            loaded = ckernel.get_kernel() is not None
            rec["kernel_load_s"] = time.perf_counter() - t0
            rec["provenance"]["ckernel_loaded"] = loaded
            if not loaded:
                raise InvalidRun("the C kernel did not load on the driver")
            rec["provenance"]["build_qf_path"] = build_path(driver)
            for op in driver.OPS:
                driver.call(op)
        setup_s = rec["kernel_load_s"] + sum(
            c.times[0] for c in driver.calls.values())

        round_ops = driver.TRACED_ROUND if paired else driver.ROUND
        with tracer.span("warmup"):
            for op in round_ops:
                driver.call(op)
        driver.start_timing()
        reset_peak_rss()
        steal0 = cpu_steal()
        with tracer.span("timed"):
            t0, rounds = time.perf_counter(), 0

            def more() -> bool:
                if paired:
                    return rounds < TRACE_ROUNDS
                return (rounds < MIN_ROUNDS
                        or time.perf_counter() - t0 < args.seconds)

            while more():
                for op in round_ops:
                    driver.call(op)
                rounds += 1
        rss_mb = peak_rss_mb()
        steal1 = cpu_steal()
        rec["provenance"]["cpu_steal_share"] = (
            (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
        rec["rounds"] = rounds
        rec["calls_s"] = {op: c.times for op, c in driver.calls.items()}
        rec["op_median_s"] = {op: stats.median(c.warm)
                              for op, c in driver.calls.items() if c.warm}

        # guards: the run must have measured one path throughout
        rec["provenance"]["exchange"] = driver.exchanges[0]
        if len(set(driver.exchanges)) != 1:
            raise InvalidRun(f"exchange changed between calls: "
                             f"{driver.exchanges}")
        if build_path(driver) != rec["provenance"]["build_qf_path"]:
            raise InvalidRun("build_qf path changed between calls")

        t0 = time.perf_counter()
        with tracer.span("checks"):
            rec["checks"] = run_checks(driver, ref, rec)
        rec["checks_s"] = time.perf_counter() - t0

        if traced:
            metrics = traced_layers(args, rec, driver, tracer, spark, work,
                                    stream_batches, untraced_ref)
        else:
            from qfspark.serde import qf_to_bytes

            med = rec["op_median_s"]
            metrics = {
                "setup_s": setup_s,
                "build_rows_per_s": n_build / med["build.qf"],
                "sharded_build_rows_per_s": n_build / med["build.sharded"],
                "probe_rows_per_s": n_probe / med["lookup.annotate"],
                "bytes_per_key": len(qf_to_bytes(driver.qf)) / len(driver.qf),
                "driver_peak_rss_mb": rss_mb,
            }
    finally:
        if driver is not None:
            rec["attempted"] += driver.n_calls
        if spark is not None:
            from perfbench import ops

            ops.stop_session(spark)
        if traced:
            tracer.dump(str(results / f"trace-{args.workload}-s{args.seed}-"
                                      f"{os.getpid()}.json"),
                        {"self_s": rec.get("self_s", {})})
        shutil.rmtree(work, ignore_errors=True)
    rec["setup_s"] = setup_s
    rec["failed_op_share"] = rec["failed"] / rec["attempted"]
    rec["correct"] = rec["failed"] == 0
    if args.pair_record:
        Path(args.pair_record).write_text(json.dumps(rec, indent=1))
        return
    units = PER_LAYER if traced else END_TO_END
    rec["metrics"] = {k: {"value": float(metrics[k]), "unit": units[k]}
                      for k in units}
    (results / f"{args.workload}-t{args.trace}-{int(time.time() * 1e3)}"
               f"-{os.getpid()}.json").write_text(json.dumps(rec, indent=1))


def run_checks(driver, ref, rec) -> dict:
    """The untimed output checks. Adds to ``rec``'s attempted and failed
    operations and returns the details."""
    from qfspark.build import load_sharded_qf
    from qfspark.serde import qf_to_bytes

    out = {}
    shard_q = max(int(r.q_bits) for r in driver.shard_rows)
    for path, r_bits in (("lookup.annotate", driver.qf.r_bits),
                         ("lookup.shard", 64 - shard_q)):
        pc = checks.check_probes(ref, *driver.probe_answers(path))
        bad_sums = checks.check_probe_sums(ref, driver.probe_sums[path])
        rec["attempted"] += len(driver.probe_sums[path])
        rec["failed"] += bad_sums
        fp_ok = pc.fp_rate <= 2.0 ** -r_bits
        rec["attempted"] += pc.checked + 1
        rec["failed"] += pc.failed + (0 if fp_ok else 1)
        out[path] = {**pc.__dict__, "fp_rate": pc.fp_rate,
                     "fp_bound": 2.0 ** -r_bits, "fp_ok": fp_ok,
                     "calls_with_wrong_sums": bad_sums}
    merged = load_sharded_qf(driver.shard_rows).to_qf()
    same = qf_to_bytes(merged) == qf_to_bytes(driver.qf)
    kernel_ok = driver.executors_have_kernel()
    rec["attempted"] += 2
    rec["failed"] += (not same) + (not kernel_ok)
    out["merge_equals_rebuild"] = same
    out["executor_ckernel_loaded"] = kernel_ok
    return out


def traced_layers(args, rec, driver, tracer, spark, work, stream_batches,
                  untraced_ref):
    """Per-layer metrics of a traced run. Stops the Spark session (the event
    log is complete only then)."""
    from perfbench import layers, ops
    from qfspark.build import load_sharded_qf
    from qfspark.serde import qf_to_bytes
    from qfspark.sources import approx_row_count

    from pyspark.sql import functions as F

    m = {}
    stream_groups = layers.stream_groups(stream_batches)
    branches = layers.stream_branches(stream_groups)
    rec["stream_branches"] = branches
    if any(b["build"] or b["merge"] for b in branches[1:]):
        raise InvalidRun(f"the stream's later micro-batches do not all take "
                         f"the insert branch: {branches}")
    with tracer.span("streaming"):
        emitted, progress = layers.run_stream(
            spark, tracer, str(work / "stream-in"), str(work))
        r_bits = min(f.r_bits for f in layers.state_filters(
            stream_groups, len(stream_groups)))
        sc = checks.check_stream(stream_batches, emitted, r_bits)
        rec["attempted"] += sc.checked
        rec["failed"] += sc.failed
        rec["checks"]["stream"] = {**sc.__dict__, "failed": sc.failed}
        m.update(layers.stream_layers(progress, emitted))

    with tracer.span("layers"):
        est_df = driver.build_df.select(F.xxhash64("url"))
        m["sources.estimate_s"] = layers.timed(
            lambda _: approx_row_count(est_df, fallback_count=False), reps=5)
        build_h = layers.hashes_of(driver.build_df)
        probe_h = layers.hashes_of(driver.probe_df)
        shard_qf = load_sharded_qf(driver.shard_rows).shards[0]
    ops.stop_session(spark)

    per_op, intervals = layers.spark_layers(driver, tracer, str(work / "events"))
    rec["self_s"] = tracer.self_times(intervals)
    qf_path = {r["python_map"] for r in per_op["build.qf"]}
    if qf_path != {rec["provenance"]["build_qf_path"] == "partial"}:
        raise InvalidRun(f"build_qf ran a Python stage {qf_path}, expected "
                         f"the {rec['provenance']['build_qf_path']} path")
    for op, keys in (
            ("build.qf", ("jobs", "spark_s", "driver_s")),
            ("build.sharded", ("jobs", "spark_s", "driver_s", "shuffle_bytes",
                               "udf_stage_s", "gc_ms")),
            ("lookup.annotate", ("jobs", "spark_s", "task_s")),
            ("lookup.shard", ("jobs", "spark_s", "shuffle_bytes", "gc_ms"))):
        for k, v in layers.op_medians(per_op[op], keys,
                                      driver.calls[op].skip).items():
            m[f"{op}.{k}"] = v
    for k, v in layers.shard_table_figures(
            driver.shard_rows_seen, driver.calls["build.sharded"].skip).items():
        m[f"build.sharded.{k}"] = v
    m["lookup.shard.rows_per_s"] = (
        driver.calls["lookup.shard"].rows / rec["op_median_s"]["lookup.shard"])
    ann = driver.calls["lookup.annotate"]
    m["lookup.annotate.broadcast_bytes"] = float(len(qf_to_bytes(driver.qf)))
    m["lookup.annotate.cold_s"] = ann.times[0] - stats.median(ann.warm)

    with tracer.span("layers.kernel"):
        m.update(layers.kernel_layers(driver.qf, build_h, probe_h,
                                      stream_groups, shard_qf))
    m["ckernel.loaded"] = float(rec["provenance"]["ckernel_loaded"])
    m["ckernel.load_s"] = layers.ckernel_fresh_load(dict(os.environ))
    traced_sum = sum(rec["op_median_s"][op] for op in untraced_ref)
    untraced_sum = sum(untraced_ref.values())
    m["trace.overhead_share"] = traced_sum / untraced_sum - 1.0
    rec["untraced_op_median_s"] = untraced_ref
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = find_library()
    if missing:
        print(f"perfbench: {missing}", file=sys.stderr)
        return 2
    if args.repeat:
        from perfbench import steady

        return steady.main(args)
    rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "attempted": 0, "failed": 0}

    def _deadline(signum, frame):
        raise TimeoutError("run still going at its deadline")

    signal.signal(signal.SIGALRM, _deadline)
    try:
        untraced_ref = None
        if args.trace:
            untraced_ref = run_pair(args)
        signal.alarm(TRACED_DEADLINE_S if args.trace else
                     PAIR_DEADLINE_S if args.pair_record else DEADLINE_S)
        run(args, rec, untraced_ref)
    except InvalidRun as e:
        print(f"perfbench: invalid run, not reported: {e}", file=sys.stderr)
        return 3
    except Exception:
        # a call that raised is a failed operation; the run reports no metrics
        traceback.print_exc()
        print(json.dumps({"correct": False,
                          "attempted": max(1, rec["attempted"]),
                          "failed": rec["failed"] + 1, "metrics": {}}))
        return 1
    if args.pair_record:
        return 0 if rec["correct"] else 1
    prov = rec["provenance"]
    print(f"perfbench: {args.workload} seed={args.seed} rounds={rec['rounds']} "
          f"exchange={prov['exchange']} build_qf={prov['build_qf_path']} "
          f"ckernel={prov['ckernel_loaded']} session_s={rec['session_s']:.2f} "
          f"gen_s={rec['gen_s']:.2f} failed={rec['failed']}/{rec['attempted']}",
          file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
