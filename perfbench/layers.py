"""Per-layer measurements of a traced run.

Spark-side numbers come from the event log, attributed to each timed call by
the job group its span set. Kernel, serde and ckernel numbers time public
functions on the driver, using the workload's own hashes at the workload's own
sizes. Streaming numbers come from a short ``stateful_streaming_dedup`` query
over the workload's keys (``workloads.stream_batches``).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np

from . import stats, trace

#: stateful_streaming_dedup's default number of state groups.
STREAM_GROUPS = 64
#: stateful_streaming_dedup inserts a group's new keys into its state filter
#: (``QF.insert_hashes``) when their number times this is below the state's
#: key count, and otherwise rebuilds the state (``QF.merge_many``).
INSERT_RATIO = 16


def timed(fn, reps: int = 3, prepare=None) -> float:
    """Median wall time of ``fn(prepare())`` over ``reps`` calls; the
    argument is built outside the timed region."""
    out = []
    for _ in range(reps):
        arg = prepare() if prepare else None
        t0 = time.perf_counter()
        fn(arg)
        out.append(time.perf_counter() - t0)
    return stats.median(out)


# -- Spark layers from the event log -----------------------------------------

def spark_layers(driver, tracer, event_dir: str) -> tuple[dict, dict]:
    """Per-operation medians over warm calls of Spark-side figures, and the
    Spark job intervals of every call span (for self times)."""
    jobs, stages = trace.read_event_log(event_dir)
    by_call = trace.jobs_by_call(jobs)
    spans = {s.id: s for s in tracer.spans}
    intervals, per_op = {}, {}
    for op, rec in driver.calls.items():
        rows = []
        for sid in rec.spans:
            sp = spans[sid]
            summ = trace.call_summary(by_call.get(sp.call, []), stages)
            intervals[sid] = summ["intervals"]
            spark_s = stats.union_length(summ["intervals"], sp.start, sp.end)
            rows.append({**summ, "spark_s": spark_s,
                         "driver_s": (sp.end - sp.start) - spark_s})
        per_op[op] = rows
    return per_op, intervals


def op_medians(rows: list, keys, skip: int) -> dict:
    """Medians over the timed calls, one row per call in call order, of
    which the first ``skip`` were made before timing started."""
    warm = rows[skip:]
    return {k: stats.median([float(r[k]) for r in warm]) for k in keys}


def shard_table_figures(rows_seen: list, skip: int) -> dict:
    """Median over timed builds of the shard table's per-shard columns."""
    sums, maxes, skews = [], [], []
    for rows in rows_seen[skip:]:
        secs = [float(r.build_secs) for r in rows]
        n = [int(r.n_rows) for r in rows]
        sums.append(sum(secs))
        maxes.append(max(secs))
        skews.append(max(n) / (sum(n) / len(n)))
    return {"shard_secs_sum": stats.median(sums),
            "shard_secs_max": stats.median(maxes),
            "rows_skew": stats.median(skews)}


# -- kernel, serde and ckernel on the driver ----------------------------------

def hashes_of(df, col: str = "url") -> np.ndarray:
    from pyspark.sql import functions as F

    tbl = df.select(F.xxhash64(col).alias("h")).toArrow()
    return tbl.column("h").to_numpy().astype(np.int64).view(np.uint64)


def stream_groups(batches) -> list:
    """Per micro-batch, the hashes of each state group's keys and of its new
    keys (no earlier batch had them), as ``stateful_streaming_dedup`` routes
    them: by ``pmod(xxhash64(key), STREAM_GROUPS)``."""
    from qfspark.hashing import xxhash64

    seen: set = set()
    out = []
    for keys in batches:
        h = xxhash64(keys)
        new = np.fromiter((k not in seen for k in keys), bool, len(keys))
        seen.update(keys)
        grp = h.view(np.int64) % STREAM_GROUPS
        out.append([(h[grp == g], np.unique(h[new & (grp == g)]))
                    for g in range(STREAM_GROUPS)])
    return out


def stream_branches(groups) -> list:
    """The state update ``stateful_streaming_dedup`` makes per micro-batch,
    counted over the groups that get new keys: ``build`` (empty state),
    ``insert`` (``insert_hashes``) or ``merge`` (``merge_many`` rebuild).
    The states are exact, so a false positive of the filter would move one
    group's figures by one key."""
    state = np.zeros(STREAM_GROUPS, dtype=np.int64)
    out = []
    for batch in groups:
        counts = {"build": 0, "insert": 0, "merge": 0}
        for g, (_, new) in enumerate(batch):
            if len(new) == 0:
                continue
            if state[g] == 0:
                counts["build"] += 1
            elif len(new) * INSERT_RATIO < state[g]:
                counts["insert"] += 1
            else:
                counts["merge"] += 1
            state[g] += len(new)
        out.append(counts)
    return out


def state_filters(groups, upto: int) -> list:
    """Each group's state filter after the first ``upto`` micro-batches."""
    from qfspark.kernel import QF
    from qfspark.sizing import QFConfig

    cfg = QFConfig(counter_bits=0, hash_name="xxhash64")
    return [QF.from_hashes(np.unique(np.concatenate(
        [batch[g][1] for batch in groups[:upto]])), None, cfg)
        for g in range(STREAM_GROUPS)]


def kernel_layers(qf, build_h: np.ndarray, probe_h: np.ndarray,
                  stream_groups: list, shard_qf) -> dict:
    from qfspark.kernel import QF
    from qfspark.serde import qf_from_bytes, qf_to_bytes
    from qfspark.sizing import QFConfig

    cfg = QFConfig(counter_bits=32, hash_name="xxhash64")
    out = {}

    # one shard's raw hashes, shard-local form, as the arrow exchange holds
    shard0 = (build_h[(build_h >> np.uint64(60)) == 0]) << np.uint64(4)

    def _sorted(a):
        a = a.copy()
        a.sort()
        return a

    t = timed(lambda h: QF.from_hashes(h, None, cfg),
              prepare=lambda: _sorted(shard0))
    out["kernel.from_hashes_rows_per_s"] = len(shard0) / t

    uniq, counts = np.unique(build_h, return_counts=True)
    counts = counts.astype(np.uint64)
    t = timed(lambda _: QF.from_hashes(uniq, counts, cfg, assume_unique=True))
    out["kernel.fill_keys_per_s"] = len(uniq) / t

    half = len(build_h) // 2
    parts = [QF.from_hashes(_sorted(p), None, cfg)
             for p in (build_h[:half], build_h[half:])]
    t = timed(lambda _: QF.merge_many(parts))
    out["kernel.merge_many_keys_per_s"] = len(uniq) / t

    blob = qf_to_bytes(qf)
    out["kernel.build_index_s"] = timed(lambda f: f.build_index(),
                                        prepare=lambda: qf_from_bytes(blob))
    indexed = qf_from_bytes(blob)
    indexed.build_index()
    t = timed(lambda _: indexed.lookup_hashes(probe_h, mode="index"))
    out["kernel.index_probes_per_s"] = len(probe_h) / t

    # the stream's last micro-batch against the state the earlier ones left
    last = stream_groups[-1]
    states = state_filters(stream_groups, len(stream_groups) - 1)
    blobs = [qf_to_bytes(st) for st in states]

    def _walk(_):
        for st, (keys, _new) in zip(states, last):
            st.lookup_hashes(keys, mode="walk")

    out["kernel.walk_probes_per_s"] = sum(len(k) for k, _ in last) / timed(
        _walk)

    def _insert(fresh):
        for st, (_keys, new) in zip(fresh, last):
            st.insert_hashes(new, value=1)

    t = timed(_insert, prepare=lambda: [qf_from_bytes(b) for b in blobs])
    out["kernel.insert_keys_per_s"] = sum(len(n) for _, n in last) / t

    # serde on a shard-sized filter, the merged filter and one state filter
    final = state_filters(stream_groups, len(stream_groups))
    filters = [shard_qf, qf, final[0]]
    sizes = [len(qf_to_bytes(f)) for f in filters]
    t_to = sum(timed(lambda _, f=f: qf_to_bytes(f)) for f in filters)
    payloads = [qf_to_bytes(f) for f in filters]
    t_from = sum(timed(lambda _, b=b: qf_from_bytes(b)) for b in payloads)
    mb = sum(sizes) / 1e6
    out["serde.to_bytes_mb_per_s"] = mb / t_to
    out["serde.from_bytes_mb_per_s"] = mb / t_from
    out["serde.state_bytes_per_batch"] = float(
        sum(len(qf_to_bytes(f)) for f in final))
    return out


def ckernel_fresh_load(env: dict) -> float:
    """Seconds ``ckernel.get_kernel()`` takes in a fresh interpreter, or -1
    when it returns no kernel."""
    code = ("import time\n"
            "from qfspark import ckernel\n"
            "t = time.perf_counter()\n"
            "k = ckernel.get_kernel()\n"
            "print(time.perf_counter() - t if k is not None else -1)\n")
    res = subprocess.run([sys.executable, "-c", code], env=env, check=True,
                         capture_output=True, text=True, timeout=120)
    return float(res.stdout.strip().splitlines()[-1])


# -- streaming ------------------------------------------------------------

def write_stream_input(batches, directory: str) -> None:
    """Write each micro-batch's keys as one parquet file, with increasing
    modification times so the file source reads them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    t0 = time.time() - len(batches) - 10
    for b, keys in enumerate(batches):
        path = os.path.join(directory, f"batch-{b:05d}.parquet")
        pq.write_table(pa.table({"url": pa.array(keys, pa.string())}), path)
        os.utime(path, (t0 + b, t0 + b))


def run_stream(spark, tracer, in_dir: str, work: str):
    """Run the dedup query to completion over the input files; returns the
    keys emitted per batch id and the query's progress entries."""
    from qfspark.streaming import stateful_streaming_dedup

    emitted: dict = {}

    def _collect(batch_df, batch_id):
        emitted[batch_id] = batch_df.toArrow().column("key").to_pylist()

    src = (spark.readStream.schema("url string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    with tracer.span("streaming.query", call="stream"):
        q = (stateful_streaming_dedup(src, "url").writeStream
             .foreachBatch(_collect)
             .option("checkpointLocation", os.path.join(work, "stream-ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return emitted, progress


def stream_layers(progress: list, emitted: dict) -> dict:
    warm = progress[1:]
    te = [p["durationMs"]["triggerExecution"] for p in warm]
    add = [p["durationMs"].get("addBatch", 0) for p in warm]
    ops = [p["stateOperators"][0] for p in warm]
    rows_in = sum(p["numInputRows"] for p in progress)
    return {
        "streaming.keys_per_s":
            sum(p["numInputRows"] for p in warm) / (sum(te) / 1e3),
        "streaming.batch_ms_p50": stats.median(te),
        "streaming.add_batch_ms_p50": stats.median(add),
        "streaming.overhead_ms_p50": stats.median(
            [a - b for a, b in zip(te, add)]),
        "streaming.state_update_ms_p50": stats.median(
            [o["allUpdatesTimeMs"] for o in ops]),
        "streaming.state_commit_ms_p50": stats.median(
            [o["commitTimeMs"] for o in ops]),
        "streaming.state_memory_bytes":
            float(progress[-1]["stateOperators"][0]["memoryUsedBytes"]),
        "streaming.emit_ratio":
            sum(len(v) for v in emitted.values()) / rows_in,
    }
