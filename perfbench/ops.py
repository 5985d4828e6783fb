"""The Spark side of a run: the session, the library calls it times, and the
data the untimed output checks read.

Every call goes through a public entry point of the library and is forced by
one action, so its wall time is the cost a caller sees:

* ``build_qf``: returns the merged filter to the driver.
* ``build_sharded_qf(exchange='auto', payload_dir=...)``: forced by
  collecting the shard table's rows (one metadata row per shard; payloads are
  sidecar files). The first build's rows become the shard table the shard
  probe reads.
* ``annotate`` and ``annotate_via_shard_table``: forced by one aggregate over
  both output columns, kept to check every call against the reference.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

#: Two task slots: the JVM, two Python workers and the driver fit the four
#: cores without oversubscription (see perfbench/README.md).
MASTER = "local[2]"


def start_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (SparkSession.builder.master(MASTER).appName("perfbench")
         .config("spark.driver.memory", "3g")
         .config("spark.sql.shuffle.partitions", "4")
         # one parquet file -> one input partition (see workloads.N_FILES)
         .config("spark.sql.files.maxPartitionBytes", str(1 << 30))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return  # already stopped
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def exchange_of(shards_df) -> str:
    """The exchange ``build_sharded_qf`` planned, read off the shard table's
    optimized plan (no Spark job)."""
    plan = shards_df._jdf.queryExecution().optimizedPlan().toString()
    if "FlatMapGroupsInArrow" in plan:
        return "arrow"
    if "MapInPandas" in plan and "Range" in plan:
        return "storage"
    if "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan:
        return "combine"
    if "FlatMapGroupsInPandas" in plan:
        return "salted"
    return "unknown"


@dataclass
class Calls:
    """Wall times of one operation's calls, in order: the cold call made at
    set-up, the warm-up calls, then the timed ones."""

    rows: int
    times: list = field(default_factory=list)
    spans: list = field(default_factory=list)  # tracer span ids
    #: number of calls made before timing started
    skip: int = 0

    @property
    def warm(self) -> list:
        return self.times[self.skip:]


class Driver:
    """Runs the library's entry points on one workload's tables."""

    OPS = ("build.qf", "build.sharded", "lookup.annotate", "lookup.shard")
    #: One round: each operation gets a similar share of its time. The
    #: short calls repeat three times and the sharded build twice, and the
    #: repeats are interleaved, so each operation meets the same machine
    #: states. The shard probe is not an end-to-end metric (too unsteady to
    #: gate), so only traced runs time it, for its per-layer figures.
    ROUND = ("build.qf", "lookup.annotate", "build.sharded", "build.qf",
             "lookup.annotate", "build.qf", "build.sharded",
             "lookup.annotate")
    TRACED_ROUND = ROUND + ("lookup.shard",)

    def __init__(self, spark, tracer, build_path: str, probe_path: str,
                 work: str, n_build: int, n_probe: int):
        from qfspark import build, lookup  # noqa: F401 (imports pyspark)

        self.spark = spark
        self.tracer = tracer
        self.build_df = spark.read.schema("url string").parquet(build_path)
        self.probe_df = spark.read.schema("pid long, url string").parquet(
            probe_path)
        self.payload_dir = os.path.join(work, "payloads")
        self.table_path = os.path.join(work, "shard_table")
        os.makedirs(self.payload_dir, exist_ok=True)
        self.calls = {
            "build.qf": Calls(n_build), "build.sharded": Calls(n_build),
            "lookup.annotate": Calls(n_probe), "lookup.shard": Calls(n_probe),
        }
        self.qf = None
        self._last_sharded = None
        self.shard_rows = None
        self.shard_table = None
        self.exchanges: list[str] = []
        #: (sum of qf_seen, sum of qf_count) of every timed probe call
        self.probe_sums: dict[str, list] = {"lookup.annotate": [],
                                            "lookup.shard": []}
        self.shard_rows_seen: list = []
        self.n_calls = 0

    # -- the four operations -------------------------------------------
    def _build_qf(self):
        from qfspark.build import build_qf

        qf = build_qf(self.build_df, "url")
        if self.qf is None:
            self.qf = qf

    def _build_sharded(self):
        from qfspark.build import build_sharded_qf

        sdf = build_sharded_qf(self.build_df, "url", exchange="auto",
                               payload_dir=self.payload_dir)
        rows = sdf.collect()
        self._last_sharded = (sdf, rows)

    def _annotate(self):
        from pyspark.sql import functions as F
        from qfspark.lookup import annotate

        row = annotate(self.probe_df, "url", self.qf).agg(
            F.sum(F.col("qf_seen").cast("long")), F.sum("qf_count")).collect()
        self.probe_sums["lookup.annotate"].append(tuple(row[0]))

    def _shard_probe(self):
        from pyspark.sql import functions as F
        from qfspark.lookup import annotate_via_shard_table

        row = annotate_via_shard_table(
            self.probe_df, "url", self.shard_table).agg(
            F.sum(F.col("qf_seen").cast("long")), F.sum("qf_count")).collect()
        self.probe_sums["lookup.shard"].append(tuple(row[0]))

    def start_timing(self) -> None:
        """Calls made from now on are the timed ones."""
        for c in self.calls.values():
            c.skip = len(c.times)

    def call(self, op: str) -> float:
        fn = {"build.qf": self._build_qf, "build.sharded": self._build_sharded,
              "lookup.annotate": self._annotate,
              "lookup.shard": self._shard_probe}[op]
        self.n_calls += 1
        with self.tracer.span(op, call=f"c{self.n_calls}") as sp:
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
        rec = self.calls[op]
        rec.times.append(dt)
        if sp is not None:
            rec.spans.append(sp.id)
        if op == "build.sharded":
            sdf, rows = self._last_sharded
            self.exchanges.append(exchange_of(sdf))
            self.shard_rows_seen.append(rows)
            if self.shard_table is None:
                self._write_shard_table(sdf, rows)
        return dt

    def _write_shard_table(self, sdf, rows) -> None:
        """Materialize the first build's shard table as parquet, the way a
        caller checkpoints it, for the shard probe to read."""
        self.spark.createDataFrame(rows, sdf.schema).write.mode(
            "overwrite").parquet(self.table_path)
        self.shard_rows = rows
        self.shard_table = self.spark.read.parquet(self.table_path)

    # -- untimed checks ----------------------------------------------------
    def probe_answers(self, path: str):
        from qfspark.lookup import annotate, annotate_via_shard_table

        if path == "lookup.annotate":
            df = annotate(self.probe_df, "url", self.qf)
        else:
            df = annotate_via_shard_table(self.probe_df, "url",
                                          self.shard_table)
        tbl = df.select("pid", "qf_seen", "qf_count").toArrow()
        return (tbl.column("pid").to_numpy(),
                tbl.column("qf_seen").to_numpy(zero_copy_only=False),
                tbl.column("qf_count").to_numpy())

    def executors_have_kernel(self) -> bool:
        """Whether the C kernel loads in the Python workers too."""
        import pandas as pd

        def _probe(it):
            from qfspark import ckernel

            for _ in it:
                pass
            yield pd.DataFrame({"ok": [int(ckernel.get_kernel() is not None)]})

        rows = (self.spark.range(0, 2, 1, 2)
                .mapInPandas(_probe, "ok long").collect())
        return bool(rows) and all(r.ok == 1 for r in rows)
