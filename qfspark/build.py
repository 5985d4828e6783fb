"""Distributed CQF construction on Spark.

Two build strategies, both shaped for the 10^12-row design point:

``build_qf``  — one merged filter. Shuffle-free: each input partition
    locally pre-aggregates its hashes (numpy unique/count — the map-side
    combine) and emits one serialized partial filter; partials merge under
    an associative slot-level merge through a distributed tree merge
    (``tree_merge``) whose FINAL level also runs executor-side, so the
    driver only receives one finished blob. This is the classic
    mergeable-sketch UDAF shape: the only data movement is tiny filter
    payloads, so hot-key skew cannot concentrate load — a key duplicated
    a billion times costs one (hash, count) pair per partition it
    appears in.

``build_sharded_qf`` — a hash-range-sharded filter collection for
    cardinalities beyond one machine's RAM. Hashes are routed by the top
    ``shard_bits`` of the hash so each shard owns a contiguous,
    uniformly-loaded hash range. Each shard stores ``hash << shard_bits``
    (the shard id carries the top bits — lossless, and quotients stay
    uniform within each shard's table). Shards checkpoint to a parquet
    table with lineage metadata, and builds resume by skipping shards
    already present.

    Four exchange strategies (``exchange=``), because the expensive step
    at scale is *moving the hashes to their shard builder*:

    ``'arrow'`` (default) — hashes stay JVM-side through routing AND
        grouping: ``groupBy(shard).agg(collect_list(...))`` runs as a
        codegen partial aggregation, so the shuffle moves a few fat
        array rows per (task, shard) instead of per-key rows, and the
        JVM->Python Arrow channel is crossed exactly once, as one fat
        zero-copy list column per shard. Profiling on this class of
        hardware shows the per-row Arrow channel is the #1 scaling
        bottleneck of any mapInPandas combiner — this path removes it.
        Scale bound: one shard's pre-unique rows form ONE JVM array row
        (~8 B x raw occurrences), so size ``shard_bits`` to keep raw
        rows per shard under ~10^8 (or use 'storage', which has no
        single-row bound, for very large or duplicate-heavy shards).

    ``'storage'`` — the exchange happens through the filesystem instead
        of the Python channel: a pure-JVM stage writes the routed hash
        table as parquet partitioned by shard (dictionary off — random
        hashes never repeat), then one task per shard reads its
        partition DIRECTLY with pyarrow (multi-threaded columnar read,
        never touching the JVM<->Python socket), builds, and writes the
        payload sidecar. On a real cluster the spill dir is the same
        distributed storage the checkpoint uses; the intermediate is
        itself checkpointable lineage (stage-level resume). This is the
        best-scaling path measured, and the default for the scaling
        benchmark.

    ``'combine'`` — the classic mapInPandas partition-local combiner:
        per input partition, numpy sort-unique collapses duplicates
        BEFORE any exchange and ships compact (hashes, counts) blobs.
        Maximum map-side combining: the right choice when the duplicate
        ratio is high (the blob exchange shrinks by the dup factor,
        which 'arrow'/'storage' do not).

    ``'salted'`` — explicit two-stage salted ``groupBy(hash, salt)``
        row-level aggregation; demonstrates hot-key skew handling with
        plain relational operators.

    ``'auto'`` — measures the input instead of guessing: a duplicate
        ratio of 4 or more selects 'combine'; otherwise the expected raw
        rows per shard (scan-free ``approx_row_count`` / 2^shard_bits)
        selects 'storage' above ``ARROW_MAX_ROWS_PER_SHARD`` — the arrow
        path's single-fat-row bound — and 'arrow' below it. The ratio
        costs one Spark job: the first 200k hashes are Arrow-collected
        (at most 1.6 MB to the driver) and the sample size and its
        distinct count both come from those same rows. The choice is
        logged at INFO on the ``qfspark.build`` logger.

    Payloads can be written as *sidecar files* (``payload_dir``): each
    shard task writes its serialized filter to content-addressed storage
    executor-side and the table row carries the path — at the 10^12
    design point a shard payload is ~1 GB, which belongs in object
    storage, not in a parquet binary cell (and not in the Arrow channel).

Hashing is JVM-side (``F.xxhash64``, whole-stage codegen) for the default
hash; murmur64a/fnv1a fall back to a vectorized Arrow pandas UDF. No
per-row Python anywhere.

NULL policy: NULL keys are dropped at build time and never match at probe
time (a NULL is not a key; Spark's xxhash64(NULL)=seed would otherwise
disagree with every other engine's byte-hash of an absent value).
"""

from __future__ import annotations

import hashlib
import logging
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from . import __version__ as _CODE_VERSION
from .kernel import QF
from .serde import qf_from_bytes, qf_to_bytes
from .sizing import QFConfig

log = logging.getLogger(__name__)

DEFAULT_HASH = "xxhash64"

HASH_COL = "qf_hash"

# The 'arrow' exchange materializes each shard's pre-unique hashes as ONE
# JVM collect_list row (~8 B per raw occurrence), so a shard whose raw
# rows exceed this bound risks an oversized single row / aggregation
# buffer. 'auto' falls back to 'storage' (no single-row bound) above it;
# half the documented ~1e8 ceiling leaves headroom for skewed shards.
ARROW_MAX_ROWS_PER_SHARD = 50_000_000

# build_qf inputs estimated (action-free, never under-estimating) at or
# below this many raw rows skip the mapInPandas partial-aggregation
# stage: the JVM-hashed column is Arrow-collected directly (~8 B/row,
# so <= ~32 MB through the driver) and deduped in one driver-side sort —
# one codegen-only Spark job instead of a Python-worker stage + blob
# collect. Above it, the partial path bounds driver traffic at ~12 B per
# DISTINCT key per partition (the documented build_qf RAM contract).
SMALL_BUILD_COLLECT_ROWS = 4_000_000


def _u64(series_or_array) -> np.ndarray:
    """Reinterpret a signed int64 hash column as uint64 (two's complement)."""
    if isinstance(series_or_array, pd.Series):
        series_or_array = series_or_array.to_numpy(dtype=np.int64)
    return series_or_array.view(np.uint64)


def hash_column(col, hash_name: str = DEFAULT_HASH,
                dtype: str | None = None) -> Column:
    """A Column of 64-bit hashes (as signed int64 bit patterns) of ``col``.

    xxhash64 runs JVM-side inside codegen; other hashes use a vectorized
    Arrow pandas UDF over the key bytes.

    Keys are hashed over their *byte representation*: string and binary
    columns as-is, everything else cast to its string rendering first —
    so a filter built in Spark answers probes made from Python strings
    (``qf.lookup_keys``/CLI) consistently. Pass ``dtype`` (the column's
    Spark type name) when known; without it, non-string columns are
    defensively cast to string.
    """
    col = F.col(col) if isinstance(col, str) else col
    if dtype not in ("string", "binary"):
        col = col.cast("string")
    if hash_name == "xxhash64":
        return F.xxhash64(col)

    from .hashing import hash_bytes  # late import: keep module import light

    @pandas_udf("long")
    def _hash_udf(s: pd.Series) -> pd.Series:
        keys = s.tolist() if dtype == "binary" else s.fillna("").tolist()
        hv = hash_bytes(keys, hash_name)
        return pd.Series(hv.view(np.int64))

    return _hash_udf(col)


def _collect_hashes(hashed: DataFrame) -> np.ndarray:
    """Arrow-collect ``hashed``'s hash column to the driver as a writable
    uint64 array (one Spark job, 8 B per row)."""
    a = hashed.toArrow().column(HASH_COL).to_numpy(zero_copy_only=False)
    hv = np.asarray(a, dtype=np.int64).view(np.uint64)
    return hv if hv.flags.writeable else hv.copy()


def _dtype_of(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.typeName()


def with_hash(df: DataFrame, col: str, hash_name: str = DEFAULT_HASH,
              out: str = HASH_COL) -> DataFrame:
    return df.withColumn(out, hash_column(col, hash_name, _dtype_of(df, col)))


def _keys_nonnull(df: DataFrame, col: str) -> DataFrame:
    """Build inputs drop NULL keys (see module NULL policy)."""
    return df.select(col).where(F.col(col).isNotNull())


# ---------------------------------------------------------------------------
# single merged filter
# ---------------------------------------------------------------------------

def _merge_hash_blobs(rows, counter_bits: int):
    """Merge partial (sorted-unique hashes, counts) blobs into one
    sorted-unique pair — the decoded form of the associative slot-level
    merge (QF.merge decodes to exactly this and rebuilds)."""
    hs = [np.frombuffer(r[0], dtype="<u8") for r in rows]
    if len(hs) == 1:
        # single partial: already sorted-unique — skip the re-sort
        hv = hs[0]
        if counter_bits > 0:
            return hv, np.frombuffer(rows[0][1], dtype="<u8")
        return hv, None
    hv = np.concatenate(hs) if hs else np.empty(0, dtype=np.uint64)
    if counter_bits > 0:
        cs = [np.frombuffer(r[1], dtype="<u8") for r in rows]
        cnt = np.concatenate(cs)
        uhv, inverse = np.unique(hv, return_inverse=True)
        agg = np.zeros(len(uhv), dtype=np.uint64)
        np.add.at(agg, inverse, cnt)
        return uhv, agg
    return np.unique(hv), None


def build_qf(
    df: DataFrame,
    col: str,
    config: QFConfig | None = None,
    tree_fanout: int = 64,
    driver_merge_limit: int = 64,
) -> QF:
    """Build one merged CQF over ``df[col]``.

    Plan shape: scan -> (column-pruned) select -> JVM hash -> mapInPandas
    local pre-aggregation (one compact sorted (hash,count) partial per
    partition — the decoded form of a partial filter) -> Arrow-batched
    collect of the partial blobs -> driver merge + vectorized canonical
    build. Above ``driver_merge_limit`` partials, executor-side tree
    levels first reduce the partial count to the limit, so driver fan-in
    stays bounded at any input partition count.

    (Measured: Arrow collect moves the blobs ~5x faster than row
    collect, and one driver np.unique over pre-sorted-unique partials is
    cheaper than an extra executor tree level below ~64 partials — the
    tree is for fan-in control, not speed, at this size.)

    No shuffle of row data; the only exchange moves partial-aggregate
    blobs (~12 bytes per distinct key). Duplicate-key skew is absorbed by
    the partition-local aggregation (map-side combine), so a key repeated
    a billion times costs one pair per partition it appears in.

    DRIVER-RAM BOUND: the merged build materializes up to
    ``driver_merge_limit`` partial blobs on the driver at once, each up
    to ~12 bytes per distinct key in its partition slice — so peak
    driver memory is ~12 bytes x total distinct keys (the collected
    blobs plus the np.unique merge buffer), independent of
    ``driver_merge_limit``. That makes this entry point right for
    filters whose DISTINCT-KEY count fits driver memory (billions of
    keys = tens of GB: no). Past that, use ``build_sharded_qf`` — the
    scale path — which routes each hash to its shard on executors and
    never assembles the whole key set anywhere (the driver sees only
    per-shard metadata rows); its lookup side is the same
    ``ShardedQF`` API. See ARCHITECTURE.md "Sizing the build path".
    """
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    keys = _keys_nonnull(df, col)
    hashed = with_hash(keys, col, config.hash_name).select(HASH_COL)

    # SMALL-INPUT FAST PATH: when an action-free estimate bounds the
    # input under SMALL_BUILD_COLLECT_ROWS, collect the JVM-hashed
    # column directly via Arrow (ONE codegen-only job — no Python
    # worker stage, no partial blobs) and build driver-side. The
    # canonical layout is a pure function of the hash multiset, so the
    # result is byte-identical to the partial-merge path. The estimate
    # errs only upward (pre-filter footer counts; expanding plans are
    # excluded), so a large input can never sneak into the collect.
    est = None
    if hasattr(hashed, "toArrow"):
        from .sources import approx_row_count

        est = approx_row_count(hashed, fallback_count=False)
    if est is not None and est <= SMALL_BUILD_COLLECT_ROWS:
        hv = _collect_hashes(hashed)
        hv.sort()
        return QF.from_hashes(hv, None, config)

    partials_df = _partial_hashes(hashed, config)
    n_parts = hashed.rdd.getNumPartitions()
    if n_parts > driver_merge_limit:
        partials_df = tree_merge(partials_df, config, fanout=tree_fanout,
                                 n_partials=n_parts,
                                 stop_at=driver_merge_limit)
    blobs = partials_df.select("hashes", "counts")
    if hasattr(blobs, "toArrow"):
        tbl = blobs.toArrow()
        rows = list(zip(tbl.column("hashes").to_pylist(),
                        tbl.column("counts").to_pylist()))
    else:  # pragma: no cover - pyspark < 4
        rows = [(bytes(r.hashes), bytes(r.counts)) for r in blobs.collect()]
    if not rows:
        return QF(config)
    hv, counts = _merge_hash_blobs(rows, config.counter_bits)
    return QF.from_hashes(hv, counts, config, assume_unique=True)


def build_qf_from_counts(
    df: DataFrame,
    col: str,
    count_col: str,
    config: QFConfig | None = None,
) -> QF:
    """Build one merged CQF from a PRE-AGGREGATED ``(key, count)``
    DataFrame — the fast shape when the caller already has a
    ``groupBy(key).count()`` in hand (e.g. it also needs the distinct
    keys for probing): hashing stays JVM-side and exactly one Arrow
    collect moves ~16 B per distinct key, with no Python worker stage.
    Byte-identical to ``build_qf`` over the un-aggregated multiset
    (counts for hash-colliding keys sum, exactly as the multiset path
    aggregates them). Same driver-RAM contract as ``build_qf``: the
    distinct keys must fit driver memory."""
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    keys = df.select(col, count_col).where(F.col(col).isNotNull())
    hashed = with_hash(keys, col, config.hash_name).select(
        HASH_COL, F.col(count_col).cast("long").alias("_qf_n"))
    tbl = hashed.toArrow()
    hv = np.asarray(
        tbl.column(HASH_COL).to_numpy(zero_copy_only=False),
        dtype=np.int64).view(np.uint64)
    counts = np.asarray(
        tbl.column("_qf_n").to_numpy(zero_copy_only=False),
        dtype=np.int64).view(np.uint64)
    if not hv.flags.writeable:
        hv = hv.copy()
    order = np.argsort(hv, kind="stable")
    return QF.from_hashes(hv[order], counts[order], config)


def _partial_hashes(hashed: DataFrame, config: QFConfig) -> DataFrame:
    """mapInPandas stage: per input partition, aggregate hash counts
    locally (numpy sort-unique — the map-side combine) and emit one
    compact partial-aggregate row."""
    with_counts = config.counter_bits > 0

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [_u64(b[HASH_COL]) for b in batches if len(b)]
        if not chunks:
            return
        hv = np.concatenate(chunks)
        if with_counts:
            uniq, counts = np.unique(hv, return_counts=True)
            cbytes = counts.astype("<u8").tobytes()
        else:
            uniq = np.unique(hv)
            cbytes = b""
        yield pd.DataFrame(
            {
                "part_id": [0],
                "n": [len(uniq)],
                "hashes": [uniq.astype("<u8").tobytes()],
                "counts": [cbytes],
            }
        )

    out = hashed.mapInPandas(
        _build, schema="part_id long, n long, hashes binary, counts binary"
    )
    # give partials distinct ids for the tree merge grouping
    return out.withColumn("part_id", F.spark_partition_id().cast("long"))


def tree_merge(partials_df: DataFrame, config: QFConfig, fanout: int = 64,
               n_partials: int | None = None, stop_at: int = 1) -> DataFrame:
    """Distributed tree merge of partial aggregates: repeatedly group
    ``fanout`` partials and merge them executor-side until one row
    remains. Depth = ceil(log_fanout(n)); the driver never holds more
    than one partial (the role the reference's lossless double()
    plays in treeAggregate form, qf.go:283-301).

    ``n_partials`` (an upper bound on the partial count, e.g. the input
    partition count) keeps the loop action-free: without it a count()
    would force an extra full pass over the build lineage."""
    counter_bits = config.counter_bits

    def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        hv, counts = _merge_hash_blobs(
            list(zip(pdf["hashes"], pdf["counts"])), counter_bits
        )
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "n": [len(hv)],
                "hashes": [hv.astype("<u8").tobytes()],
                "counts": [
                    counts.astype("<u8").tobytes() if counts is not None else b""
                ],
            }
        )

    df = partials_df
    n = n_partials if n_partials is not None else df.count()
    while n > max(stop_at, 1):
        df = (
            df.withColumn("part_id", (F.col("part_id") / fanout).cast("long"))
            .groupBy("part_id")
            .applyInPandas(
                _merge_group,
                schema="part_id long, n long, hashes binary, counts binary",
            )
        )
        n = (n + fanout - 1) // fanout
    return df


# ---------------------------------------------------------------------------
# sharded filter (scale path)
# ---------------------------------------------------------------------------

class ShardedQF:
    """A hash-range-partitioned collection of filters.

    Shard ``s`` owns hashes whose top ``shard_bits`` equal ``s`` and
    stores ``hash << shard_bits`` (lossless: the shard id carries the top
    bits; quotients stay uniformly distributed inside each shard's
    table). Lookups route each probe hash to its shard. At the 10^12
    design point a single filter cannot fit one machine; the sharded form
    is the primary artifact and the checkpoint table is its durable form.
    """

    def __init__(self, shard_bits: int, shards: dict[int, QF]):
        if not (0 <= shard_bits <= 32):
            raise ValueError("shard_bits must be in [0, 32]")
        self.shard_bits = shard_bits
        self.shards = shards
        names = {qf.config.hash_name for qf in shards.values()}
        cbits = {qf.config.counter_bits for qf in shards.values()}
        packed = {qf.config.bit_packed for qf in shards.values()}
        if len(names) > 1 or len(cbits) > 1 or len(packed) > 1:
            raise ValueError("inconsistent shard configs")
        self.hash_name = names.pop() if names else DEFAULT_HASH
        self.counter_bits = cbits.pop() if cbits else 0
        self.bit_packed = packed.pop() if packed else False

    @property
    def entries(self) -> int:
        return sum(len(qf) for qf in self.shards.values())

    def __len__(self) -> int:
        return self.entries

    def lookup_hashes(self, hashes: np.ndarray):
        hashes = np.asarray(hashes, dtype=np.uint64)
        found = np.zeros(len(hashes), dtype=bool)
        counts = np.zeros(len(hashes), dtype=np.uint64)
        if not len(hashes):
            return found, counts
        sb = np.uint64(self.shard_bits)
        sid = (hashes >> (np.uint64(64) - sb)).astype(np.int64) if self.shard_bits else np.zeros(len(hashes), np.int64)
        local = hashes << sb
        for s in np.unique(sid):
            qf = self.shards.get(int(s))
            if qf is None:
                continue
            rows = np.flatnonzero(sid == s)
            f, c = qf.lookup_hashes(local[rows])
            found[rows] = f
            counts[rows] = c
        return found, counts

    def lookup_keys(self, keys):
        from .hashing import hash_bytes

        return self.lookup_hashes(hash_bytes(keys, self.hash_name))

    def __repr__(self) -> str:
        return (
            f"ShardedQF(shards={len(self.shards)}, shard_bits={self.shard_bits}, "
            f"entries={self.entries}, counter_bits={self.counter_bits}, "
            f"hash={self.hash_name!r})"
        )

    def to_qf(self) -> QF:
        """Collapse all shards into one monolithic QF (reconstructing the
        original hashes: shard id supplies the top bits). For export /
        interop at cardinalities that fit one machine."""
        if not self.shards:
            return QF(QFConfig(counter_bits=self.counter_bits,
                               bit_packed=self.bit_packed,
                               hash_name=self.hash_name))
        sb = np.uint64(self.shard_bits)
        hvs, cnts = [], []
        for s in sorted(self.shards):
            qf = self.shards[s]
            hv, counts = qf.decode(sort=True)
            orig = (hv >> sb) | (np.uint64(s) << (np.uint64(64) - sb)) if self.shard_bits else hv
            hvs.append(orig)
            if counts is not None:
                cnts.append(counts)
        hv = np.concatenate(hvs)
        counts = np.concatenate(cnts) if cnts else None
        # shards own disjoint ascending hash ranges -> hv is sorted unique
        cfg = QFConfig(counter_bits=self.counter_bits,
                       bit_packed=self.bit_packed, hash_name=self.hash_name)
        return QF.from_hashes(hv, counts, cfg, assume_unique=True)

    def contains(self, key) -> bool:
        f, _ = self.lookup_keys([key])
        return bool(f[0])

    def lookup(self, key):
        f, c = self.lookup_keys([key])
        return bool(f[0]), int(c[0])


_SHARD_SCHEMA = (
    "shard long, entries long, q_bits int, payload binary, "
    "payload_path string, hash_name string, counter_bits int, "
    "shard_bits int, n_rows long, build_ts double, code_version string, "
    "build_secs double"
)

# parquet options for hash spill tables: dictionary encoding is pure
# overhead on effectively-unique 64-bit hashes, and per-file summary
# metadata is dead weight at thousands of shard files
_SPILL_WRITE_OPTS = {
    "parquet.enable.dictionary": "false",
    "parquet.summary.metadata.level": "NONE",
}


def shard_payload_bytes(row) -> bytes:
    """The serialized filter for a shard-table row: inline ``payload``
    bytes, or the ``payload_path`` sidecar file written executor-side."""
    payload = row["payload"] if not hasattr(row, "payload") else row.payload
    if payload is not None and len(payload) > 0:
        return bytes(payload)
    path = (row["payload_path"] if not hasattr(row, "payload_path")
            else row.payload_path)
    if not path:
        raise ValueError("shard row has neither payload nor payload_path")
    with open(path, "rb") as f:
        return f.read()


def _finish_shard(qf: QF, shard: int, n_rows: int, cfg: QFConfig,
                  shard_bits: int, payload_dir: str | None,
                  t0: float | None = None) -> dict:
    """Common tail of every shard build: serialize (inline or sidecar)
    and produce the lineage row (``build_secs`` measured from ``t0``,
    the per-shard task metric the checkpoint table carries alongside
    entries/n_rows/build_ts/code_version)."""
    blob = qf_to_bytes(qf)
    payload, payload_path = blob, ""
    if payload_dir:
        digest = hashlib.sha1(blob).hexdigest()[:16]
        payload_path = os.path.join(
            payload_dir, f"shard_{shard:05d}_{digest}.qf")
        tmp = payload_path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, payload_path)  # content-addressed + atomic
        payload = None
    return {
        "shard": shard,
        "entries": len(qf),
        "q_bits": qf.q_bits,
        "payload": payload,
        "payload_path": payload_path,
        "hash_name": cfg.hash_name,
        "counter_bits": cfg.counter_bits,
        "shard_bits": shard_bits,
        "n_rows": n_rows,
        "build_ts": time.time(),
        "code_version": _CODE_VERSION,
        "build_secs": round(time.time() - t0, 4) if t0 is not None else 0.0,
    }


def _routed(hashed: DataFrame, shard_bits: int) -> DataFrame:
    """(shard, local_hash) routing columns: shard = top bits, local =
    hash << shard_bits (lossless; quotients stay uniform per shard)."""
    return hashed.select(
        (F.shiftrightunsigned(F.col(HASH_COL), 64 - shard_bits) if shard_bits
         else F.lit(0)).cast("long").alias("shard"),
        (F.shiftleft(F.col(HASH_COL), shard_bits) if shard_bits
         else F.col(HASH_COL)).alias("lh"),
    )


def build_sharded_qf(
    df: DataFrame,
    col: str,
    shard_bits: int = 4,
    config: QFConfig | None = None,
    checkpoint_path: str | None = None,
    resume: bool = True,
    exchange: str = "arrow",
    payload_dir: str | None = None,
    spill_dir: str | None = None,
    pre_agg: str | None = None,
) -> DataFrame:
    """Build (or resume building) a sharded CQF; returns the shard-table
    DataFrame ``(shard, entries, q_bits, payload, payload_path,
    lineage...)``. See the module docstring for the four ``exchange``
    strategies and the sidecar-payload contract.

    With ``checkpoint_path`` set: ``resume=True`` skips shards already
    present and appends only the missing ones; ``resume=False``
    overwrites the checkpoint (never appends duplicates — the failure
    mode where a stale row silently answers probes cannot occur, and
    reads additionally keep only the newest row per shard).
    """
    if pre_agg is not None:  # deprecated alias from the round-1 API
        alias = {"local": "combine", "salted": "salted"}.get(pre_agg)
        if alias is None:
            raise ValueError(f"unknown pre_agg mode {pre_agg!r}")
        exchange = alias
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    spark = df.sparkSession
    sb = shard_bits

    hashed = with_hash(_keys_nonnull(df, col), col,
                       config.hash_name).select(HASH_COL)

    done: set[int] = set()
    if checkpoint_path and resume:
        try:
            from .sources import read_table

            existing = read_table(spark, checkpoint_path)
            done = {int(r.shard) for r in
                    existing.select("shard").distinct().collect()}
        except Exception:
            done = set()

    if exchange == "auto":
        # pick the physical exchange from the data: heavy key duplication
        # means the partition-local combiner ('combine') shrinks the
        # exchange by the dup factor BEFORE any data moves (and keeps the
        # JVM-side fat-row aggregation buffers small); near-unique keys
        # mean 'arrow' wins (one zero-copy channel crossing per shard) —
        # UNLESS the expected raw rows per shard exceed the arrow path's
        # single-fat-row bound (each shard's pre-unique hashes form ONE
        # collect_list row; see the module docstring), in which case
        # 'storage' takes over: its spill-through-parquet exchange has no
        # per-row or per-shard size bound at all.
        # The dup ratio costs ONE Spark job: the first 200k hashes are
        # Arrow-collected (8 B each, so at most 1.6 MB reaches the
        # driver), and the sample size and its distinct count are both
        # taken driver-side from those same rows — a heuristic on a
        # bounded prefix, not an exact census. (Two separate actions on
        # a global limit need not see the same rows, and the distinct
        # count would add a shuffle.) Rows/shard uses a scan-free estimate
        # (approx_row_count), which falls back to an exact count when
        # the plan contains row-expanding nodes (Generate/Join) that
        # would make parquet-footer counts an underestimate — the
        # direction that could flip this guard to 'arrow' on an input
        # whose true rows/shard exceed the arrow path's fat-row bound.
        head = _collect_hashes(hashed.limit(200_000))
        dup_ratio = len(head) / max(len(np.unique(head)), 1)
        rows_per_shard = None
        if dup_ratio >= 4:
            exchange = "combine"
        else:
            # scan-free estimate (plan stats / parquet footers): the
            # guard only needs order-of-magnitude rows/shard, and the
            # exact count would cost one extra full pass per build
            from .sources import approx_row_count

            rows_per_shard = approx_row_count(hashed) / (1 << sb)
            exchange = ("storage"
                        if rows_per_shard > ARROW_MAX_ROWS_PER_SHARD
                        else "arrow")
        log.info("build_sharded_qf exchange=auto chose %s (sampled_rows=%d"
                 ", dup_ratio=%.3f, rows_per_shard=%s)", exchange,
                 len(head), dup_ratio, rows_per_shard,
                 extra={"qf_exchange": exchange,
                        "qf_sampled_rows": len(head),
                        "qf_dup_ratio": dup_ratio,
                        "qf_rows_per_shard": rows_per_shard})

    if exchange == "arrow":
        shards_df = _exchange_arrow(hashed, sb, config, done, payload_dir)
    elif exchange == "storage":
        shards_df, spill_cleanup = _exchange_storage(
            spark, hashed, sb, config, done, payload_dir,
            spill_dir, checkpoint_path)
    elif exchange == "combine":
        shards_df = _exchange_combine(hashed, sb, config, done, payload_dir)
    elif exchange == "salted":
        shards_df = _exchange_salted(hashed, sb, config, done, payload_dir)
    else:
        raise ValueError(f"unknown exchange mode {exchange!r}")

    if checkpoint_path:
        from .sources import read_table, write_checkpoint

        if resume:
            shards_df = _align_resume_schema(
                spark, shards_df, checkpoint_path)
        write_checkpoint(shards_df, checkpoint_path,
                         mode="append" if resume else "overwrite")
        if exchange == "storage" and spill_cleanup:
            import shutil

            shutil.rmtree(spill_cleanup, ignore_errors=True)
        # merge_schema: a resumed directory may mix files written by
        # different library versions (see _align_resume_schema)
        return latest_shards(
            read_table(spark, checkpoint_path, merge_schema=resume))
    return shards_df


def _align_resume_schema(spark, shards_df: DataFrame,
                         checkpoint_path: str) -> DataFrame:
    """Align a resumed build's shard rows to the existing checkpoint's
    schema before appending. A checkpoint written by an older library
    version lacks newer lineage columns (e.g. pre-0.3.0 has no
    ``build_secs``): appending a wider schema into a parquet directory
    leaves readers without mergeSchema picking one footer's schema
    arbitrarily (build_secs silently missing or null), and an Iceberg
    append fails outright on the mismatch. Mirrors the streaming path's
    unionByName(allowMissingColumns) contract: legacy-only columns are
    null-filled on the new rows, new-only columns are kept (the reader
    side uses mergeSchema via ``latest_shards`` callers reading the
    whole directory — see test_round4_fixes)."""
    try:
        from .sources import read_table

        existing = read_table(spark, checkpoint_path)
    except Exception:
        return shards_df  # first write: nothing to align to
    if existing.columns == shards_df.columns:
        return shards_df
    # null-fill columns the existing table has and we don't, and order
    # ours to match; columns only WE have are appended at the end (a
    # parquet append tolerates them; readers merge schemas)
    exist_fields = {f.name: f.dataType for f in existing.schema.fields}
    ours = set(shards_df.columns)
    sel = [
        (F.col(name) if name in ours
         else F.lit(None).cast(dtype).alias(name))
        for name, dtype in exist_fields.items()
    ]
    sel += [F.col(c) for c in shards_df.columns if c not in exist_fields]
    return shards_df.select(*sel)


def latest_shards(shards_df: DataFrame) -> DataFrame:
    """Keep only the newest row per shard (max build_ts): a resumed or
    re-run build may have appended a shard twice; probing a stale row
    would silently violate the zero-false-negative contract."""
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(
        F.col("build_ts").desc(), F.col("entries").desc())
    return (shards_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def merge_shard_tables(
    spark: SparkSession,
    tables: list[DataFrame],
    payload_dir: str | None = None,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """Merge N checkpointed shard tables (e.g. two crawl snapshots'
    filters) into ONE shard table — without touching either original
    key stream. Counters ADD (multiset-union semantics, same as the
    kernel's ``QF.merge_many`` / the CLI's file ``merge``), and because
    the canonical layout is a pure function of the merged
    (hash -> count) map, the output payloads are byte-identical to a
    direct sharded build over the concatenated corpora (tested).

    Distributed shape: shard tables are O(shards) rows, so the only
    data movement is one groupBy("shard") shuffle of the payload blobs
    themselves (~total filter size); each shard's merge is one task
    decoding <= len(tables) filters — no raw keys anywhere. At
    10^12-row provenance this is the cheap path: re-building would
    re-scan both corpora; merging moves only the filters. Sidecar
    payloads (``payload_path``) are read executor-side, so the sidecar
    directory must be shared storage on a real cluster (it is on this
    single box).

    Inputs must agree on (shard_bits, hash_name, counter_bits) —
    validated on the tiny lineage projection before any payload moves;
    per-shard q_bits may differ (a snapshot that saw more keys in a
    shard simply merged at a larger q). Stale duplicate rows per shard
    are resolved by ``latest_shards`` per input first.
    """
    if not tables:
        raise ValueError("merge_shard_tables needs at least one table")
    allr = latest_shards(tables[0])
    for t in tables[1:]:
        allr = allr.unionByName(latest_shards(t),
                                allowMissingColumns=True)
    meta = (allr.select("shard_bits", "hash_name", "counter_bits")
            .distinct().collect())
    for fld in ("shard_bits", "hash_name", "counter_bits"):
        vals = {getattr(m, fld) for m in meta}
        if len(vals) > 1:
            raise ValueError(
                f"cannot merge shard tables with differing {fld}: "
                f"{sorted(map(str, vals))}")

    def _merge_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        t0 = time.time()
        qfs = [qf_from_bytes(shard_payload_bytes(row))
               for _, row in pdf.iterrows()]
        merged = QF.merge_many(qfs)
        out = _finish_shard(
            merged, int(pdf["shard"].iloc[0]), int(pdf["n_rows"].sum()),
            merged.config, int(pdf["shard_bits"].iloc[0]),
            payload_dir, t0)
        return pd.DataFrame([out])

    out = allr.groupBy("shard").applyInPandas(_merge_group, _SHARD_SCHEMA)
    if checkpoint_path:
        from .sources import read_table, write_checkpoint

        write_checkpoint(out, checkpoint_path, mode="overwrite")
        return latest_shards(read_table(spark, checkpoint_path))
    return out


# -- exchange: 'arrow' (fat collect_list rows through the channel) ----------

def _exchange_arrow(hashed: DataFrame, sb: int, config: QFConfig,
                    done: set, payload_dir: str | None) -> DataFrame:
    import pyarrow as pa

    routed = _routed(hashed, sb)
    if done:
        routed = routed.filter(~F.col("shard").isin(list(done)))
    fat = routed.groupBy("shard").agg(F.collect_list("lh").alias("hv"))
    cfg = config
    pa_schema = _pa_shard_schema()

    def _build_fat(tbl: "pa.Table") -> "pa.Table":
        if tbl.num_rows == 0:
            return pa_schema.empty_table()
        t0 = time.time()
        shard = tbl.column("shard")[0].as_py()
        # zero-copy: flatten the list column's value buffer per chunk
        arrs = [c.flatten().to_numpy(zero_copy_only=False)
                for c in tbl.column("hv").chunks]
        hv = (np.concatenate(arrs) if len(arrs) > 1 else arrs[0]).astype(
            np.int64, copy=False).view(np.uint64)
        # in-place sort + from_hashes' diff-based dedup (see the storage
        # exchange): cheaper than np.unique under 2^sb-way concurrency
        if not hv.flags.writeable:
            hv = hv.copy()
        hv.sort()
        qf = QF.from_hashes(hv, None, cfg)
        row = _finish_shard(qf, int(shard), len(hv), cfg, sb, payload_dir,
                            t0=t0)
        return pa.Table.from_pylist([row], schema=pa_schema)

    return fat.groupBy("shard").applyInArrow(_build_fat, _SHARD_SCHEMA)


def _pa_shard_schema():
    import pyarrow as pa

    return pa.schema([
        ("shard", pa.int64()), ("entries", pa.int64()),
        ("q_bits", pa.int32()), ("payload", pa.binary()),
        ("payload_path", pa.string()), ("hash_name", pa.string()),
        ("counter_bits", pa.int32()), ("shard_bits", pa.int32()),
        ("n_rows", pa.int64()), ("build_ts", pa.float64()),
        ("code_version", pa.string()), ("build_secs", pa.float64()),
    ])


# -- exchange: 'storage' (filesystem exchange, channel-free) ----------------

def _exchange_storage(spark: SparkSession, hashed: DataFrame, sb: int,
                      config: QFConfig, done: set, payload_dir: str | None,
                      spill_dir: str | None, checkpoint_path: str | None):
    """Stage 1 (pure JVM): write routed hashes as parquet partitioned by
    shard. Stage 2: one task per shard reads its partition directly with
    pyarrow and builds. Returns (shards_df, spill_path_to_cleanup)."""
    import tempfile

    cleanup = None
    if spill_dir is None:
        if checkpoint_path:
            spill_dir = checkpoint_path.rstrip("/") + "_spill"
            cleanup = spill_dir
        else:
            base = "/dev/shm" if os.path.isdir("/dev/shm") else None
            spill_dir = tempfile.mkdtemp(prefix="qf_spill_", dir=base)
            # no checkpoint => the returned DataFrame is lazy over the
            # spill; the caller owns cleanup (or passes spill_dir)
    spill = os.path.join(spill_dir, "hashes")

    routed = _routed(hashed, sb)
    if done:
        routed = routed.filter(~F.col("shard").isin(list(done)))
    # cluster rows by shard BEFORE the dynamic-partition write: a write
    # task holding many shard values runs the sort-based dynamic
    # partition writer over its whole input (M tasks x 2^sb open
    # writers/sorts), which profiled 2.5-5x slower than shuffling first
    # so each task writes whole shards (guide §6: cluster by partition
    # key on write). Range partitioning maps the 2^sb distinct shard ids
    # ~1:1 onto tasks (hash partitioning would leave ~1/e of tasks empty
    # and others with 2-3 shards — guide §2.5 synthetic-key collisions).
    routed = routed.repartitionByRange(1 << sb, "shard")
    writer = routed.write.mode("overwrite")
    for k, v in _SPILL_WRITE_OPTS.items():
        writer = writer.option(k, v)
    writer.partitionBy("shard").parquet(spill, compression="none")

    cfg = config
    # enumerate shard ids executor-side (spark.range): at shard_bits=26+
    # a driver-side python list of 2^sb tuples would be GBs of RAM
    ids_df = spark.range(1 << sb).withColumnRenamed("id", "shard")
    if done:
        done_df = spark.createDataFrame([(s,) for s in done], "shard long")
        ids_df = ids_df.join(done_df, "shard", "left_anti")
    ids_df = ids_df.repartition(min(1 << sb, 4096))

    def _build_from_spill(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in pdfs:
            for s in pdf["shard"].tolist():
                t0 = time.time()
                d = os.path.join(spill, f"shard={s}")
                if not os.path.isdir(d):
                    continue  # empty shard: no row, same as other modes
                tbl = pq.read_table(d, columns=["lh"], use_threads=False)
                hv = tbl.column("lh").to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False).view(np.uint64)
                if len(hv) == 0:
                    continue
                # in-place sort + from_hashes' diff-based dedup: no
                # index arrays, no np.unique inverse/bincount — less
                # memory traffic, which is what bounds 2^sb concurrent
                # shard builders (this stage is bandwidth-saturated)
                if not hv.flags.writeable:
                    hv = hv.copy()
                hv.sort()
                qf = QF.from_hashes(hv, None, cfg)
                yield pd.DataFrame(
                    [_finish_shard(qf, int(s), len(hv), cfg, sb,
                                   payload_dir, t0=t0)])

    return ids_df.mapInPandas(_build_from_spill, _SHARD_SCHEMA), cleanup


# -- exchange: 'combine' (partition-local numpy combiner blobs) -------------

def _exchange_combine(hashed: DataFrame, sb: int, config: QFConfig,
                      done: set, payload_dir: str | None) -> DataFrame:
    partials = hashed.mapInPandas(
        _local_shard_blobs(sb, config.counter_bits > 0),
        schema="shard long, hashes binary, counts binary",
    )
    if done:
        partials = partials.filter(~F.col("shard").isin(list(done)))
    return partials.groupBy("shard").applyInPandas(
        _merge_and_build(config, sb, payload_dir), schema=_SHARD_SCHEMA
    )


# -- exchange: 'salted' (explicit two-stage row-level aggregation) ----------

def _exchange_salted(hashed: DataFrame, sb: int, config: QFConfig,
                     done: set, payload_dir: str | None) -> DataFrame:
    salted = hashed.withColumn(
        "salt", F.pmod(F.monotonically_increasing_id(), F.lit(64))
    )
    agg = (
        salted.groupBy(HASH_COL, "salt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(HASH_COL)
        .agg(F.sum("cnt").alias("cnt"))
    )
    routed = agg.select(
        (F.shiftrightunsigned(F.col(HASH_COL), 64 - sb) if sb
         else F.lit(0)).cast("long").alias("shard"),
        (F.shiftleft(F.col(HASH_COL), sb) if sb
         else F.col(HASH_COL)).alias("local_hash"),
        F.col("cnt"),
    )
    if done:
        routed = routed.filter(~F.col("shard").isin(list(done)))
    partials = routed.groupBy("shard").applyInPandas(
        _rows_to_blob(config.counter_bits > 0),
        schema="shard long, hashes binary, counts binary",
    )
    return partials.groupBy("shard").applyInPandas(
        _merge_and_build(config, sb, payload_dir), schema=_SHARD_SCHEMA
    )


def _merge_and_build(config: QFConfig, shard_bits: int,
                     payload_dir: str | None):
    """applyInPandas reducer shared by 'combine'/'salted': merge a
    shard's sorted blobs and bulk-build its filter."""
    cfg = config

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.time()
        hv, counts = _merge_hash_blobs(
            list(zip(pdf["hashes"], pdf["counts"])), cfg.counter_bits
        )
        qf = QF.from_hashes(hv, counts, cfg, assume_unique=True)
        n_rows = (
            int(counts.astype(np.int64).sum()) if counts is not None else len(hv)
        )
        return pd.DataFrame(
            [_finish_shard(qf, int(pdf["shard"].iloc[0]), n_rows, cfg,
                           shard_bits, payload_dir, t0=t0)]
        )

    return _fn


def _local_shard_blobs(shard_bits: int, with_counts: bool):
    """mapInPandas combiner: per input partition, sort+unique all hashes
    (sorting the full hash sorts by (shard, local) at once) and emit one
    (shard, hashes, counts) blob per shard present in the partition.
    Blob hashes are the shard-local form ``hash << shard_bits``, sorted."""

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [_u64(b[HASH_COL]) for b in batches if len(b)]
        if not chunks:
            return
        hv = np.concatenate(chunks)
        if with_counts:
            uniq, counts = np.unique(hv, return_counts=True)
        else:
            uniq, counts = np.unique(hv), None
        sb = np.uint64(shard_bits)
        if shard_bits:
            shards = (uniq >> (np.uint64(64) - sb)).astype(np.int64)
            local = uniq << sb
            # uniq is sorted, so shards are sorted: slice at boundaries
            shard_ids, starts = np.unique(shards, return_index=True)
            ends = np.append(starts[1:], len(uniq))
        else:
            local = uniq
            shard_ids = np.array([0])
            starts, ends = np.array([0]), np.array([len(uniq)])
        out_shard, out_h, out_c = [], [], []
        for s, lo, hi in zip(shard_ids.tolist(), starts.tolist(), ends.tolist()):
            out_shard.append(s)
            out_h.append(local[lo:hi].astype("<u8").tobytes())
            out_c.append(
                counts[lo:hi].astype("<u8").tobytes() if with_counts else b""
            )
        yield pd.DataFrame({"shard": out_shard, "hashes": out_h, "counts": out_c})

    return _fn


def _rows_to_blob(with_counts: bool):
    """applyInPandas adapter for the salted row-level path: convert a
    shard's (local_hash, cnt) rows into one sorted blob row."""

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        hv = _u64(pdf["local_hash"])
        order = np.argsort(hv, kind="stable")
        hv = hv[order]
        if with_counts:
            cnt = pdf["cnt"].to_numpy(dtype=np.int64).view(np.uint64)[order]
            cbytes = cnt.astype("<u8").tobytes()
        else:
            cbytes = b""
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "hashes": [hv.astype("<u8").tobytes()],
                "counts": [cbytes],
            }
        )

    return _fn


def load_sharded_qf(shards_df_or_rows) -> ShardedQF:
    """Materialize a ShardedQF from the shard table (DataFrame or
    collected rows). Duplicate shard rows (from appended re-builds) are
    resolved to the newest build_ts. Each shard's filter gets its probe
    index built."""
    rows = (
        shards_df_or_rows.collect()
        if isinstance(shards_df_or_rows, DataFrame)
        else list(shards_df_or_rows)
    )
    best: dict[int, object] = {}
    for r in rows:
        s = int(r.shard)
        if s not in best or float(r.build_ts) > float(best[s].build_ts):
            best[s] = r
    shards: dict[int, QF] = {}
    shard_bits = 0
    for s, r in best.items():
        shards[s] = qf_from_bytes(shard_payload_bytes(r))
        shard_bits = int(r.shard_bits)
    return ShardedQF(shard_bits, shards)
