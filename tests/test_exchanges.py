"""The four sharded-build exchange strategies are interchangeable:
identical canonical shard payloads, identical lookups — because the
canonical layout is a pure function of the (hash, count) multiset, the
data-movement strategy cannot affect the artifact. Plus the sidecar
payload, checkpoint-overwrite, duplicate-row-resolution, and NULL-key
contracts added in round 2."""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from qfspark.build import (
    build_sharded_qf,
    latest_shards,
    load_sharded_qf,
    shard_payload_bytes,
)
from qfspark.lookup import annotate, annotate_via_shard_table
from qfspark.sizing import QFConfig

EXCHANGES = ["arrow", "storage", "combine", "salted"]


@pytest.fixture(scope="module")
def keys_df(spark):
    # duplicates included: counts must survive every exchange
    rows = [(f"key-{i % 700}",) for i in range(2000)]
    return spark.createDataFrame(rows, "key string").repartition(8).cache()


def _payloads(df):
    return {int(r.shard): shard_payload_bytes(r) for r in df.collect()}


def test_exchanges_byte_identical(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ref = None
    for ex in EXCHANGES:
        got = _payloads(
            build_sharded_qf(keys_df, "key", shard_bits=3, config=cfg,
                             exchange=ex,
                             spill_dir=str(tmp_path / f"spill_{ex}")))
        assert got, f"{ex}: no shards"
        if ref is None:
            ref = got
        else:
            assert got == ref, f"{ex} diverges from arrow"


def test_exchange_counts_exact(spark, keys_df):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    for ex in ("arrow", "storage"):
        sharded = load_sharded_qf(
            build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                             exchange=ex))
        found, counts = sharded.lookup_keys(
            [f"key-{i}" for i in range(700)])
        assert found.all()
        # 2000 rows over 700 keys: keys 0..599 appear 3x, 600..699 appear 2x
        want = np.where(np.arange(700) < 600, 3, 2)
        assert (counts == want).all()


def test_sidecar_payloads(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    paydir = str(tmp_path / "payloads")
    os.makedirs(paydir, exist_ok=True)
    df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                          exchange="arrow", payload_dir=paydir)
    rows = df.collect()
    assert all(r.payload is None for r in rows)
    assert all(r.payload_path.startswith(paydir) for r in rows)
    # inline build for comparison
    inline = _payloads(build_sharded_qf(keys_df, "key", shard_bits=2,
                                        config=cfg, exchange="arrow"))
    assert {int(r.shard): shard_payload_bytes(r) for r in rows} == inline
    # loader follows the sidecar
    sharded = load_sharded_qf(df)
    assert sharded.contains("key-1")


def test_checkpoint_overwrite_no_duplicates(spark, keys_df, tmp_path):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ckpt = str(tmp_path / "ckpt")
    df1 = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=False)
    n1 = spark.read.parquet(ckpt).count()
    # re-run with resume=False must OVERWRITE, not append duplicates
    df2 = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                           checkpoint_path=ckpt, resume=False)
    n2 = spark.read.parquet(ckpt).count()
    assert n1 == n2 == df2.count()
    assert load_sharded_qf(df2).contains("key-1")


def test_duplicate_shard_rows_resolved_by_build_ts(spark, keys_df, tmp_path):
    """Even if a checkpoint ends up with duplicate shard rows (partial
    append before a crash), every reader keeps only the newest row."""
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    ckpt = str(tmp_path / "ckpt_dup")
    build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg,
                     checkpoint_path=ckpt, resume=False)
    good = spark.read.parquet(ckpt)
    # forge a STALE row per shard: older build_ts, empty-filter payload
    from qfspark.kernel import QF
    from qfspark.serde import qf_to_bytes

    empty = qf_to_bytes(QF(cfg))
    stale = good.withColumn("build_ts", F.col("build_ts") - F.lit(1000.0)) \
                .withColumn("payload", F.lit(empty)) \
                .withColumn("entries", F.lit(0).cast("long"))
    stale.write.mode("append").parquet(ckpt)
    polluted = spark.read.parquet(ckpt)
    assert polluted.count() == 2 * good.count()

    # loader picks the newest rows -> zero false negatives preserved
    sharded = load_sharded_qf(polluted)
    found, _ = sharded.lookup_keys([f"key-{i}" for i in range(700)])
    assert found.all()

    # latest_shards view has one row per shard
    assert latest_shards(polluted).count() == good.count()

    # the no-broadcast probe path also resolves to the newest row
    probes = spark.createDataFrame(
        [(f"key-{i}",) for i in range(50)], "key string")
    out = annotate_via_shard_table(probes, "key", polluted)
    assert out.where(~F.col("qf_seen")).count() == 0


def test_probe_splits_exceed_shard_count(spark, keys_df):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df, "key", shard_bits=1, config=cfg)
    probes = spark.createDataFrame(
        [(f"key-{i}",) for i in range(900)], "key string")
    base = {r.key: (r.qf_seen, r.qf_count) for r in
            annotate_via_shard_table(probes, "key", shards_df,
                                     probe_splits=1).collect()}
    split = {r.key: (r.qf_seen, r.qf_count) for r in
             annotate_via_shard_table(probes, "key", shards_df,
                                      probe_splits=8).collect()}
    assert split == base
    assert all(base[f"key-{i}"][0] for i in range(700))


def test_null_keys_dropped_and_never_members(spark):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    rows = [("a",), (None,), ("b",), (None,)]
    df = spark.createDataFrame(rows, "key string")
    from qfspark.build import build_qf

    qf = build_qf(df, "key", config=cfg)
    assert len(qf) == 2  # NULLs dropped at build

    out = annotate(df, "key", qf).collect()
    by_key = {r.key: (r.qf_seen, r.qf_count) for r in out}
    assert by_key["a"] == (True, 1)
    assert by_key["b"] == (True, 1)
    null_rows = [r for r in out if r.key is None]
    assert all((not r.qf_seen) and r.qf_count == 0 for r in null_rows)

    sharded_rows = build_sharded_qf(df, "key", shard_bits=1,
                                    config=cfg).collect()
    assert sum(r.entries for r in sharded_rows) == 2


def _spy_exchanges(monkeypatch, on_call=None):
    """Record which ``_exchange_*`` builder ``build_sharded_qf`` calls;
    ``on_call(name, phase)`` runs just before and after the call."""
    from qfspark import build

    chosen = []
    for name in ("arrow", "storage", "combine", "salted"):
        def spy(*args, _name=name, _fn=getattr(build, f"_exchange_{name}"),
                **kwargs):
            chosen.append(_name)
            if on_call:
                on_call(_name, "before")
            out = _fn(*args, **kwargs)
            if on_call:
                on_call(_name, "after")
            return out
        monkeypatch.setattr(build, f"_exchange_{name}", spy)
    return chosen


def _uniq_heavy(spark):
    uniq = spark.createDataFrame([(f"u{i}",) for i in range(3000)],
                                 "key string")
    heavy = spark.createDataFrame([(f"d{i % 50}",) for i in range(3000)],
                                  "key string")
    return uniq, heavy


def _assert_auto_picks(spark, monkeypatch, cfg):
    uniq, heavy = _uniq_heavy(spark)
    # dup ratio 1 -> 'arrow'; 3000 rows over 50 keys = 60 -> 'combine'
    for df, want in ((uniq, "arrow"), (heavy, "combine")):
        chosen = _spy_exchanges(monkeypatch)
        auto = _payloads(build_sharded_qf(df, "key", shard_bits=2,
                                          config=cfg, exchange="auto"))
        assert chosen == [want]
        monkeypatch.undo()
        arrow = _payloads(build_sharded_qf(df, "key", shard_bits=2,
                                           config=cfg, exchange="arrow"))
        assert auto == arrow  # canonical bytes are strategy-independent


def test_exchange_auto_picks_by_dup_ratio(spark, monkeypatch):
    _assert_auto_picks(spark, monkeypatch,
                       QFConfig(counter_bits=16, hash_name="xxhash64"))


def test_exchange_auto_picks_with_python_hash(spark, monkeypatch):
    # murmur64a hashes in a pandas UDF, not in the JVM: the sampled
    # prefix crosses the same UDF before it is Arrow-collected
    _assert_auto_picks(spark, monkeypatch,
                       QFConfig(counter_bits=16, hash_name="murmur64a"))


def test_exchange_auto_empty_input(spark, monkeypatch):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    empty = spark.createDataFrame([], "key string")
    chosen = _spy_exchanges(monkeypatch)
    rows = build_sharded_qf(empty, "key", shard_bits=2, config=cfg,
                            exchange="auto").collect()
    assert chosen == ["arrow"]  # 0 sampled rows: dup ratio 0
    assert rows == []


def test_exchange_auto_logs_decision(spark, caplog):
    import logging

    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    uniq, heavy = _uniq_heavy(spark)
    caplog.set_level(logging.INFO, logger="qfspark.build")
    for df in (uniq, heavy):
        build_sharded_qf(df, "key", shard_bits=2, config=cfg,
                         exchange="auto")
    recs = [r for r in caplog.records if r.name == "qfspark.build"
            and hasattr(r, "qf_exchange")]
    assert [r.levelno for r in recs] == [logging.INFO] * 2
    u, h = recs
    assert (u.qf_exchange, u.qf_sampled_rows, u.qf_dup_ratio,
            u.qf_rows_per_shard) == ("arrow", 3000, 1.0, 750.0)
    # 'combine' is chosen on the ratio alone: the estimate is not consulted
    assert (h.qf_exchange, h.qf_sampled_rows, h.qf_dup_ratio,
            h.qf_rows_per_shard) == ("combine", 3000, 60.0, None)
    assert "arrow" in u.getMessage() and "dup_ratio=1.000" in u.getMessage()


@pytest.mark.parametrize("kind", ["unique_parquet", "heavy"])
def test_exchange_auto_decides_in_one_job(spark, monkeypatch, tmp_path,
                                          kind):
    """Choosing the exchange costs exactly one Spark job (the prefix
    collect), and the chosen exchange builder itself stays lazy. The
    unique input is parquet so the rows-per-shard guard reads footers
    instead of counting."""
    uniq, heavy = _uniq_heavy(spark)
    if kind == "unique_parquet":
        uniq.write.parquet(str(tmp_path / "uniq"))
        df, want = spark.read.parquet(str(tmp_path / "uniq")), "arrow"
    else:
        df, want = heavy, "combine"
    sc = spark.sparkContext
    group = f"qf-auto-jobs-{kind}"
    jobs_at = {}

    def on_call(name, phase):
        jobs_at[phase] = len(sc.statusTracker().getJobIdsForGroup(group))

    chosen = _spy_exchanges(monkeypatch, on_call)
    sc.setJobGroup(group, "exchange='auto' decision")
    try:
        build_sharded_qf(df, "key", shard_bits=2, exchange="auto")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert chosen == [want]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert jobs_at == {"before": 1, "after": 1}


def test_arrow_exchange_plan_has_one_exchange(spark):
    """The arrow shard table shuffles once: the second groupBy('shard')
    (applyInArrow) reuses the aggregation's hashpartitioning(shard) and
    adds only a Sort."""
    import re

    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    keys = spark.range(2000).selectExpr("concat('k', id % 700) AS key")
    sdf = build_sharded_qf(keys, "key", shard_bits=2, config=cfg,
                           exchange="arrow")
    # the not-yet-run adaptive plan prints the physical plan once
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\w*Exchange\b", plan) == ["Exchange"], plan
    assert "hashpartitioning(shard" in plan


def test_filter_unseen_via_shard_table(spark, keys_df):
    from qfspark.lookup import filter_unseen_via_shard_table

    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg)
    probes = spark.createDataFrame(
        [(f"key-{i}", i) for i in range(650, 760)], "key string, ord int")
    out = filter_unseen_via_shard_table(probes, "key", shards_df)
    # keys 650..699 were built; 700..759 are fresh
    got = sorted((r.key, r.ord) for r in out.collect())
    want = sorted((f"key-{i}", i) for i in range(700, 760))
    assert got == want  # zero false negatives: nothing built leaks through
    assert out.columns == ["key", "ord"]


def test_annotate_via_shard_table_passthrough_and_nulls(spark, keys_df):
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    shards_df = build_sharded_qf(keys_df, "key", shard_bits=2, config=cfg)
    probes = spark.createDataFrame(
        [("key-1", 10), (None, 20), ("nope", 30)], "key string, extra int")
    rows = {r.extra: r for r in
            annotate_via_shard_table(probes, "key", shards_df).collect()}
    assert rows[10].qf_seen and rows[10].qf_count == 3
    assert not rows[20].qf_seen and rows[20].qf_count == 0  # NULL never member
    assert not rows[30].qf_seen
