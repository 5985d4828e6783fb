"""Seeded input generators for the benchmark workloads.

Every table is a function of ``(workload, seed)`` alone, built with numpy and
pyarrow (no Spark), so the same seed always yields byte-identical inputs.
Keys are URL-like strings; never-inserted probe keys live under a different
host pattern, so they can never equal a member string.

Each generator returns a :class:`Workload` holding the build table, the probe
table (``pid``, ``url``) and the generator's own expectation of each probe's
true count, which the tests use to check the generators themselves. The
benchmark checks the library against ``checks.reference_counts``, an Arrow
hash aggregation over the generated strings, and only uses these arrays to
check that reference.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Rows written per parquet row group.
ROW_GROUP = 1 << 17

#: Each table is written as this many equal files. With
#: ``spark.sql.files.maxPartitionBytes`` above the table size, Spark maps one
#: file to one input partition, so the partition count (and with it the number
#: of partial filters) does not depend on the seed.
N_FILES = 2


@dataclass(frozen=True)
class Spec:
    """Sizes of one workload."""

    build_rows: int
    probe_rows: int
    #: Zipf exponent; 0 means every build key is distinct.
    zipf_s: float = 0.0
    #: Zipf vocabulary size (ranks 1..vocab).
    vocab: int = 0
    #: Share of probe rows that are keys never inserted.
    absent_share: float = 0.5


SPECS = {
    # 500k distinct keys: every row survives dedup; 'auto' resolves to
    # 'arrow'.
    "unique": Spec(build_rows=500_000, probe_rows=500_000, absent_share=0.5),
    # 2M Zipf(1.2) rows over a 1M-key vocabulary: ~125k distinct keys, one
    # key ~19% of rows, a prefix duplicate ratio near 8 ('auto' resolves to
    # 'combine').
    "zipf": Spec(build_rows=2_000_000, probe_rows=500_000, zipf_s=1.2,
                 vocab=1_000_000, absent_share=0.1),
}


@dataclass
class Workload:
    build: pa.Table          # url
    probe: pa.Table          # pid, url
    #: generator-side true count of each probe key in the build table
    probe_truth: np.ndarray


def _member_urls(ids: np.ndarray) -> pa.Array:
    ids = pa.array(ids, type=pa.int64())
    host = pc.cast(pc.bit_wise_and(ids, 4095), pa.string())
    return pc.binary_join_element_wise(
        "https://h", host, ".example.com/p/", pc.cast(ids, pa.string()), "")


def _absent_urls(ids: np.ndarray) -> pa.Array:
    ids = pa.array(ids, type=pa.int64())
    host = pc.cast(pc.bit_wise_and(ids, 4095), pa.string())
    return pc.binary_join_element_wise(
        "https://x", host, ".example.net/q/", pc.cast(ids, pa.string()), "")


def _key_ids(rng: np.random.Generator, ranks: np.ndarray) -> np.ndarray:
    """Map vocabulary ranks to seed-dependent key ids (an injective affine
    map), so each seed builds a different key set."""
    mult = int(rng.integers(1 << 20, 1 << 30)) | 1
    off = int(rng.integers(0, 1 << 32))
    return ranks.astype(np.int64) * mult + off


def zipf_ranks(rng: np.random.Generator, n: int, s: float,
               vocab: int) -> np.ndarray:
    """``n`` iid draws of a Zipf(s) rank in ``[0, vocab)`` (rank 0 most
    frequent), by inverse CDF."""
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n), side="right")
    return np.minimum(ranks, vocab - 1)


def generate(name: str, seed: int, spec: Spec | None = None) -> Workload:
    spec = spec or SPECS[name]
    rng = np.random.default_rng([seed] + list(name.encode()))
    n, p = spec.build_rows, spec.probe_rows
    n_absent = int(round(p * spec.absent_share))
    n_member = p - n_absent
    if spec.zipf_s:
        vocab = _member_urls(_key_ids(rng, np.arange(spec.vocab)))
        ranks = zipf_ranks(rng, n, spec.zipf_s, spec.vocab)
        probe_ranks = zipf_ranks(rng, n_member, spec.zipf_s, spec.vocab)
        member_truth = np.bincount(ranks, minlength=spec.vocab)[probe_ranks]
    else:
        vocab = _member_urls(_key_ids(rng, np.arange(n)))
        ranks = rng.permutation(n)
        probe_ranks = rng.choice(n, size=n_member, replace=False)
        member_truth = np.ones(n_member, dtype=np.int64)
    absent_ids = rng.choice(1 << 40, size=n_absent, replace=False)

    # probe row i holds member j = slot[i] (< n_member) or absent key
    # slot[i] - n_member
    slot = rng.permutation(p)
    urls = pa.concat_arrays([vocab.take(pa.array(probe_ranks)),
                             _absent_urls(absent_ids)])
    truth = np.zeros(p, dtype=np.int64)
    is_member = slot < n_member
    truth[is_member] = member_truth[slot[is_member]]
    probe = pa.table({
        "pid": pa.array(np.arange(p, dtype=np.int64)),
        "url": urls.take(pa.array(slot)),
    })
    build = pa.table({"url": vocab.take(pa.array(ranks))})
    return Workload(build, probe, truth)


def write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` as N_FILES equal parquet files under directory
    ``path``."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:02d}.parquet"),
                       row_group_size=ROW_GROUP)


def prefix_dup_ratio(build: pa.Table, prefix: int = 200_000) -> float:
    """Rows over distinct keys in the first ``prefix`` rows — the statistic
    ``build_sharded_qf(exchange='auto')`` thresholds at 4."""
    head = build.column("url").slice(0, prefix)
    return len(head) / max(1, len(pc.unique(head)))


#: The traced run's stream: a first micro-batch of STREAM_FIRST new keys,
#: then STREAM_BATCHES batches of STREAM_ROWS rows each, half of them new
#: keys and half keys of earlier batches.
STREAM_FIRST = 64_000
STREAM_BATCHES = 8
STREAM_ROWS = 4_000


def stream_batches(build: pa.Table, seed: int) -> list:
    """The keys of each micro-batch of the traced run's stream, in order.
    New keys are the build table's distinct keys in order of first
    appearance; repeats are drawn uniformly from the keys of earlier
    batches."""
    need = STREAM_FIRST + STREAM_BATCHES * (STREAM_ROWS // 2)
    fresh = pc.unique(build.column("url")).slice(0, need).to_pylist()
    if len(fresh) < need:
        raise ValueError(f"the stream needs {need} distinct keys, the build "
                         f"table has {len(fresh)}")
    rng = np.random.default_rng([seed] + list(b"stream"))
    out, pos, half = [fresh[:STREAM_FIRST]], STREAM_FIRST, STREAM_ROWS // 2
    for _ in range(STREAM_BATCHES):
        keys = fresh[pos:pos + half] + [fresh[i]
                                        for i in rng.integers(0, pos, half)]
        out.append([keys[i] for i in rng.permutation(len(keys))])
        pos += half
    return out
