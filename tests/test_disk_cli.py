"""Zero-load disk open (reference TestReadOnlyFromDisk, qf_test.go:512-566)
and CLI (reference cmd/main.go compile/lookup/describe)."""

import os
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from qfspark import QF, QFConfig
from qfspark.disk import open_readonly, read_header_from_path, save
from qfspark.hashing import murmur64a

from .corpus import TEST_STRINGS


@pytest.mark.parametrize("bit_packed", [False, True])
@pytest.mark.parametrize("counter_bits", [0, 15])
def test_open_readonly_same_lookups(tmp_path, bit_packed, counter_bits):
    cfg = QFConfig(counter_bits=counter_bits, bit_packed=bit_packed,
                   expected_entries=300)
    qf = QF.from_keys(TEST_STRINGS, config=cfg)
    path = str(tmp_path / "f.qf")
    save(qf, path)

    ro = open_readonly(path)
    assert ro.entries == qf.entries
    assert ro.config.hash_name == qf.config.hash_name
    hashes = murmur64a(TEST_STRINGS)
    f_mem, c_mem = qf.lookup_hashes(hashes, mode="walk")
    f_ro, c_ro = ro.lookup_hashes(hashes, mode="walk")
    assert np.array_equal(f_mem, f_ro)
    assert np.array_equal(c_mem, c_ro)
    assert bool(f_ro.all())
    # absent keys miss through the memmap too
    fa, _ = ro.lookup_hashes(murmur64a([f"zzz-{i}" for i in range(100)]), mode="walk")
    assert int(fa.sum()) == 0


_RO_WRITE = r"""
import sys
import numpy as np
from qfspark import disk
ro = disk.open_readonly(sys.argv[1])
hv = np.arange(1, 200, dtype=np.uint64) << np.uint64(40)
writes = [lambda: ro.insert_hashes(hv), lambda: ro.insert_hashes(hv, add=True),
          lambda: ro.insert_hash(int(hv[0]))]
if ro.entries == 0:
    writes.append(lambda: ro._bulk_fill(hv, None))
for write in writes:
    try:
        write()
        print("wrote")
    except ValueError as e:
        print("ValueError:", e)
"""


@pytest.mark.parametrize("entries", [300, 0])
@pytest.mark.parametrize("bit_packed", [False, True])
@pytest.mark.parametrize("counter_bits", [0, 15])
def test_open_readonly_write_raises_cleanly(tmp_path, bit_packed,
                                            counter_bits, entries):
    """Writing into a read-only memmap raises ValueError on every path
    (C kernel gated on WRITEABLE, numpy ufunc.at guarded) instead of
    faulting; run in a child so a fault reports instead of killing the
    suite. The file on disk is untouched."""
    cfg = QFConfig(counter_bits=counter_bits, bit_packed=bit_packed,
                   expected_entries=300)
    qf = QF.from_keys(TEST_STRINGS[:entries], config=cfg)
    path = str(tmp_path / "f.qf")
    save(qf, path)
    before = open(path, "rb").read()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", _RO_WRITE, path],
                          capture_output=True, text=True, timeout=120,
                          env={**os.environ, "PYTHONPATH": root})
    assert proc.returncode == 0, (proc.returncode, proc.stderr[-2000:])
    lines = proc.stdout.splitlines()
    assert len(lines) == (4 if entries == 0 else 3)
    assert all(ln == "ValueError: assignment destination is read-only"
               for ln in lines), lines
    assert open(path, "rb").read() == before


def test_header_peek(tmp_path):
    qf = QF.from_keys(["a", "b"], config=QFConfig(counter_bits=9, hash_name="xxhash64"))
    path = str(tmp_path / "h.qf")
    save(qf, path)
    h = read_header_from_path(path)
    assert h["entries"] == 2 and h["counter_bits"] == 9
    assert h["hash_name"] == "xxhash64"


def _cli(*argv):
    return subprocess.run(
        [sys.executable, "-m", "qfspark.cli", *argv],
        capture_output=True, text=True, cwd="/root/repo",
    )


def test_open_any_both_formats(tmp_path):
    from qfspark.disk import open_any
    from qfspark.serde import qf_to_gqf_bytes

    qf = QF.from_keys(TEST_STRINGS, config=QFConfig(counter_bits=8))
    native = str(tmp_path / "n.qf")
    gqf = str(tmp_path / "g.qf")
    save(qf, native)
    with open(gqf, "wb") as f:
        f.write(qf_to_gqf_bytes(qf))
    for path in (native, gqf):
        ro = open_any(path)
        assert ro.entries == qf.entries
        assert ro.contains(TEST_STRINGS[0])
        assert not ro.contains("definitely-not-present-xyz")
        # BOTH formats open zero-load: word arrays are memory-mapped,
        # not read (reference Disk parity for its own files, disk.go:31-72)
        import numpy as np

        assert isinstance(ro.filter.words, np.memmap)
        assert isinstance(ro.storage.words, np.memmap)


@pytest.mark.parametrize("bit_packed", [False, True])
def test_gqf_zero_load_large_file(tmp_path, bit_packed):
    """A large go-qfext-format file answers probes identically via the
    memmap path (walk mode: pay-per-probe page faults, no full load)."""
    import numpy as np

    from qfspark.disk import open_readonly_gqf
    from qfspark.serde import qf_from_gqf_bytes, qf_to_gqf_bytes

    keys = [f"url-{i}" for i in range(200_000)]
    qf = QF.from_keys(
        keys, config=QFConfig(counter_bits=4, bit_packed=bit_packed,
                              hash_name="murmur64a"))
    path = str(tmp_path / "big.qf")
    blob = qf_to_gqf_bytes(qf)
    with open(path, "wb") as f:
        f.write(blob)

    ro = open_readonly_gqf(path)
    assert isinstance(ro.filter.words, np.memmap)
    assert len(ro) == len(qf)
    full = qf_from_gqf_bytes(blob)
    probes = keys[::1000] + [f"absent-{i}" for i in range(50)]
    from qfspark.hashing import hash_bytes

    hv = hash_bytes(probes, "murmur64a")
    f1, c1 = ro.lookup_hashes(hv, mode="walk")
    f2, c2 = full.lookup_hashes(hv)
    assert (f1 == f2).all() and (c1 == c2).all()


def test_sharded_to_qf_roundtrip(spark=None):
    import numpy as np

    from qfspark.build import ShardedQF

    keys = [f"key-{i}" for i in range(5000)] + ["dup"] * 7
    cfg = QFConfig(counter_bits=16)
    direct = QF.from_keys(keys, config=cfg)
    # build a sharded filter by hand: route murmur hashes by top 3 bits
    from qfspark.hashing import murmur64a

    hv = murmur64a(keys)
    sb = np.uint64(3)
    shards = {}
    for s in range(8):
        mask = (hv >> np.uint64(61)) == s
        if not mask.any():
            continue
        shards[s] = QF.from_hashes(hv[mask] << sb, None, cfg)
    sharded = ShardedQF(3, shards)
    assert sharded.entries == direct.entries
    f, c = sharded.lookup_keys(["dup", "key-42", "absent"])
    assert list(f) == [True, True, False]
    assert c[0] == 7 and c[1] == 1
    merged = sharded.to_qf()
    if merged.q_bits != direct.q_bits:
        merged.resize(direct.q_bits)
    assert merged.to_bytes() == direct.to_bytes()


def test_cli_build_lookup_describe(tmp_path):
    lines = tmp_path / "keys.txt"
    lines.write_text("alpha\nbeta\ngamma\nalpha\n")
    out = str(tmp_path / "f.qf")

    r = _cli("build", out, "--input", str(lines), "--counter-bits", "8")
    assert r.returncode == 0, r.stderr
    assert "3 entries" in r.stdout

    r = _cli("lookup", out, "alpha", "beta")
    assert r.returncode == 0, r.stderr
    assert "alpha: present (count=2)" in r.stdout
    assert "beta: present (count=1)" in r.stdout

    r = _cli("lookup", out, "missing")
    assert r.returncode == 1
    assert "missing: not present" in r.stdout

    r = _cli("describe", out)
    assert r.returncode == 0, r.stderr
    assert "entries" in r.stdout and "bits configured for quotient" in r.stdout

    # go-qfext wire-format export + reopen through the same CLI
    gout = str(tmp_path / "g.qf")
    r = _cli("build", gout, "--input", str(lines), "--counter-bits", "8", "--gqf")
    assert r.returncode == 0, r.stderr
    r = _cli("lookup", gout, "alpha")
    assert r.returncode == 0 and "alpha: present (count=2)" in r.stdout
    r = _cli("describe", gout)
    assert r.returncode == 0 and "go-qfext" in r.stdout

    # missing file -> clean error, exit 2
    r = _cli("lookup", str(tmp_path / "missing.qf"), "x")
    assert r.returncode == 2
    assert "no such filter file" in r.stderr


def test_cli_merge(tmp_path):
    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    a.write_text("x\ny\nx\n")
    b.write_text("y\nz\n")
    fa, fb, out = str(tmp_path / "a.qf"), str(tmp_path / "b.qf"), str(tmp_path / "m.qf")
    assert _cli("build", fa, "--input", str(a), "--counter-bits", "8").returncode == 0
    assert _cli("build", fb, "--input", str(b), "--counter-bits", "8").returncode == 0
    r = _cli("merge", out, fa, fb)
    assert r.returncode == 0, r.stderr
    assert "3 entries from 2 filters" in r.stdout
    r = _cli("lookup", out, "x", "y", "z")
    assert r.returncode == 0
    assert "x: present (count=2)" in r.stdout
    assert "y: present (count=2)" in r.stdout  # 1 + 1 across filters
    assert "z: present (count=1)" in r.stdout


def test_cli_sketch(tmp_path, spark, capsys):
    """`sketch` subcommand reuses the active session (no JVM respawn)
    and prints the approximate aggregates."""
    from qfspark.cli import main

    lines = tmp_path / "keys.txt"
    lines.write_text("".join(
        f"k{i % 40}\n" for i in range(400)))  # 40 distinct, uniform 10x

    assert main(["sketch", "distinct", "--input", str(lines)]) == 0
    out = capsys.readouterr().out
    assert "distinct ~=" in out

    assert main(["sketch", "topk", "--input", str(lines), "--k", "8"]) == 0
    out = capsys.readouterr().out
    assert "undercount budget" in out

    # numeric parquet column for quantiles + f2
    pq = str(tmp_path / "vals.parquet")
    spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v") \
        .toPandas().to_parquet(pq)
    assert main(["sketch", "quantiles", "--input", pq,
                 "--qs", "0.5", "--quantile-sketch", "kll"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("q0.5")

    assert main(["sketch", "f2", "--input", str(lines)]) == 0
    assert "F2 ~=" in capsys.readouterr().out
    assert spark.sparkContext._jsc is not None  # session not stopped


def test_cli_sketch_grouped(tmp_path, spark, capsys):
    """`sketch distinct|topk --by g`: per-group rollups in one pass."""
    import pandas as pd

    from qfspark.cli import main

    pq = str(tmp_path / "grouped.parquet")
    pd.DataFrame({
        "g": ["en"] * 300 + ["de"] * 100,
        "key": [f"e{i % 30}" for i in range(300)]
               + [f"d{i % 10}" for i in range(100)],
    }).to_parquet(pq)

    assert main(["sketch", "distinct", "--input", pq, "--column", "key",
                 "--by", "g"]) == 0
    out = capsys.readouterr().out
    assert "en\tdistinct ~= 30" in out and "de\tdistinct ~= 10" in out

    assert main(["sketch", "topk", "--input", pq, "--column", "key",
                 "--by", "g", "--k", "64"]) == 0
    out = capsys.readouterr().out
    # k > distinct per group: exact counts, zero error budget
    assert "en\te0\t[10, 10]" in out
    assert "de\td0\t[10, 10]" in out


def test_cli_sketch_quantiles_grouped(tmp_path, spark, capsys):
    """`sketch quantiles --by g`: per-group KLL quantiles."""
    import pandas as pd

    from qfspark.cli import main

    pq = str(tmp_path / "gq.parquet")
    pd.DataFrame({
        "g": ["a"] * 500 + ["b"] * 500,
        "v": list(range(500)) + [10 * x for x in range(500)],
    }).to_parquet(pq)
    assert main(["sketch", "quantiles", "--input", pq, "--column", "v",
                 "--by", "g", "--qs", "0.5"]) == 0
    out = capsys.readouterr().out
    # medians: ~249-250 for a, ~2490-2500 for b (exact small groups)
    a_med = float(out.split("a\tq0.5\t")[1].split("\n")[0])
    b_med = float(out.split("b\tq0.5\t")[1].split("\n")[0])
    assert abs(a_med - 250) <= 25 and abs(b_med - 2500) <= 250
    assert "grouped KLL" in out


def test_cli_sketch_ratesample(tmp_path, spark, capsys):
    """`sketch ratesample`: deterministic uniform + stratified keep."""
    import pandas as pd

    from qfspark.cli import main

    pq = str(tmp_path / "rs.parquet")
    pd.DataFrame({
        "g": ["en"] * 2000 + ["de"] * 1000,
        "key": [f"k{i}" for i in range(3000)],
    }).to_parquet(pq)
    assert main(["sketch", "ratesample", "--input", pq,
                 "--column", "key", "--rate", "0.5"]) == 0
    out = capsys.readouterr().out
    kept = int(out.split("# kept ")[1].split("/")[0])
    assert abs(kept / 3000 - 0.5) < 0.05

    assert main(["sketch", "ratesample", "--input", pq,
                 "--column", "key", "--by", "g",
                 "--rates", "de=1.0", "--rate", "0.25"]) == 0
    out = capsys.readouterr().out
    kept = int(out.split("# kept ")[1].split("/")[0])
    # de kept whole (1000) + ~25% of en (~500)
    assert abs(kept - 1500) < 100


def test_cli_sketch_setops(tmp_path, spark, capsys):
    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    a.write_text("".join(f"k{i}\n" for i in range(100)))
    b.write_text("".join(f"k{i}\n" for i in range(50, 150)))
    from qfspark.cli import main

    assert main(["sketch", "setops", "--input", str(a),
                 "--input-b", str(b), "--kmv-k", "256"]) == 0
    out = capsys.readouterr().out
    # k exceeds both sets: all five numbers are exact
    assert "|A| ~= 100" in out and "|B| ~= 100" in out
    assert "|A u B| ~= 150" in out and "|A n B| ~= 50" in out
    assert "jaccard ~= 0.3333" in out


def test_cli_sketch_sample(tmp_path, spark, capsys):
    """`sketch sample --weight-column`: priority sampling from the CLI,
    plain and grouped."""
    import pandas as pd

    from qfspark.cli import main

    pq = str(tmp_path / "sample.parquet")
    pd.DataFrame({
        "g": ["en"] * 10 + ["de"] * 10,
        "key": [f"k{i}" for i in range(20)],
        "w": [100 + i for i in range(20)],
    }).to_parquet(pq)

    # n <= k: everything sampled, estimates exact
    assert main(["sketch", "sample", "--input", pq, "--column", "key",
                 "--weight-column", "w", "--k", "64"]) == 0
    out = capsys.readouterr().out
    assert "k0\tw=100\test=100" in out and "unbiased" in out

    assert main(["sketch", "sample", "--input", pq, "--column", "key",
                 "--weight-column", "w", "--by", "g", "--k", "4"]) == 0
    out = capsys.readouterr().out
    assert out.count("en\t") == 4 and out.count("de\t") == 4
