"""The generators: deterministic per seed, and sized so the library's
data-dependent path choices cannot flip between seeds."""

import numpy as np
import pyarrow.compute as pc
import pytest

from perfbench import checks, workloads

SMALL = {
    "unique": workloads.Spec(build_rows=20_000, probe_rows=4_000),
    "zipf": workloads.Spec(build_rows=60_000, probe_rows=4_000, zipf_s=1.2,
                           vocab=10_000, absent_share=0.1),
}


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_inputs(name):
    a = workloads.generate(name, 7, SMALL[name])
    b = workloads.generate(name, 7, SMALL[name])
    assert a.build.equals(b.build)
    assert a.probe.equals(b.probe)
    assert np.array_equal(a.probe_truth, b.probe_truth)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_other_seed_other_inputs(name):
    a = workloads.generate(name, 7, SMALL[name])
    b = workloads.generate(name, 8, SMALL[name])
    assert not a.build.equals(b.build)
    assert not a.probe.equals(b.probe)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_generator_truth_matches_reference(name):
    wl = workloads.generate(name, 3, SMALL[name])
    spec = SMALL[name]
    assert wl.build.num_rows == spec.build_rows
    assert wl.probe.num_rows == spec.probe_rows
    assert np.array_equal(checks.reference_counts(wl.build, wl.probe),
                          wl.probe_truth)
    absent = int(np.count_nonzero(wl.probe_truth == 0))
    assert absent >= round(spec.probe_rows * spec.absent_share)


def test_unique_keys_are_distinct():
    wl = workloads.generate("unique", 5, SMALL["unique"])
    assert pc.count_distinct(wl.build.column("url")).as_py() == 20_000


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_zipf_prefix_duplicate_ratio_stays_high(seed):
    """'auto' picks 'combine' at a prefix duplicate ratio of 4; the zipf
    workload must sit well above it on every seed."""
    wl = workloads.generate("zipf", seed)
    assert workloads.prefix_dup_ratio(wl.build) >= 6


def test_unique_prefix_is_duplicate_free():
    wl = workloads.generate("unique", 1)
    assert workloads.prefix_dup_ratio(wl.build) < 1.01


@pytest.mark.parametrize("name", sorted(workloads.SPECS))
def test_sizes_stay_clear_of_build_qf_path_switch(name):
    """build_qf switches path at SMALL_BUILD_COLLECT_ROWS estimated rows;
    every workload stays at most half of it (the small-collect path)."""
    from qfspark.build import SMALL_BUILD_COLLECT_ROWS

    assert workloads.SPECS[name].build_rows <= SMALL_BUILD_COLLECT_ROWS / 2


def test_write_table_splits_into_equal_files(tmp_path):
    import pyarrow.parquet as pq

    wl = workloads.generate("unique", 1, SMALL["unique"])
    workloads.write_table(wl.build, str(tmp_path))
    files = sorted(tmp_path.iterdir())
    assert len(files) == workloads.N_FILES
    rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert sum(rows) == 20_000 and max(rows) - min(rows) <= 1


@pytest.mark.parametrize("name", sorted(workloads.SPECS))
def test_stream_is_deterministic_and_half_new(name):
    wl = workloads.generate(name, 3)
    a = workloads.stream_batches(wl.build, 3)
    assert a == workloads.stream_batches(wl.build, 3)
    assert a != workloads.stream_batches(wl.build, 4)
    assert len(a) == 1 + workloads.STREAM_BATCHES
    assert len(a[0]) == len(set(a[0])) == workloads.STREAM_FIRST
    seen = set(a[0])
    for keys in a[1:]:
        assert len(keys) == workloads.STREAM_ROWS
        new = {k for k in keys if k not in seen}
        assert len(new) == workloads.STREAM_ROWS // 2
        seen |= new


@pytest.mark.parametrize("name", sorted(workloads.SPECS))
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_stream_takes_the_insert_branch_after_its_first_batch(name, seed):
    from perfbench import layers

    wl = workloads.generate(name, seed)
    groups = layers.stream_groups(workloads.stream_batches(wl.build, seed))
    branches = layers.stream_branches(groups)
    n = layers.STREAM_GROUPS
    assert branches[0] == {"build": n, "insert": 0, "merge": 0}
    assert all(b == {"build": 0, "insert": n, "merge": 0}
               for b in branches[1:])


def test_stream_branches_follow_the_insert_threshold():
    from perfbench import layers

    n = layers.STREAM_GROUPS
    h = np.uint64(n)  # every hash below lands in group 0

    def batch(n_new, start):
        new = np.arange(start, start + n_new, dtype=np.uint64) * h
        return [(new, new)] + [(np.zeros(0, np.uint64),) * 2] * (n - 1)

    groups = [batch(160, 1), batch(9, 1000), batch(11, 2000)]
    # 9 * 16 < 160 inserts; 11 * 16 >= 169 rebuilds
    assert [b["build"] for b in layers.stream_branches(groups)] == [1, 0, 0]
    assert [b["insert"] for b in layers.stream_branches(groups)] == [0, 1, 0]
    assert [b["merge"] for b in layers.stream_branches(groups)] == [0, 0, 1]
