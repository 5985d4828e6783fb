"""The checkers must catch what they exist to catch."""

import numpy as np
import pyarrow as pa

from perfbench import checks

REF = np.array([3, 0, 1, 0, 7, 2], dtype=np.int64)


def answers():
    pid = np.array([5, 4, 3, 2, 1, 0])
    seen = REF[pid] > 0
    count = REF[pid].copy()
    return pid, seen, count


def test_correct_answers_pass():
    pc = checks.check_probes(REF, *answers())
    assert pc.failed == 0
    assert (pc.checked, pc.members, pc.absent) == (6, 4, 2)
    assert pc.fp_rate == 0.0


def test_injected_false_negative_is_caught():
    pid, seen, count = answers()
    seen[pid == 4] = False
    count[pid == 4] = 0
    pc = checks.check_probes(REF, pid, seen, count)
    assert pc.false_negatives == 1 and pc.failed == 1


def test_injected_wrong_count_is_caught():
    pid, seen, count = answers()
    count[pid == 0] += 1
    pc = checks.check_probes(REF, pid, seen, count)
    assert pc.wrong_counts == 1 and pc.failed == 1


def test_false_positive_is_counted_not_failed():
    pid, seen, count = answers()
    seen[pid == 1] = True
    count[pid == 1] = 5
    pc = checks.check_probes(REF, pid, seen, count)
    assert pc.false_positives == 1 and pc.failed == 0
    assert pc.fp_rate == 0.5


def test_lost_and_repeated_rows_are_caught():
    pid, seen, count = answers()
    pc = checks.check_probes(REF, pid[1:], seen[1:], count[1:])
    assert pc.lost_rows == 1 and pc.failed == 1
    pid2 = np.append(pid, 0)
    pc = checks.check_probes(REF, pid2, np.append(seen, True),
                             np.append(count, 3))
    assert pc.lost_rows == 1


def test_reference_counts_from_strings():
    build = pa.table({"url": ["a", "b", "a", "c", "a"]})
    probe = pa.table({"pid": [2, 0, 1, 3], "url": ["c", "a", "zz", "b"]})
    assert checks.reference_counts(build, probe).tolist() == [3, 0, 1, 1]


def test_stream_check_accepts_first_occurrence_dedup():
    batches = [["a", "b"], ["b", "c", "a"], ["d", "c"]]
    emitted = {0: ["a", "b"], 1: ["c"], 2: ["d"]}
    sc = checks.check_stream(batches, emitted, r_bits=40)
    assert (sc.checked, sc.failed, sc.suppressed) == (4, 0, 0)


def test_stream_check_catches_repeat_and_late_emission():
    batches = [["a", "b"], ["b", "c"]]
    sc = checks.check_stream(batches, {0: ["a", "b"], 1: ["b", "c"]},
                             r_bits=40)
    assert sc.duplicates == 1 and sc.failed == 1
    sc = checks.check_stream(batches, {0: ["a"], 1: ["b", "c"]}, r_bits=40)
    assert sc.wrong_batch == 1 and sc.failed == 1


def test_stream_check_fails_a_suppressed_new_key():
    sc = checks.check_stream([["a", "b"]], {0: ["a"]}, r_bits=40)
    assert sc.suppressed == 1 and sc.failed == 1


def test_stream_check_fails_a_stream_that_emits_nothing():
    batches = [["a", "b"], ["c", "a"]]
    sc = checks.check_stream(batches, {}, r_bits=40)
    assert sc.suppressed == 3 and sc.failed == 3
    sc = checks.check_stream(batches, {0: [], 1: []}, r_bits=40)
    assert sc.failed == 3


def test_stream_check_allows_suppression_within_the_fp_bound():
    # with r = 1 up to half of the new keys may be false positives
    batches = [["a", "b", "c", "d"]]
    assert checks.check_stream(batches, {0: ["a", "b"]}, r_bits=1).failed == 0
    assert checks.check_stream(batches, {0: ["a"]}, r_bits=1).failed == 3


def test_probe_sums_catch_a_wrong_call():
    good = (4, int(REF.sum()))
    assert checks.check_probe_sums(REF, [good, good]) == 0
    assert checks.check_probe_sums(REF, [good, (3, 12), (4, 14)]) == 2
