"""Output checks. Each returns counts of checked and failed operations, so a
wrong answer is a failed operation rather than a crash."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def reference_counts(build, probe) -> np.ndarray:
    """True count of each probe key in the build table, indexed by pid (0
    for keys never inserted): an exact Arrow group-by over the key strings,
    independent of the library and of its hash."""
    import pyarrow.compute as pc

    ref = build.group_by("url").aggregate([("url", "count")])
    joined = probe.join(ref, "url", join_type="left outer")
    out = np.zeros(probe.num_rows, dtype=np.int64)
    out[joined.column("pid").to_numpy()] = pc.fill_null(
        joined.column("url_count"), 0).to_numpy()
    return out


@dataclass
class ProbeCheck:
    """Outcome of checking one probe path's answers against a reference."""

    checked: int = 0
    members: int = 0
    absent: int = 0
    false_negatives: int = 0
    wrong_counts: int = 0
    false_positives: int = 0
    #: probe rows missing from the output, or answered more than once
    lost_rows: int = 0

    @property
    def failed(self) -> int:
        return self.false_negatives + self.wrong_counts + self.lost_rows

    @property
    def fp_rate(self) -> float:
        return self.false_positives / self.absent if self.absent else 0.0


def check_probes(ref: np.ndarray, pid: np.ndarray, seen: np.ndarray,
                 count: np.ndarray) -> ProbeCheck:
    """Check probe answers ``(pid, seen, count)`` against ``ref``, the true
    count of each probe key in the build input indexed by pid (0 for keys
    never inserted). A member must be seen with exactly its true count;
    an absent key reported seen is a false positive (bounded, not a
    failure)."""
    ref = np.asarray(ref, dtype=np.int64)
    pid = np.asarray(pid, dtype=np.int64)
    seen = np.asarray(seen, dtype=bool)
    count = np.asarray(count, dtype=np.int64)
    n = len(ref)
    hits = np.bincount(pid, minlength=n)[:n] if len(pid) else np.zeros(n, int)
    lost = int(np.count_nonzero(hits != 1)) + int(np.count_nonzero(pid >= n))
    keep = (pid < n) & (hits[np.minimum(pid, n - 1)] == 1)
    pid, seen, count = pid[keep], seen[keep], count[keep]
    truth = ref[pid]
    member = truth > 0
    return ProbeCheck(
        checked=n,
        members=int(np.count_nonzero(ref > 0)),
        absent=int(np.count_nonzero(ref == 0)),
        false_negatives=int(np.count_nonzero(member & ~seen)),
        wrong_counts=int(np.count_nonzero(member & seen & (count != truth))),
        false_positives=int(np.count_nonzero(~member & seen)),
        lost_rows=lost,
    )


def check_probe_sums(ref: np.ndarray, sums) -> int:
    """Number of timed probe calls whose (sum of seen, sum of counts) differs
    from the reference's (members, total member count). A false positive
    would also count here; at r >= 40 bits none is expected."""
    want = (int(np.count_nonzero(ref > 0)), int(ref.sum()))
    return sum(1 for s in sums if tuple(int(x) for x in s) != want)


@dataclass
class StreamCheck:
    checked: int = 0
    duplicates: int = 0
    wrong_batch: int = 0
    #: new keys never emitted although no earlier batch had them
    suppressed: int = 0
    #: remainder bits of the state filters: at most a 2^-r share of the new
    #: keys may be suppressed as false positives
    r_bits: int = 64

    @property
    def failed(self) -> int:
        over = self.suppressed > 2.0 ** -self.r_bits * self.checked
        return self.duplicates + self.wrong_batch + (self.suppressed
                                                     if over else 0)


def check_stream(batches, emitted, r_bits: int) -> StreamCheck:
    """Check a first-occurrence dedup stream. ``batches`` is the input key
    list of each micro-batch in order; ``emitted`` maps batch id to the keys
    the query emitted in that batch. Each key must be emitted at most once,
    and only in the first batch that contains it. A key never emitted is a
    suppressed new key, a false positive of a state filter with ``r_bits``
    remainder bits: more than a 2^-r share of them fails, each one counting
    as a failed operation."""
    first: dict = {}
    for b, keys in enumerate(batches):
        for k in keys:
            first.setdefault(k, b)
    out = StreamCheck(checked=len(first), r_bits=r_bits)
    seen_keys: set = set()
    for b in sorted(emitted):
        for k in emitted[b]:
            if k in seen_keys:
                out.duplicates += 1
                continue
            seen_keys.add(k)
            if first.get(k) != b:
                out.wrong_batch += 1
    out.suppressed = len(first.keys() - seen_keys)
    return out
