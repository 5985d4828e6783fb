"""Fixed-width unsigned-integer vectors backed by numpy uint64 words.

The reference's single storage abstraction is ``Vector`` (vector.go:14-25)
with a bit-packed (packed.go) and a word-aligned (unpacked.go) variant.
Here both variants expose *batch* gather/scatter on index arrays — the
kernel's bulk build and probe paths never touch elements one at a time —
plus scalar get/set for the slow-path incremental insert.

Serialization is little-endian (`dtype='<u8'`) so bytes are portable
across hosts; ``numpy.ndarray.tobytes``/``frombuffer`` give the zero-copy
path the reference hand-rolls with unsafe slices (util.go:24-67).
"""

from __future__ import annotations

import struct

import numpy as np

U64 = np.uint64
_WORD_BITS = 64


def _check_writable(words: np.ndarray) -> None:
    """numpy 1.x ``ufunc.at`` ignores the WRITEABLE flag and faults on a
    read-only memmap (``disk.open_readonly``), so its callers raise
    numpy's own error for a read-only target first."""
    if not words.flags.writeable:
        raise ValueError("assignment destination is read-only")


def _words_required(bits: int, count: int) -> int:
    # +1 word of slack, mirroring the reference's allocation
    # (packed.go:52-55) so two-word reads at the last index never run out.
    return (count * bits) // _WORD_BITS + 1


class PackedVector:
    """Values of width ``bits`` packed contiguously across uint64 words;
    a value may straddle a word boundary (reference: packed.go:30-131)."""

    bit_packed = True

    def __init__(self, bits: int, size: int, words: np.ndarray | None = None):
        if not (0 < bits <= 64):
            raise ValueError(f"bits must be in (0, 64], got {bits}")
        self.bits = bits
        self.size = size
        if words is None:
            words = np.zeros(_words_required(bits, size), dtype=U64)
        self.words = np.ascontiguousarray(words, dtype=U64)
        self.mask = U64(0xFFFFFFFFFFFFFFFF) if bits == 64 else U64((1 << bits) - 1)

    # -- batch ------------------------------------------------------------
    def gather(self, ix: np.ndarray) -> np.ndarray:
        """Vectorized read of ``bits``-wide values at the given indices."""
        ix = ix.astype(np.int64, copy=False)
        bitstart = ix * self.bits
        word = bitstart >> 6
        off = (bitstart & 63).astype(U64)
        with np.errstate(over="ignore"):
            val = self.words[word] >> off
            spill = np.flatnonzero((off.astype(np.int64) + self.bits) > 64)
            if spill.size:
                # off > 0 on spill rows, so 64-off is a valid shift
                val[spill] |= self.words[word[spill] + 1] << (
                    U64(64) - off[spill]
                )
            val &= self.mask
        return val

    def scatter_or(self, ix: np.ndarray, vals: np.ndarray) -> None:
        """Vectorized OR-write at (distinct or not) indices; target bits are
        assumed zero (fresh build path). Overflowing values raise."""
        vals = vals.astype(U64, copy=False)
        if bool(np.any(vals > self.mask)):
            raise OverflowError(
                f"value wider than {self.bits} bits in packed scatter"
            )
        _check_writable(self.words)
        ix = ix.astype(np.int64, copy=False)
        bitstart = ix * self.bits
        word = bitstart >> 6
        off = (bitstart & 63).astype(U64)
        with np.errstate(over="ignore"):
            np.bitwise_or.at(self.words, word, vals << off)
            spill = np.flatnonzero((off.astype(np.int64) + self.bits) > 64)
            if spill.size:
                np.bitwise_or.at(
                    self.words,
                    word[spill] + 1,
                    vals[spill] >> (U64(64) - off[spill]),
                )

    def scatter_or_unique(self, ix: np.ndarray, vals: np.ndarray) -> None:
        """Packed variant of the distinct-index OR-write: adjacent fields
        can share a word even when field indices are distinct, so the
        fancy ``|=`` shortcut is unsafe here — delegate to the
        ``ufunc.at`` path (which also validates widths)."""
        self.scatter_or(ix, vals)

    def scatter(self, ix: np.ndarray, vals: np.ndarray) -> None:
        """Vectorized ASSIGNMENT at **distinct** indices (clear the
        field, then OR the value in) — the batched ``set``. Distinctness
        is required for the clear/or pair to be race-free under
        ``ufunc.at``'s sequential application; adjacent fields sharing a
        word are fine (each clear touches only its own field's bits)."""
        vals = vals.astype(U64, copy=False)
        if bool(np.any(vals > self.mask)):
            raise OverflowError(
                f"value wider than {self.bits} bits in packed scatter"
            )
        _check_writable(self.words)
        ix = ix.astype(np.int64, copy=False)
        bitstart = ix * self.bits
        word = bitstart >> 6
        off = (bitstart & 63).astype(U64)
        with np.errstate(over="ignore"):
            np.bitwise_and.at(self.words, word, ~(self.mask << off))
            np.bitwise_or.at(self.words, word, vals << off)
            spill = np.flatnonzero((off.astype(np.int64) + self.bits) > 64)
            if spill.size:
                hi_shift = U64(64) - off[spill]
                np.bitwise_and.at(self.words, word[spill] + 1,
                                  ~(self.mask >> hi_shift))
                np.bitwise_or.at(self.words, word[spill] + 1,
                                 vals[spill] >> hi_shift)

    # -- scalar (slow path for incremental insert) ------------------------
    def get(self, ix: int) -> int:
        bitstart = ix * self.bits
        word, off = bitstart >> 6, bitstart & 63
        val = int(self.words[word]) >> off
        if off + self.bits > 64:
            val |= int(self.words[word + 1]) << (64 - off)
        return val & int(self.mask)

    def set(self, ix: int, val: int) -> None:
        val = int(val)
        if val > int(self.mask):
            raise OverflowError(
                f"attempt to store {val:#x} in {self.bits}-bit packed slot"
            )
        bitstart = ix * self.bits
        word, off = bitstart >> 6, bitstart & 63
        lo_bits = min(64 - off, self.bits)
        lo_mask = ((1 << lo_bits) - 1) << off
        w = int(self.words[word])
        w = (w & ~lo_mask) | ((val << off) & lo_mask)
        self.words[word] = U64(w & 0xFFFFFFFFFFFFFFFF)
        if lo_bits < self.bits:
            hi_bits = self.bits - lo_bits
            hi_mask = (1 << hi_bits) - 1
            w1 = int(self.words[word + 1])
            w1 = (w1 & ~hi_mask) | (val >> lo_bits)
            self.words[word + 1] = U64(w1 & 0xFFFFFFFFFFFFFFFF)

    def swap(self, ix: int, val: int) -> int:
        old = self.get(ix)
        self.set(ix, val)
        return old

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        header = struct.pack("<IQ", self.bits, self.size)
        words = np.ascontiguousarray(self.words, dtype="<u8")
        return header + struct.pack("<Q", len(words)) + words.tobytes()

    @classmethod
    def from_bytes(cls, payload: bytes, offset: int = 0) -> tuple["PackedVector", int]:
        bits, size = struct.unpack_from("<IQ", payload, offset)
        offset += 12
        (nwords,) = struct.unpack_from("<Q", payload, offset)
        offset += 8
        words = np.frombuffer(payload, dtype="<u8", count=nwords, offset=offset).copy()
        offset += nwords * 8
        return cls(bits, size, words), offset


class UnpackedVector:
    """Word-aligned variant: one uint64 per slot (reference: unpacked.go).
    Time-optimal, space-wasteful; values must fit in ``bits`` <= 64."""

    bit_packed = False

    def __init__(self, bits: int, size: int, words: np.ndarray | None = None):
        if not (0 < bits <= 64):
            raise ValueError(f"bits must be in (0, 64], got {bits}")
        self.bits = bits
        self.size = size
        if words is None:
            words = np.zeros(size, dtype=U64)
        self.words = np.ascontiguousarray(words, dtype=U64)
        self.mask = U64(0xFFFFFFFFFFFFFFFF) if bits == 64 else U64((1 << bits) - 1)

    def gather(self, ix: np.ndarray) -> np.ndarray:
        return self.words[ix]

    def scatter_or(self, ix: np.ndarray, vals: np.ndarray) -> None:
        vals = vals.astype(U64, copy=False)
        if bool(np.any(vals > self.mask)):
            raise OverflowError(
                f"value wider than {self.bits} bits in unpacked scatter"
            )
        _check_writable(self.words)
        np.bitwise_or.at(self.words, ix.astype(np.int64, copy=False), vals)

    def scatter_or_unique(self, ix: np.ndarray, vals: np.ndarray) -> None:
        """OR-write at **distinct** indices via fancy in-place ``|=`` —
        ~2x faster than ``ufunc.at`` (the bulk-build hot path). With
        duplicate indices fancy assignment keeps only one update, so the
        caller must guarantee distinctness; values must already fit the
        field width (no overflow pass — internal callers construct them
        in-range)."""
        self.words[ix] |= vals.astype(U64, copy=False)

    def scatter(self, ix: np.ndarray, vals: np.ndarray) -> None:
        """Vectorized assignment at **distinct** indices."""
        vals = vals.astype(U64, copy=False)
        if bool(np.any(vals > self.mask)):
            raise OverflowError(
                f"value wider than {self.bits} bits in unpacked scatter"
            )
        self.words[ix.astype(np.int64, copy=False)] = vals

    def get(self, ix: int) -> int:
        return int(self.words[ix])

    def set(self, ix: int, val: int) -> None:
        if int(val) > int(self.mask):
            raise OverflowError(
                f"attempt to store {int(val):#x} in {self.bits}-bit slot"
            )
        self.words[ix] = U64(val)

    def swap(self, ix: int, val: int) -> int:
        old = self.get(ix)
        self.set(ix, val)
        return old

    def to_bytes(self) -> bytes:
        header = struct.pack("<IQ", self.bits, self.size)
        words = np.ascontiguousarray(self.words, dtype="<u8")
        return header + struct.pack("<Q", len(words)) + words.tobytes()

    @classmethod
    def from_bytes(cls, payload: bytes, offset: int = 0) -> tuple["UnpackedVector", int]:
        bits, size = struct.unpack_from("<IQ", payload, offset)
        offset += 12
        (nwords,) = struct.unpack_from("<Q", payload, offset)
        offset += 8
        words = np.frombuffer(payload, dtype="<u8", count=nwords, offset=offset).copy()
        offset += nwords * 8
        return cls(bits, size, words), offset


def make_vector(bits: int, size: int, bit_packed: bool):
    return PackedVector(bits, size) if bit_packed else UnpackedVector(bits, size)
