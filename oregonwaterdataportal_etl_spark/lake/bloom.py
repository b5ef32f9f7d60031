"""Per-file key bloom filters: point-lookup FILE skipping.

Bucket pruning already cuts a lookup to 1/num_buckets of the table;
within a bucket, though, every base/delta/tombstone file must still be
scanned. At CDC steady state a bucket accumulates many delta files and
a key usually lives in few of them — per-file blooms over the primary
key let `LakeTable.lookup` drop files that provably cannot contain the
key (Iceberg puffin-blob / parquet-bloom analog, kept table-side so
the skip happens at FILE granularity before any Spark scan starts).

Hashing stays ENTIRELY JVM-side: the two 64-bit limbs feeding the
double-hashing scheme are `xxhash64(key_cols)` and
`xxhash64(lit(1), key_cols)`, computed by Spark on both the build path
and the probe path (the constant-folded probe `lookup` evaluates for
its bucket id). Probe j of k sets bit

    pos_j = pmod(pmod(h1, n) + j * pmod(h2 | 1, n), n)

of an n-bit filter. Every term stays below 2^41 for n < 2^32 and
k <= 255, so the arithmetic never overflows — Spark's ANSI mode would
raise on an overflowing long expression. The build is one JVM
aggregate with no pandas or Python-worker stage: a column-pruned scan
of the files lacking a sidecar, `explode(sequence(0, k-1))` for the
probe indices, and `bit_or(1L << (pos & 63))` grouped by
(file, pos >> 6) for the 64-bit bitmap words; the driver lays the words
out little-endian (`_positions` is the same formula for the probe).
False negatives are impossible — both sides evaluate the identical
expressions — and any hash-collision class only inflates the
false-positive rate, which costs one extra file read.

Sidecars are content-deterministic functions of immutable data files,
so they need no commit protocol: a valid sidecar == usable, a missing
or unreadable one == conservative full read. The format is versioned
twice — the `LBF2` magic and the `.lbf2.bloom` name — so a sidecar in
an older position layout (`LBF1`) is never consulted: it reads as
missing, `build_blooms` rebuilds it, and `vacuum` sweeps the stale name.
Built by `LakeTable.build_blooms`, swept by `vacuum` when the data file
is gone.

Scale: 10 bits/key + 7 probes ≈ 0.8% false-positive rate; a 1M-row
128 MB parquet file costs a 1.25 MB sidecar (~1% overhead) and a
lookup consults only the target bucket's sidecars.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np

_MAGIC = b"LBF2"
_SUFFIX = ".lbf2.bloom"
BLOOM_SEED = 1  # second-limb xxhash64 seed literal


def bloom_hash_cols(key_cols: list[str]):
    """The two JVM-side limb expressions. ORDER of key_cols must match
    between build and probe (both use the snapshot's key_cols list)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in key_cols]
    return (
        F.xxhash64(*cols).alias("__bh1"),
        F.xxhash64(F.lit(BLOOM_SEED), *cols).alias("__bh2"),
    )


def n_bits_for(rows: int, bits_per_key: int) -> int:
    """A file's filter size, from its footer row count."""
    return max(64, rows * int(bits_per_key))


def bloom_words(hashed, k: int):
    """The build aggregate. ``hashed`` has one row per key:
    ``__file``, ``__n`` (the file's bit count, a long) and the limbs
    ``__bh1``/``__bh2``. Returns one row per set 64-bit word:
    ``(__file, __word, __bits)`` — `_positions`' formula, JVM-side."""
    from pyspark.sql import functions as F

    n = F.col("__n")
    probes = hashed.select(
        "__file", "__n", "__bh1", "__bh2",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long")))
        .alias("__j"),
    )
    pos = F.pmod(
        F.pmod(F.col("__bh1"), n)
        + F.col("__j") * F.pmod(F.col("__bh2").bitwiseOR(F.lit(1)), n),
        n,
    )
    return (
        probes.select("__file", pos.alias("__pos"))
        .groupBy(F.col("__file"), F.shiftright("__pos", 6).alias("__word"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(__pos & 63 AS INT)))").alias("__bits"))
    )


def _positions(h1: int, h2: int, k: int, n_bits: int) -> np.ndarray:
    """The k bit positions of one key: `bloom_words`' formula (see the
    module docstring). Python ints never wrap, and Python's floored %
    equals Spark's pmod for a positive modulus."""
    n = max(n_bits, 1)
    a, b = h1 % n, (h2 | 1) % n
    return np.array([(a + j * b) % n for j in range(k)], dtype=np.int64)


class FileBloom:
    """Classic bloom; limbs come in as int64 xxhash64 values."""

    def __init__(self, bits: np.ndarray, n_bits: int, k: int):
        self.bits = bits  # packed uint8, little bit order within bytes
        self.n_bits = n_bits
        self.k = k

    @classmethod
    def from_words(cls, words: list[int], values: list[int], n_bits: int,
                   k: int) -> "FileBloom":
        """Assemble the JVM-built 64-bit words (index, signed bits) into
        the little-endian bitmap: bit p lands in byte p // 8 at bit
        p % 8, exactly where word p >> 6's bit p & 63 sits."""
        out = np.zeros((n_bits + 63) // 64, dtype="<i8")
        out[np.asarray(words, dtype=np.int64)] = np.asarray(values, dtype=np.int64)
        bits = np.frombuffer(out.tobytes()[: (n_bits + 7) // 8], dtype=np.uint8)
        return cls(bits, n_bits, k)

    def might_contain(self, h1: int, h2: int) -> bool:
        pos = _positions(int(h1), int(h2), self.k, self.n_bits)
        byte = self.bits[pos // 8]
        mask = np.left_shift(np.uint8(1), (pos % 8).astype(np.uint8))
        return bool(np.all(byte & mask))

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<IB", self.n_bits, self.k) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "FileBloom":
        if raw[:4] != _MAGIC:
            raise ValueError("not a bloom sidecar of this format")
        n_bits, k = struct.unpack_from("<IB", raw, 4)
        bits = np.frombuffer(raw[9:], dtype=np.uint8)
        if bits.size != (n_bits + 7) // 8:
            raise ValueError("truncated bloom sidecar")
        return cls(bits, n_bits, k)


def sidecar_name(data_file: str) -> str:
    """Stable sidecar filename for a data file path. Hash of the
    table-relative tail so the mapping survives table relocation."""
    return hashlib.sha1(file_tail(data_file).encode()).hexdigest() + _SUFFIX


def file_tail(data_file: str) -> str:
    """The last three path segments — the part of a data file's path
    that is the same whether it is spelled as a path or as the URI
    Spark's `input_file_name` reports."""
    return "/".join(data_file.rstrip("/").split("/")[-3:])


def write_sidecar(bloom_dir: str, data_file: str, blob: bytes) -> None:
    """Atomic, idempotent publish (content is deterministic per file,
    so concurrent builders racing on the same sidecar are harmless)."""
    os.makedirs(bloom_dir, exist_ok=True)
    dst = os.path.join(bloom_dir, sidecar_name(data_file))
    tmp = dst + f".tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(blob)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, dst)


def has_sidecar(bloom_dir: str, data_file: str) -> bool:
    """True when a sidecar of THIS format exists (header check only)."""
    try:
        with open(os.path.join(bloom_dir, sidecar_name(data_file)), "rb") as f:
            return f.read(4) == _MAGIC
    except FileNotFoundError:
        return False


def load_sidecar(bloom_dir: str, data_file: str) -> FileBloom | None:
    p = os.path.join(bloom_dir, sidecar_name(data_file))
    try:
        with open(p, "rb") as f:
            return FileBloom.from_bytes(f.read())
    except (FileNotFoundError, ValueError):
        return None  # missing/corrupt/older-format sidecar -> conservative read
