"""Vectorized (numpy-over-Arrow) MinHash banding kernel.

``_minhash_band_rows`` historically computed the banded signature with
interpreted higher-order-function expressions::

    transform(sequence(0, k_total-1),
              i -> array_min(transform(_h, h -> xxhash64(h, i))))

which evaluates k_total * n_shingles interpreted lambda calls per doc
(HOFs never enter whole-stage codegen), and was the dominant CPU of
q_dedup_near after round 13.  This module replaces that projection with
one ``mapInArrow`` pass whose numpy kernel reimplements Spark's
``xxhash64`` **bit-exactly** (guide §4.2: hand whole Arrow batches to
vectorized native code), so the emitted ``(_id, _band, _bv)`` rows are
byte-identical to the expression path and the DuckDB oracle hash is
unchanged.  Bit-exactness is pinned by ``tests/test_minhash_kernel.py``
which compares every helper against Spark's own ``xxhash64`` on random
inputs, and by the unchanged oracle outputs of every banded-minhash
query.

Spark hash semantics being reproduced (XXH64 as specialized in
``org.apache.spark.sql.catalyst.expressions.XXH64``):

* ``xxhash64(col...)`` folds left with seed 42: ``h = hash(c1, 42);
  h = hash(c2, h); ...`` — null inputs are SKIPPED (do not update h).
* LongType input  -> ``hashLong``  (8-byte XXH64 finalization),
* IntegerType input -> ``hashInt`` (4-byte XXH64 finalization) —
  the band/seed indices come from ``sequence(...)`` which is
  IntegerType, so they hash via ``hashInt``, NOT ``hashLong``.
* ``array_min`` over BIGINT compares SIGNED int64.
* ``xxhash64(array<long>, int)`` folds the array elements (skipping
  nulls) then the int.

Memory: the per-batch hash matrix is (n_shingles x k_total) uint64;
batches are processed in row chunks capped at ``_CHUNK_CELLS`` cells so
one task never holds more than ~64 MB of intermediate (guide §4.2
batch-size caveat).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

if TYPE_CHECKING:  # pragma: no cover - typing only
    import pyarrow as pa
    from pyspark.sql import DataFrame

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # Spark's xxhash64 default seed

_CHUNK_CELLS = 8_000_000  # uint64 cells per intermediate matrix (64 MB)


def _rotl(np, x, r: int):
    r_ = np.uint64(r)
    inv = np.uint64(64 - r)
    return (x << r_) | (x >> inv)


def _fmix(np, h):
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_P3)
    h = h ^ (h >> np.uint64(32))
    return h


def xxh64_long(np, x, seed):
    """Spark ``XXH64.hashLong(input, seed)`` — vectorized, uint64 in/out."""
    h = seed + np.uint64(_P5 + 8)
    h = h ^ (_rotl(np, x * np.uint64(_P2), 31) * np.uint64(_P1))
    h = _rotl(np, h, 27) * np.uint64(_P1) + np.uint64(_P4)
    return _fmix(np, h)


def xxh64_int(np, x, seed):
    """Spark ``XXH64.hashInt(input, seed)`` — 4-byte finalization.

    ``x`` must already be the zero-extended 32-bit value
    (``input & 0xFFFFFFFF``) as uint64.
    """
    h = seed + np.uint64(_P5 + 4)
    h = h ^ (x * np.uint64(_P1))
    h = _rotl(np, h, 23) * np.uint64(_P2) + np.uint64(_P3)
    return _fmix(np, h)


def _band_values(np, sig_u64, num_bands: int, band_width: int):
    """(_band j) value for each doc: fold the band's signature slice
    with hashLong then the band index with hashInt — exactly
    ``xxhash64(slice(_sigs, j*r+1, r), j)``.  sig_u64: (n, k) uint64.
    Returns (n, num_bands) uint64."""
    n = sig_u64.shape[0]
    out = np.empty((n, num_bands), dtype=np.uint64)
    for j in range(num_bands):
        h = np.full(n, np.uint64(_SEED), dtype=np.uint64)
        for t in range(band_width):
            h = xxh64_long(np, sig_u64[:, j * band_width + t], h)
        out[:, j] = xxh64_int(np, np.uint64(j), h)
    return out


def _empty_band_values(np, num_bands: int):
    """Band values for a doc whose shingle-hash array is NULL or empty:
    every signature slot is NULL (``array_min`` of nothing), xxhash64
    skips nulls, so the fold reduces to ``hashInt(j, 42)``."""
    return np.array(
        [
            int(xxh64_int(np, np.uint64(j), np.uint64(_SEED)))
            for j in range(num_bands)
        ],
        dtype=np.uint64,
    )


def _signatures(np, vals_u64, starts, num_bands: int, band_width: int):
    """MinHash signatures for contiguous shingle segments.

    vals_u64: flat uint64 shingle hashes; starts: int64 segment starts
    (each segment non-empty, consecutive, covering vals).  Returns
    (n_docs, k_total) int64 signatures (signed min, like array_min)."""
    k_total = num_bands * band_width
    # xxhash64(h, i) with h:long, i:int == hashInt(i, hashLong(h, 42)).
    # hashLong(h, 42) is seed-independent of i -> compute once ("inner"),
    # then the per-seed part is 5 vector ops on (n_shingles x k).
    inner = xxh64_long(np, vals_u64, np.uint64(_SEED))
    base = inner + np.uint64(_P5 + 4)
    seeds = np.arange(k_total, dtype=np.uint64)
    xi = seeds * np.uint64(_P1)
    v = base[:, None] ^ xi[None, :]
    v = _rotl(np, v, 23) * np.uint64(_P2) + np.uint64(_P3)
    v = _fmix(np, v)
    return np.minimum.reduceat(v.view(np.int64), starts, axis=0)


def _kernel_batch(np, pa, batch, num_bands: int, band_width: int):
    """One Arrow RecordBatch (_id, _h) -> RecordBatch (_id, _band, _bv)."""
    n = batch.num_rows
    ids = batch.column("_id")
    lst = batch.column("_h")
    off = np.asarray(lst.offsets, dtype=np.int64)
    counts = off[1:] - off[:-1]
    if lst.null_count:
        counts = np.where(np.asarray(lst.is_valid()), counts, 0)
    vals_all = lst.values
    if vals_all.null_count:  # pragma: no cover - shingle hashes never null
        raise ValueError("null shingle hash in _h")
    vals_np = vals_all.to_numpy(zero_copy_only=False).view(np.uint64)

    nz = counts > 0
    n_nz = int(nz.sum())
    bv = np.empty((n, num_bands), dtype=np.uint64)
    if n_nz:
        starts_nz = off[:-1][nz]
        cnt_nz = counts[nz]
        total = int(cnt_nz.sum())
        # ragged gather of the valid docs' segments into one flat array
        seg_starts = np.concatenate(([0], np.cumsum(cnt_nz)[:-1]))
        flat = (
            np.repeat(starts_nz - seg_starts, cnt_nz)
            + np.arange(total, dtype=np.int64)
        )
        vals = vals_np[flat]
        k_total = num_bands * band_width
        # chunk docs so the (shingles x k_total) matrix stays bounded
        max_rows_per_chunk = max(1, _CHUNK_CELLS // k_total)
        sig = np.empty((n_nz, k_total), dtype=np.int64)
        d0 = 0
        while d0 < n_nz:
            d1 = d0
            cells = 0
            while d1 < n_nz and (cells + cnt_nz[d1]) <= max_rows_per_chunk:
                cells += cnt_nz[d1]
                d1 += 1
            d1 = max(d1, d0 + 1)  # always advance (oversized single doc)
            lo = seg_starts[d0]
            hi = seg_starts[d1] if d1 < n_nz else total
            sig[d0:d1] = _signatures(
                np,
                vals[lo:hi],
                (seg_starts[d0:d1] - lo).astype(np.int64),
                num_bands,
                band_width,
            )
            d0 = d1
        bv[nz] = _band_values(np, sig.view(np.uint64), num_bands, band_width)
    if n_nz < n:
        bv[~nz] = _empty_band_values(np, num_bands)

    row_idx = np.repeat(np.arange(n, dtype=np.int64), num_bands)
    bands = np.tile(np.arange(num_bands, dtype=np.int32), n)
    return pa.RecordBatch.from_arrays(
        [
            ids.take(pa.array(row_idx)),
            pa.array(bands, type=pa.int32()),
            pa.array(bv.reshape(-1).view(np.int64), type=pa.int64()),
        ],
        names=["_id", "_band", "_bv"],
    )


def make_band_kernel(num_bands: int, band_width: int):
    """mapInArrow function: (_id, _h: array<long>) -> (_id, _band, _bv)."""

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa

        with np.errstate(over="ignore"):
            for batch in batches:
                if batch.num_rows:
                    yield _kernel_batch(np, pa, batch, num_bands, band_width)

    return kernel


def band_rows_arrow(
    hashed: "DataFrame", num_bands: int, band_width: int
) -> "DataFrame":
    """(_id, _h) -> (_id, _band, _bv) via the vectorized kernel.

    Output values are bit-identical to the expression form (posexplode
    of ``transform(sequence(0, b-1), j -> xxhash64(slice(_sigs, j*r+1,
    r), j))`` over the HOF signatures); only the execution strategy
    changes.  ``_id`` passes through untouched, so any id type works.
    """
    from pyspark.sql import types as Tt

    id_field = hashed.schema["_id"]
    out_schema = Tt.StructType(
        [
            Tt.StructField("_id", id_field.dataType, id_field.nullable),
            Tt.StructField("_band", Tt.IntegerType(), False),
            Tt.StructField("_bv", Tt.LongType(), True),
        ]
    )
    return hashed.mapInArrow(make_band_kernel(num_bands, band_width), out_schema)
