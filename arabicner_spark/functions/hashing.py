"""Portable, deterministic hashing primitives.

Every hash here is built from ``md5`` over UTF-8 bytes so the exact
same value is computable in Spark SQL (``md5(encode(col,'utf-8'))``),
DuckDB (``md5(col)``) and Python (``hashlib.md5``) — which is what lets
MinHash-LSH blocking, SimHash, and fingerprint sketches have *exact*
SQL oracles instead of weaker rows-only checks.  MinHash is an affine
family over a 32-bit md5 base: the first 8 hex nibbles of the md5 as a
BIGINT (``minhash_base``), then the min over
(A[s] * base + B[s]) mod ``MINHASH_P`` for the constants of
``minhash_affine_consts`` — integer arithmetic every engine above does
identically.  Only the text_fingerprint query still takes the
lexicographic min of seeded md5 hex digests (``seeded_md5``).

xxhash64/crc32 are deliberately avoided in anything oracle-checked
(engine-specific); they may appear only in internal salting.
"""

from __future__ import annotations

import hashlib
from typing import List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arabicner_spark.sources.io import pin_width


def md5_utf8(col: Column) -> Column:
    """md5 hex of the UTF-8 bytes — equals DuckDB's md5(varchar)."""
    return F.md5(F.encode(col, "UTF-8"))


def seeded_md5(col: Column, seed: int) -> Column:
    """Independent-ish hash family member: md5(seed || '|' || value)."""
    return md5_utf8(F.concat(F.lit(f"{seed}|"), col))


def word_shingles(
    df: DataFrame,
    id_cols: List[str],
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Word n-gram shingles per id, as the raw shingle stream
    (duplicates per id possible).  Its consumers' aggregate is
    DUPLICATE-INSENSITIVE — minhash is a MIN over hashes, so the min
    over the multiset equals the min over the set — so the explode
    feeds the min's map-side partial aggregation in the same stage and
    the shuffle carries one row of longs per id instead of the full
    shingle stream (r7, guide section 2.3 "aggregate before you
    shuffle").  A consumer that COUNTS shingles uses
    shingle_hash_table.

    Pure array expressions (split -> transform over an index sequence ->
    explode): shingling is per-row work, so it must not shuffle.  The
    DOC rows (one per document) are first pinned to ``pin_width`` by id,
    which makes the per-shingle work data-parallel.
    """
    df = df.repartition(pin_width(df.sparkSession), *[F.col(c) for c in id_cols])
    arr = F.split(F.col(text_col), " ")
    idx = F.when(
        F.size(arr) >= n, F.sequence(F.lit(0), F.size(arr) - n)
    ).otherwise(F.array().cast("array<int>"))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(arr, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return df.select(*id_cols, F.explode(shingle).alias("shingle"))


def shingle_hash_table(
    docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document DISTINCT word n-gram shingles as md5 identities:
    (id, h32, hi, lo) — h32 = the minhash base (first 8 md5 hex chars
    as a long, byte-identical to minhash_base), (hi, lo) = the full
    128-bit md5 as two signed longs.

    The Arrow twin of word_shingles + minhash_base for EXACT-set
    consumers (guide section 4.2): shingle construction, per-document
    dedup (a Python set — per-doc distinct equals the global
    (id, shingle) distinct, so no exchange is needed for it), and the
    md5 run per batch in the Python worker; downstream set algebra
    (intersection counts, set sizes) joins on two fixed-width longs
    instead of variable-length shingle strings.  Identifying shingles
    by their full md5 is the repo's standing convention (exact dedup
    groups documents by md5(text) the same way); distinct shingles
    with colliding md5s are the one divergence mode, as everywhere
    else md5 identity is used.  The doc rows are pinned to
    ``pin_width`` by id first.
    """
    import hashlib

    docs = docs.repartition(pin_width(docs.sparkSession), F.col(id_col))
    narrow = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))

    def hash_shingles(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_id, out_h32, out_hi, out_lo = [], [], [], []
            for i, txt in zip(ids, texts):
                toks = (txt or "").split(" ")
                if len(toks) < n:
                    continue
                seen = set()
                for p in range(len(toks) - n + 1):
                    seen.add(" ".join(toks[p : p + n]))
                for s in seen:
                    d = hashlib.md5(s.encode("utf-8")).digest()
                    out_id.append(i)
                    out_h32.append(int.from_bytes(d[:4], "big"))
                    out_hi.append(int.from_bytes(d[:8], "big", signed=True))
                    out_lo.append(int.from_bytes(d[8:16], "big", signed=True))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, type=pa.string()),
                    pa.array(out_h32, type=pa.int64()),
                    pa.array(out_hi, type=pa.int64()),
                    pa.array(out_lo, type=pa.int64()),
                ],
                ["id", "h32", "hi", "lo"],
            )

    return narrow.mapInArrow(
        hash_shingles, "id string, h32 long, hi long, lo long"
    )


def char_grams(text: Column, n: int = 3) -> Column:
    """Distinct char n-grams of ``text`` as an array (for short surface
    forms).  A text shorter than n is its own single gram, so every row
    gets at least one."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: text.substr(i, F.lit(n))))


# MinHash rehash family: ONE strong base hash per shingle (md5, kept
# for cross-engine portability and distribution quality) + n cheap
# affine rehashes h_s = (A[s]*h + B[s]) mod MINHASH_P — the classic
# universal-family construction.  r4 change, measured motivation: the
# old form computed n_hashes FULL md5s per shingle; md5 is the single
# most expensive expression in the dedup chain and dense hash compute
# is exactly what saturates shared execution ports first (sandbox
# scaling probes: md5-bound stages cap at ~0.63 efficiency 4->16 cores
# while Python/numpy stages reach ~0.9).  One md5 + n integer mul-mods
# is ~n x less hash work at ANY scale, and every value stays in
# branch-free int64 codegen.  Bounds: base h < 2^32 (8 md5 nibbles),
# A[s] < 2^30, B[s] < 2^32, so A*h + B < 2^63 — exact in BIGINT in
# both Spark and DuckDB; MINHASH_P is the smallest prime > 2^32.
# 32-bit base caveat: distinct-shingle collisions run ~n_shingles/2^32
# (1% at 43M shingles) — noise for Jaccard estimation; widen the slice
# + switch the mul-mod to DECIMAL(38)/HUGEINT if a corpus ever needs
# a 60-bit base.
MINHASH_P = 4_294_967_311


def minhash_affine_consts(n_hashes: int) -> list:
    """Deterministic (A[s], B[s]) pairs, identical for the SQL mirror."""
    return [
        (
            (((2 * s + 1) * 0x9E3779B9) % (1 << 30)) | 1,
            (s * 0xC2B2AE35 + 0x165667B1) % (1 << 32),
        )
        for s in range(n_hashes)
    ]


def minhash_base(col: Column) -> Column:
    """First 8 md5 nibbles of the shingle as a BIGINT in [0, 2^32)."""
    return F.conv(F.substring(md5_utf8(col), 1, 8), 16, 10).cast("bigint")


def minhash_signatures(
    shingles: DataFrame,
    id_cols: List[str],
    n_hashes: int = 16,
    base_col: str | None = None,
) -> DataFrame:
    """id -> [h0..h{n-1}] BIGINT minhash columns, ONE aggregation pass.

    min over (A[s]*md5_32(shingle)+B[s]) mod P per s — a single
    hash-aggregate with map-side partial mins, so the shuffle carries
    one row per id (and 8-byte longs, not 32-char hex strings).
    """
    consts = minhash_affine_consts(n_hashes)
    # ``base_col``: a caller that already carries the 32-bit md5 base
    # as a long column (e.g. shingle_hash_table) skips the in-plan
    # md5+conv entirely
    base = F.col(base_col) if base_col else minhash_base(F.col("shingle"))
    aggs = [
        F.min((base * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{s}")
        for s, (a, b) in enumerate(consts)
    ]
    return shingles.groupBy(*id_cols).agg(*aggs)


def _affine(a: int, b: int):
    return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)


def minhash_columns(df: DataFrame, grams_col: str, n_hashes: int = 16) -> DataFrame:
    """``df`` plus h0..h{n-1} BIGINT minhash columns over the array
    column ``grams_col``: the per-row twin of minhash_signatures (same
    md5 base, same affine family) for rows that already carry their
    distinct grams, so it needs no explode and no aggregation.  The md5
    base array is its own projection, computed once per row rather than
    once per hash."""
    based = df.withColumn("_mh_base", F.transform(grams_col, minhash_base))
    mins = [
        F.array_min(F.transform("_mh_base", _affine(a, b))).alias(f"h{s}")
        for s, (a, b) in enumerate(minhash_affine_consts(n_hashes))
    ]
    return based.select(*df.columns, *mins)


def lsh_bands(
    signatures: DataFrame,
    id_cols: List[str],
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banded signatures: (id, band, sig) — join key for candidate pairs."""
    band_cols = []
    for b in range(bands):
        hs = [
            F.col(f"h{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.concat_ws("#", *hs).alias("sig")))
    return signatures.select(
        *id_cols, F.explode(F.array(*band_cols)).alias("bs")
    ).select(*id_cols, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _checkpointed(df: DataFrame) -> DataFrame:
    """``df`` materialized once: a frame that already is an eager
    checkpoint (a caller keeping its band table as state) is returned
    as it is instead of being copied by a second checkpoint job."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return df
    return df.localCheckpoint(eager=True)


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Self-join on (band, sig): distinct (a, b) with a < b.

    The shuffle key (band, sig) is high-cardinality; genuinely hot
    buckets (many near-identical texts) are exactly the pairs we want,
    and AQE skew-join splitting handles pathological buckets.  The band
    table is checkpointed first, unless it already is a checkpoint:
    both join sides reference the same upstream (shingle -> minhash)
    pipeline, and without materialization Spark executes it twice
    (exchange reuse dies as soon as AQE broadcasts one side).
    """
    keys = ["band", "sig"]
    bands_df = _checkpointed(bands_df)
    a = bands_df.select(F.col(id_col).alias("a"), *keys)
    b = bands_df.select(F.col(id_col).alias("b"), *keys)
    return a.join(b, keys).where(F.col("a") < F.col("b")).select("a", "b").distinct()


# Driver twins of char_grams, minhash_columns, lsh_bands and
# lsh_candidate_pairs: the same grams, hash family, bands and pairs
# over texts held in a driver list, vectorized with numpy.


def ragged_slots(counts: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """(owner, rank) of every slot when owner k holds ``counts[k]``
    consecutive slots."""
    owner = np.repeat(np.arange(len(counts)), counts)
    rank = np.arange(len(owner)) - np.repeat(np.cumsum(counts) - counts, counts)
    return owner, rank


def local_char_grams(texts: Sequence[str], n: int = 3) -> Tuple[np.ndarray, np.ndarray, List[str]]:
    """(codes, sizes, grams): text k's distinct char n-grams by code
    point, as ``char_grams`` cuts them (a text shorter than n is its own
    gram), are ``sizes[k]`` consecutive entries of ``codes``, each an
    index into ``grams``."""
    vocab: dict = {}
    sizes = np.empty(len(texts), dtype=np.int64)
    codes: List[int] = []
    for k, t in enumerate(texts):
        own = {t[i : i + n] for i in range(max(len(t) - (n - 1), 1))}
        sizes[k] = len(own)
        codes.extend(vocab.setdefault(g, len(vocab)) for g in own)
    # dicts keep insertion order, which is code order
    return np.asarray(codes, dtype=np.int64), sizes, list(vocab)


def local_minhash(codes: np.ndarray, sizes: np.ndarray, grams: Sequence[str], n_hashes: int = 16) -> np.ndarray:
    """(texts, n_hashes) minhashes of ``local_char_grams`` output, as
    ``minhash_columns`` computes them; one md5 per distinct gram."""
    base = np.fromiter(
        (int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) for g in grams),
        dtype=np.int64,
        count=len(grams),
    )[codes]
    starts = np.cumsum(sizes) - sizes
    # base < 2^32, A < 2^30, B < 2^32: A*h + B stays below 2^63
    return np.stack(
        [np.minimum.reduceat((base * a + b) % MINHASH_P, starts) for a, b in minhash_affine_consts(n_hashes)],
        axis=1,
    )


def local_lsh_buckets(sig: np.ndarray, bands: int = 8, rows_per_band: int = 2) -> np.ndarray:
    """(texts, bands) bucket ids of minhash rows ``sig``: two texts share
    band b's bucket iff they share its ``lsh_bands`` sig."""
    return np.stack(
        [
            np.unique(sig[:, b * rows_per_band : (b + 1) * rows_per_band], axis=0, return_inverse=True)[1].ravel()
            for b in range(bands)
        ],
        axis=1,
    )


def local_bucket_pairs(buckets: np.ndarray) -> int:
    """Pairs ``local_candidate_pairs`` builds from ``buckets`` before it
    drops the ones found in more than one band: its memory bound."""
    return sum(int((c * (c - 1) // 2).sum()) for c in (np.bincount(b) for b in buckets.T))


def local_candidate_pairs(buckets: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """(a, b): the distinct text index pairs, a < b, sharing a bucket of
    ``local_lsh_buckets`` in some band, sorted."""
    n = len(buckets)
    keys = []
    for bucket in buckets.T:
        order = np.argsort(bucket, kind="stable")
        sorted_bucket = bucket[order]
        # each member pairs with the later members of its bucket
        later = np.searchsorted(sorted_bucket, sorted_bucket, side="right") - np.arange(n) - 1
        left, rank = ragged_slots(later)
        x, y = order[left], order[left + rank + 1]
        keys.append(np.minimum(x, y) * n + np.maximum(x, y))
    pairs = np.unique(np.concatenate(keys))
    return pairs // max(n, 1), pairs % max(n, 1)


def rademacher_matrix(n_hyperplanes: int, dim: int):
    """Deterministic +/-1 hyperplane matrix (dim x H) derived from
    md5(f"{j}|{i}") — the same formula is computable in DuckDB SQL
    (instr-based first-nibble parity), so Spark and the oracle see
    byte-identical hyperplanes with no literal matrix shipped around."""
    import numpy as np

    W = np.empty((dim, n_hyperplanes), dtype=np.int64)
    for j in range(n_hyperplanes):
        for i in range(dim):
            h = hashlib.md5(f"{j}|{i}".encode()).hexdigest()
            W[i, j] = 1 if int(h[0], 16) % 2 == 0 else -1
    return W


def sign_lsh_bands(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits_per_band: int = 5,
    n_bands: int = 48,
) -> DataFrame:
    """(id, band, sig) sign-LSH band table for a double-array column.

    Random-hyperplane LSH for cosine similarity, banded OR-composition:
    sig = the band's bits_per_band sign bits of v . W.  Projections are
    computed in exact int64 fixed point (floor(v * 1e6) per component,
    +/-1 weights) so the sign is bit-identical in any engine / any
    summation order — no FP sign-flip at the bucket boundary.

    The heavy part (the matmul) runs as one vectorized pandas_udf per
    Arrow batch; output fans out n_bands rows per vector via posexplode.
    Candidate generation downstream joins on (band, sig) — a bounded,
    spillable shuffle join, never a cross join.

    Parameter coupling (Goemans-Williamson: P[bit agree] = 1 - theta/pi):
    recall ~ 1 - (1 - p^bits)^bands.  The defaults (5, 48) are tuned for
    the testdata's low threshold (cos 0.45, p~0.65): measured recall is
    1.0 at every sf while pruning ~25% of pairs.  At production near-dup
    thresholds (cos >= 0.9, p~0.86) the same defaults give recall
    1 - 3e-9 with ~50x candidate pruning; longer bands (8-12 bits) prune
    further.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    H = bits_per_band * n_bands
    cache: dict = {}

    @pandas_udf("array<string>")
    def band_sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        W = cache.get(X.shape[1])
        if W is None:
            W = cache[X.shape[1]] = rademacher_matrix(H, X.shape[1])
        Xi = np.floor(X * 1e6).astype(np.int64)
        S = (Xi @ W) >= 0
        bits = np.where(S, "1", "0")
        return pd.Series(
            [
                [
                    "".join(row[b * bits_per_band : (b + 1) * bits_per_band])
                    for b in range(n_bands)
                ]
                for row in bits
            ]
        )

    return df.select(
        id_col, F.posexplode(band_sigs(F.col(vec_col))).alias("band", "sig")
    )


# The verify kernel reads the vectors from a broadcast matrix while the
# optimizer's size estimate of the vector table is at most this.  Past
# it, every band row carries its own vector through the bucket shuffle,
# one copy per band.  Up to 9 MB of estimate, the largest run on 4
# cores, the broadcast side is both faster and lighter (it won every
# alternating pair at 0.8, 2.7 and 9 MB, at a lower peak RSS).  64 MB
# is a memory cap, not a measured crossover: the float64 matrix is
# 1.3-1.8x the estimate, so the driver collects, and every Python
# worker holds, at most ~80-115 MB.
COSINE_BROADCAST_MAX_BYTES = 64 << 20
# rows per blocked matmul in the verify kernel's screen
VERIFY_BLOCK_ROWS = 512


def _list_matrix(lists) -> np.ndarray:
    """An Arrow list<double> array of equal-length vectors as an
    (n, dim) float64 matrix."""
    import pyarrow.compute as pc

    n = len(lists)
    if not n:
        return np.zeros((0, 1))
    dims = np.unique(pc.list_value_length(lists).to_numpy(zero_copy_only=False))
    if len(dims) != 1:
        raise ValueError(f"cosine verifier needs uniform dims, got {dims}")
    flat = lists.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(n, int(dims[0]))


def _vector_matrix(vectors: DataFrame):
    """Collect (vec_id, v) into (sorted ids, float64 matrix) — the
    broadcast build side of the Arrow cosine verifier."""
    tbl = vectors.select("vec_id", "v").toArrow()
    ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
    V = _list_matrix(tbl.column("v").combine_chunks())
    order = np.argsort(ids, kind="stable")
    return ids[order], np.ascontiguousarray(V[order])


def cosine_bucket_verify(
    bands_packed: DataFrame,
    vectors: DataFrame,
    threshold: float = 0.45,
    round_to: int = 4,
) -> DataFrame:
    """Per-bucket candidate generation + exact cosine verification in
    one vectorized Arrow pass -> (a, b, cos) with a < b,
    round(cos, round_to) >= threshold, deduped across buckets.
    ``bands_packed`` is (vec_id, bkey) and ``vectors`` is (vec_id, v).

    Replaces "self-join on the bucket key -> O(candidates) pair rows
    -> verify" with the guide section 4.2 / section 8 shape: only the
    BAND table (n_vectors x n_bands rows) crosses the Python boundary,
    partitioned by bucket; inside each partition numpy enumerates each
    bucket's pairs and verifies them, so the O(candidates)
    intermediate never exists as rows anywhere.

    Where the vectors come from depends on the optimizer's size
    estimate of ``vectors`` (no Spark job): up to
    ``COSINE_BROADCAST_MAX_BYTES`` they are collected once into a
    broadcast matrix the kernel looks band rows up in; past it each
    band row is joined with its vector before the bucket shuffle, so
    every partition carries its own buckets' vectors.  Both sides run
    the same kernel from there on, so their rows are identical.

    Two-phase exactness (the gate-safe fast path):
      1. SCREEN: per bucket, a blocked matmul G = M_blk @ M^T gives
         every pair dot to within 64*eps relative cosine error
         (classical fp error bound: |err| <= dim * eps * ||a|| ||b||,
         and the cosine divides by exactly ||a|| ||b||).  Pairs are
         kept when G >= (threshold - 10^-round_to - 1e-9) * na * nb —
         a strict superset of everything that can round up to the
         threshold; non-finite entries are kept too.
      2. EXACT: survivors (a ~1e-4 fraction at near-dup thresholds)
         are recomputed with the sequential per-dim fold
         acc = acc + A[:,i]*B[:,i] — each step one IEEE multiply then
         one IEEE add, bit-identical to the aggregate/zip_with fold —
         and the exact division dot/(na*nb), the norms folded the same
         way.  The JVM then applies the exact round-half-up +
         threshold, so the kept rows and their cos values are
         bit-identical to the all-JVM formulation.

    Bucket members are processed in ascending id order, so emitted
    pairs satisfy a < b; a pair colliding in several buckets is
    emitted once per bucket and deduped by the final (tiny) distinct.
    """
    spark = bands_packed.sparkSession
    narrow = bands_packed.select(F.col("vec_id").cast("long").alias("vid"), "bkey")
    est = int(vectors._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est <= COSINE_BROADCAST_MAX_BYTES:
        bc = spark.sparkContext.broadcast(_vector_matrix(vectors))
    else:
        bc = None
        narrow = narrow.join(
            vectors.select(F.col("vec_id").cast("long").alias("vid"), "v"), "vid"
        )
    lowbound = threshold - 10.0 ** (-round_to)
    screen_margin = 1e-9

    def gen_verify(batches):
        import pyarrow as pa

        empty = pa.RecordBatch.from_arrays(
            [
                pa.array([], type=pa.int64()),
                pa.array([], type=pa.int64()),
                pa.array([], type=pa.float64()),
            ],
            ["a", "b", "raw"],
        )
        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            yield empty
            return
        part = pa.Table.from_batches(chunks)
        vec = part.column("vid").to_numpy(zero_copy_only=False).astype(np.int64)
        key = part.column("bkey").to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.lexsort((vec, key))
        vec, key = vec[order], key[order]
        if bc is None:
            rows_v = _list_matrix(part.column("v").combine_chunks())[order]
        else:
            b_ids, b_V = bc.value
            idx = np.searchsorted(b_ids, np.minimum(vec, b_ids[-1]))
            if (b_ids[idx] != vec).any():
                raise ValueError("band row id missing from vector table")
            rows_v = b_V[idx]
        nacc = rows_v[:, 0] * rows_v[:, 0]
        for i in range(1, rows_v.shape[1]):
            nacc = nacc + rows_v[:, i] * rows_v[:, i]
        rows_n = np.sqrt(nacc)
        bounds = np.flatnonzero(np.r_[True, key[1:] != key[:-1], True])
        out_a, out_b, out_raw = [], [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            d = e - s
            if d < 2:
                continue
            M = rows_v[s:e]
            nb_ = rows_n[s:e]
            mids = vec[s:e]
            for b0 in range(0, d, VERIFY_BLOCK_ROWS):
                b1 = min(b0 + VERIFY_BLOCK_ROWS, d)
                G = M[b0:b1] @ M.T
                thr = (lowbound - screen_margin) * np.outer(nb_[b0:b1], nb_)
                with np.errstate(invalid="ignore"):
                    keep = (G >= thr) | ~np.isfinite(G)
                # strict upper triangle only: local row i (global b0+i)
                # pairs with global cols j > b0+i
                cols = np.arange(d)
                keep &= cols[None, :] > (b0 + np.arange(b1 - b0))[:, None]
                ii, jj = np.nonzero(keep)
                if ii.size == 0:
                    continue
                gi = b0 + ii
                A = M[gi]
                B = M[jj]
                acc = A[:, 0] * B[:, 0]
                for t in range(1, M.shape[1]):
                    acc = acc + A[:, t] * B[:, t]
                with np.errstate(invalid="ignore", divide="ignore"):
                    raw = acc / (nb_[gi] * nb_[jj])
                    final = raw >= lowbound
                if final.any():
                    out_a.append(mids[gi[final]])
                    out_b.append(mids[jj[final]])
                    out_raw.append(raw[final])
        if not out_a:
            yield empty
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(out_a)),
                pa.array(np.concatenate(out_b)),
                pa.array(np.concatenate(out_raw)),
            ],
            ["a", "b", "raw"],
        )

    # every bucket must land whole in ONE partition — hash-partition on
    # the bucket key, ``pin_width`` wide
    narrow = narrow.repartition(pin_width(spark), F.col("bkey"))
    survivors = narrow.mapInArrow(gen_verify, "a long, b long, raw double")
    return (
        survivors.select("a", "b", F.round(F.col("raw"), round_to).alias("cos"))
        .where(F.col("cos") >= threshold)
        .distinct()
    )


def simhash32(df: DataFrame, id_cols: List[str], token_col: str) -> DataFrame:
    """32-bit SimHash per id from exploded tokens.

    Bit j of md5(token) votes +1/-1; the sign of the per-bit sum forms
    the fingerprint.  Bits come from hex nibbles (instr over
    '0123456789abcdef'), which is portable to DuckDB verbatim.
    One groupBy — map-side combinable sums.
    """
    h = md5_utf8(F.col(token_col))
    bit_sums = []
    for j in range(32):
        nibble = F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int")
        # (nibble >> (j%4)) & 1, written as floor-div/mod so the SQL
        # oracle (instr-based nibble, same arithmetic) matches exactly
        bit = F.pmod(F.floor(nibble / F.lit(2 ** (j % 4))), F.lit(2))
        bit_sums.append(F.sum(bit * 2 - 1).cast("bigint").alias(f"b{j}"))
    sums = df.groupBy(*id_cols).agg(*bit_sums)
    acc = F.lit(0).cast("bigint")
    for j in range(32):
        acc = acc + F.when(F.col(f"b{j}") > 0, F.lit(2 ** j).cast("bigint")).otherwise(0)
    return sums.select(*id_cols, acc.alias("simhash"))
