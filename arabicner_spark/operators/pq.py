"""Product quantization (PQ) for ANN at 100-TB scale — the
memory-compressed index family (IVF-PQ): split each d-dim vector into
``m`` subspaces, train a tiny k-means codebook PER subspace, and store
each vector as ``m`` small codes instead of d floats (64 dims x 4B ->
m bytes at k <= 256: a 64x compression, which is what lets a
1000-executor cluster hold a trillion-vector index in RAM).  Search
uses asymmetric distance computation (ADC): the query stays exact, one
(q, sub, code) -> partial-distance table is built against the
codebooks, and a candidate's approximate distance is the SUM of m
table lookups — no float math per candidate, just a broadcast join +
partial agg.

All arithmetic is the repo's fixed-point int64 convention
(operators/kmeans.py: floor(v * 1e6), exact L2², truncated integral
centroid means), so training, encoding, and ADC ranking are pure
functions of the input and the unrolled SQL oracle matches by value
hash.  Codebook training reuses the same assign/update algebra as
kmeans_fp with the subspace id added to every key — all m codebooks
train in ONE dataflow (no per-subspace loop over the data).

Scale shape:
  - sub-vector explode: one projection of the long-format (id, dim,
    val) table — no shuffle beyond the base explode;
  - train: per round one broadcast join against m*k*sdims centroid
    rows + two map-side-combinable aggs (same as kmeans_fp);
  - encode: the final assign — codes are (id, sub, code), m rows per
    vector (or one packed array row);
  - ADC: distance table is queries x m x k rows (tiny, broadcast);
    candidate scoring is one broadcast equi-join on (sub, code) + one
    (q, id) partial-agg sum + one per-q top-k — never a cartesian
    against raw vectors.

No counterpart in /root/reference (no retrieval stage there);
semantics follow the public IVF-PQ formulation (Jégou et al., "Product
Quantization for Nearest Neighbor Search").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arabicner_spark.operators.kmeans import explode_fp


def subspace_ev(
    ev: DataFrame, sdims: int, id_col: str = "vec_id"
) -> DataFrame:
    """(id, sub, sdim, val) from the long-format (id, dim, val) table:
    subspace id = (dim-1) div sdims + 1, local dim = (dim-1) mod sdims
    + 1.  Pure projection."""
    return ev.select(
        id_col,
        ((F.col("dim") - 1) / sdims).cast("int").alias("sub"),
        ((F.col("dim") - 1) % sdims + 1).alias("sdim"),
        "val",
    ).withColumn("sub", F.col("sub") + 1)


def _pq_assign(sv: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(id, sub, code, dist): nearest codebook entry per subspace by
    exact int64 L2², ties to the smallest code."""
    d = (
        sv.join(F.broadcast(cents), ["sub", "sdim"])
        .groupBy(id_col, "sub", "cl")
        .agg(
            F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval")))
            .cast("long")
            .alias("dist")
        )
    )
    m = d.groupBy(id_col, "sub").agg(F.min(F.struct("dist", "cl")).alias("m"))
    return m.select(
        id_col,
        "sub",
        F.col("m.cl").alias("code"),
        F.col("m.dist").alias("dist"),
    )


def train_codebooks(
    sv: DataFrame, k: int, updates: int = 1, id_col: str = "vec_id"
) -> DataFrame:
    """Codebook table (sub, cl, sdim, cval): seeded per subspace with
    the sub-vectors of ids < k (the IVF_CELLS convention), refined by
    ``updates`` Lloyd update steps — all subspaces in one dataflow.
    ``sv`` should be checkpointed by the caller (it is scanned
    2*updates+1 times across train+encode)."""
    cents = sv.where(F.col(id_col) < k).select(
        "sub", F.col(id_col).cast("int").alias("cl"), "sdim",
        F.col("val").alias("cval"),
    )
    for _ in range(updates):
        a = _pq_assign(sv, cents, id_col)
        cents = (
            sv.join(
                a.select(id_col, "sub", F.col("code").alias("cl")),
                [id_col, "sub"],
            )
            .groupBy("sub", "cl", "sdim")
            .agg(F.sum("val").cast("long").alias("s"), F.count("*").alias("n"))
            .select(
                "sub",
                "cl",
                "sdim",
                (
                    F.signum("s").cast("long")
                    * F.expr("abs(s) div n").cast("long")
                ).alias("cval"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def pq_encode(
    sv: DataFrame, cents: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """The compressed index: (id, sub, code) — m rows per vector."""
    return _pq_assign(sv, cents, id_col).select(id_col, "sub", "code")


def adc_topk(
    sv: DataFrame,
    cents: DataFrame,
    codes: DataFrame,
    query_ids,
    topk: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search: (q, neighbor, adc_dist, rank) for each query id —
    approximate L2² = sum over subspaces of the exact query-to-centroid
    partial distance for the neighbor's code.  The distance table is
    queries x m x k rows (broadcast); candidates are scored by one
    equi-join on (sub, code) + a (q, neighbor) partial-agg sum; the
    per-q top-k is a WindowGroupLimit, never a global sort."""
    qv = sv.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("q"), "sub", "sdim", F.col("val").alias("qval")
    )
    dtab = (
        qv.join(F.broadcast(cents), ["sub", "sdim"])
        .groupBy("q", "sub", "cl")
        .agg(
            F.sum((F.col("qval") - F.col("cval")) * (F.col("qval") - F.col("cval")))
            .cast("long")
            .alias("pdist")
        )
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor")
        .join(
            F.broadcast(dtab.withColumnRenamed("cl", "code")),
            ["sub", "code"],
        )
        .groupBy("q", "neighbor")
        .agg(F.sum("pdist").cast("long").alias("adc_dist"))
        .where(F.col("q") != F.col("neighbor"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q").orderBy(F.col("adc_dist").asc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q", "neighbor", "adc_dist", F.col("rank").cast("int").alias("rank"))
    )


def pq_index_and_search_joins(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    updates: int = 1,
    query_ids=range(10),
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """The original join-dataflow composition (explode -> subspace
    split -> train -> encode -> ADC) — kept as the reference twin for
    the Arrow fast path's parity test."""
    ev = explode_fp(vectors, id_col, vec_col)
    dims = vectors.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into m={m} subspaces")
    sv = subspace_ev(ev, dims // m, id_col).localCheckpoint(eager=True)
    cents = train_codebooks(sv, k, updates, id_col)
    codes = pq_encode(sv, cents, id_col)
    return adc_topk(sv, cents, codes, query_ids, topk, id_col)


def _fixed(np, X):
    """floor(v * 1e6) as int64 — explode_fp's fixed-point, bit-exact
    (same double multiply + floor)."""
    return np.floor(X * 1e6).astype(np.int64)


def _assign_np(np, Xi, cents_per_sub):
    """(B, m, sdims) fixed subvectors + per-sub (sorted cls, (n_cl,
    sdims) centroid matrix) -> (B, m) code positions.  Exact int64 L2²
    with np.argmin's first-tie == the join path's min struct(dist, cl)
    (cls sorted ascending)."""
    B, m, _ = Xi.shape
    pos = np.empty((B, m), dtype=np.int64)
    for s in range(m):
        _cls, C = cents_per_sub[s]
        diff = Xi[:, s, :, None] - C.T[None, :, :]     # (B, sdims, n_cl)
        dist = (diff * diff).sum(axis=1)               # exact int64
        pos[:, s] = np.argmin(dist, axis=1)
    return pos


def pq_index_and_search(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    updates: int = 1,
    query_ids=range(10),
    topk: int = 3,
) -> DataFrame:
    """End-to-end PQ over ``vectors`` (vec_id, v): codebook training
    (seed = ids < k, ``updates`` Lloyd steps) -> encode -> ADC top-k
    for the query ids.

    r7 restructure (guide sections 1.2/4.2): the join dataflow
    exploded every vector into m*sdims rows and pushed ~k x that
    through two hash aggregations PER ASSIGN (three assigns for one
    update + encode + search).  The same exact int64 fixed-point
    algebra now runs as two Arrow passes over the VECTOR table:

      pass 1 (per Lloyd update): per-batch assignment against the
        current codebook in numpy + per-batch partial sums
        (sub, cl, sdim, sum, n) — 512-row batches into one tiny JVM
        agg; the integral-mean centroid update happens driver-side on
        exact Python ints (the codebook is m*k*sdims values — the
        same dimension-class as the existing dims/seed collects).
      pass 2: encode + ADC in one pass — the ADC distance table is
        computed driver-side from the final codebook and broadcast;
        each batch emits (q, neighbor, adc_dist) rows and the JVM
        keeps the per-q top-k (WindowGroupLimit).

    Every quantity is int64 (sums order-independent, argmin ties to
    the smallest code), so the result is bit-identical to the join
    dataflow — pinned by tests/test_pq.py's parity test.
    """
    import numpy as np

    spark = vectors.sparkSession
    qset = list(query_ids)

    def _collect_matrix(df):
        tbl = df.select("vec_id", "v").toArrow()
        ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        arrs = tbl.column("v").to_pylist()
        return ids, np.asarray(arrs, dtype=np.float64)

    seed_ids, seedV = _collect_matrix(
        vectors.where(F.col("vec_id") < k).orderBy("vec_id")
    )
    if seedV.size == 0:
        raise ValueError("pq needs seed vectors with id < k")
    dims = seedV.shape[1]
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into m={m} subspaces")
    sdims = dims // m
    seedXi = _fixed(np, seedV).reshape(len(seed_ids), m, sdims)
    # codebook representation: per sub, (sorted cl array, (n_cl, sdims))
    cents = [
        (seed_ids.copy(), seedXi[:, s, :].copy()) for s in range(m)
    ]

    for _ in range(updates):
        bc = spark.sparkContext.broadcast(cents)

        def partial_sums(batches):
            import pyarrow as pa

            cb = bc.value
            acc_s = [np.zeros((len(cb[s][0]), sdims), dtype=np.int64) for s in range(m)]
            acc_n = [np.zeros(len(cb[s][0]), dtype=np.int64) for s in range(m)]
            for batch in batches:
                vals = np.asarray(batch.column(1).to_pylist(), dtype=np.float64)
                if vals.size == 0:
                    continue
                Xi = _fixed(np, vals).reshape(len(vals), m, sdims)
                pos = _assign_np(np, Xi, cb)
                for s in range(m):
                    np.add.at(acc_s[s], pos[:, s], Xi[:, s, :])
                    np.add.at(acc_n[s], pos[:, s], 1)
            sub_o, cl_o, sd_o, s_o, n_o = [], [], [], [], []
            for s in range(m):
                cls = cb[s][0]
                for ci, cl in enumerate(cls):
                    for d in range(sdims):
                        sub_o.append(s + 1)
                        cl_o.append(int(cl))
                        sd_o.append(d + 1)
                        s_o.append(int(acc_s[s][ci, d]))
                        n_o.append(int(acc_n[s][ci]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sub_o, type=pa.int32()),
                    pa.array(cl_o, type=pa.int32()),
                    pa.array(sd_o, type=pa.int32()),
                    pa.array(s_o, type=pa.int64()),
                    pa.array(n_o, type=pa.int64()),
                ],
                ["sub", "cl", "sdim", "s", "n"],
            )

        agg = (
            vectors.select("vec_id", "v")
            .mapInArrow(partial_sums, "sub int, cl int, sdim int, s long, n long")
            .groupBy("sub", "cl", "sdim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .where(F.col("n") > 0)
            .collect()
        )
        per_sub: dict = {}
        for r in agg:
            per_sub.setdefault(r["sub"] - 1, {}).setdefault(r["cl"], {})[
                r["sdim"] - 1
            ] = r["s"]
        new_cents = []
        for s in range(m):
            cls = sorted(per_sub.get(s, {}))
            C = np.zeros((len(cls), sdims), dtype=np.int64)
            n_of = {r["cl"]: r["n"] for r in agg if r["sub"] - 1 == s}
            for ci, cl in enumerate(cls):
                n_ = n_of[cl]
                for d in range(sdims):
                    sv = per_sub[s][cl][d]
                    # sign(s) * (abs(s) div n) on exact ints
                    C[ci, d] = (1 if sv >= 0 else -1) * (abs(sv) // n_)
            new_cents.append((np.asarray(cls, dtype=np.int64), C))
        cents = new_cents

    # driver-side ADC distance table from the final codebook
    q_ids, qV = _collect_matrix(
        vectors.where(F.col("vec_id").isin(qset)).orderBy("vec_id")
    )
    qXi = (
        _fixed(np, qV).reshape(len(q_ids), m, sdims)
        if qV.size
        else np.zeros((0, m, sdims), dtype=np.int64)
    )
    dtab = []  # per sub: (n_q, n_cl) int64
    for s in range(m):
        _cls, C = cents[s]
        diff = qXi[:, s, :, None] - C.T[None, :, :]
        dtab.append((diff * diff).sum(axis=1))
    bc2 = spark.sparkContext.broadcast((cents, q_ids, dtab))

    def encode_score(batches):
        import pyarrow as pa

        cb, qids, dt = bc2.value
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vals = np.asarray(batch.column(1).to_pylist(), dtype=np.float64)
            if len(ids) == 0 or len(qids) == 0:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([], type=pa.int64()),
                        pa.array([], type=pa.int64()),
                        pa.array([], type=pa.int64()),
                    ],
                    ["q", "neighbor", "adc_dist"],
                )
                continue
            Xi = _fixed(np, vals).reshape(len(ids), m, sdims)
            pos = _assign_np(np, Xi, cb)
            adc = dt[0][:, pos[:, 0]]
            for s in range(1, m):
                adc = adc + dt[s][:, pos[:, s]]     # (n_q, B) exact int64
            nq, B = adc.shape
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, B)),
                    pa.array(np.tile(ids.astype(np.int64), nq)),
                    pa.array(adc.reshape(-1)),
                ],
                ["q", "neighbor", "adc_dist"],
            )

    scored = vectors.select("vec_id", "v").mapInArrow(
        encode_score, "q long, neighbor long, adc_dist long"
    ).where(F.col("q") != F.col("neighbor"))
    from pyspark.sql import Window

    w = Window.partitionBy("q").orderBy(F.col("adc_dist").asc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q", "neighbor", "adc_dist", F.col("rank").cast("int").alias("rank"))
    )
