"""Similarity search over an embedding column (``array<float>``):
brute-force cosine top-k as the exact baseline, and a random-
hyperplane LSH-bucketed variant as the scale path.

Scale posture (100 TB): brute-force top-k against ONE query is a
single scan + local top-k per partition + tiny final merge (Spark's
sort-limit is already partial top-k — no full sort, no full shuffle).
For batch queries, the LSH variant buckets both sides on hyperplane
sign bits so each query only scans its own buckets; the
embedding-cosine near-dup join uses the same buckets symmetrically.
All vector math is `zip_with`/`aggregate` (JVM); no UDFs.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level so stringified UDF type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .persists import tracked_persist

from ..functions.vectors import as_double_vec, cosine_sim, dot, l2_norm
from ..partitioning import ensure_parallelism

def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec]).cast("array<double>")


def _cosine_to_query(query_vec: list[float], vec_col: str) -> Column:
    """Cosine similarity of ``vec_col`` to one constant query vector,
    shared by every to-a-query scorer (global, filtered, per-group) so
    the zero-vector guards and rounding semantics — which the SQL
    oracles replicate — live in exactly one place.

    The (constant) query norm is precomputed driver-side: Catalyst
    does not constant-fold ``aggregate()`` over array literals, so
    leaving it symbolic re-evaluates the query-norm reduction per row.
    """
    q = _vec_lit(query_vec)
    q_norm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    v = as_double_vec(F.col(vec_col))
    if q_norm == 0.0:
        return F.lit(0.0)
    return F.when(l2_norm(v) == 0, F.lit(0.0)).otherwise(
        dot(v, q) / (l2_norm(v) * F.lit(q_norm))
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to one query vector.

    Returns ``(vec_id, sim, rank)``; similarity is rounded (default 4
    digits) and ranking breaks ties by id so results are deterministic
    across engines and partitionings.
    """
    sim = _cosine_to_query(query_vec, vec_col)
    sims = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.round(sim, round_digits).alias("sim"),
    )
    from pyspark.sql.window import Window

    # orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    # partial top-k + tiny driver merge, with no full sort and no reliance
    # on the InferWindowGroupLimit rescue a global row_number window needs.
    # The rank window then runs over at most k rows (a single tiny
    # partition by construction), so its "global" sort is O(k).
    top = sims.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))

def hyperplane_signature(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """LSH signature: one sign bit per random hyperplane, packed into
    a bigint (Horner).  sign(h . v) is locality-sensitive for cosine:
    P[bit differs] = angle/pi (Charikar 2002).

    Expression-native (no Python worker) variant — useful where a
    Python runtime is unavailable; the engine's hot paths use
    ``hyperplane_signatures_arrow`` (one numpy matmul per Arrow batch
    instead of planes*tables interpreted reductions per row)."""
    sig = F.lit(0).cast("long")
    for h in hyperplanes:
        d = F.aggregate(
            F.zip_with(vec, _vec_lit(h), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig * 2 + F.when(d >= 0, 1).otherwise(0)
    return sig


def hyperplane_signatures_arrow(table_planes: list[list[list[float]]]):
    """Arrow-vectorized form of hyperplane_signature for ALL tables at
    once: one Pandas UDF computing the whole batch's sign bits as a
    single numpy matmul (batch x dim) @ (dim x planes*tables), then
    packing bits per table.  ~planes*tables interpreted dot-reductions
    per row collapse into one BLAS call per Arrow batch — the
    "vectorized Pandas UDF beats expression-at-a-time" path for wide
    numeric kernels.  Returns a UDF: array<float> -> array<bigint>."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_tables = len(table_planes)
    n_planes = len(table_planes[0])
    # (dim, tables*planes), column-major by table then plane.
    mat = np.asarray(
        [plane for planes in table_planes for plane in planes], dtype=np.float64
    ).T
    weights = (2 ** np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<bigint>")
    def sigs(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (v @ mat >= 0).astype(np.int64)  # (batch, tables*planes)
        per_table = bits.reshape(len(v), n_tables, n_planes) @ weights  # (batch, tables)
        return pd.Series(list(per_table))

    return sigs

def make_hyperplanes(num: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure-python LCG so the
    result is reproducible everywhere without numpy state)."""
    state = seed
    out = []
    for _ in range(num):
        row = []
        for _ in range(dim):
            # Park-Miller LCG -> uniform(-1, 1) -> Box-Muller-free
            # (uniform directions are fine for sign-LSH).
            state = (state * 48271) % 2147483647
            row.append(state / 2147483647.0 * 2.0 - 1.0)
        out.append(row)
    return out

def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: restrict the exact scoring to rows that share
    an LSH bucket with the query in any of ``num_tables`` hash tables
    (multi-table = recall amplification), then rank as cosine_topk.

    At scale the bucket filter is a pushdown-able equality on a
    precomputable signature column — score ~n/2^planes of the data per
    table instead of everything.
    """
    dim = len(query_vec)
    all_planes = [
        make_hyperplanes(num_planes, dim, seed=seed + 1000 * t) for t in range(num_tables)
    ]
    qsigs = []
    for planes in all_planes:
        qsig = 0
        for h in planes:
            d = sum(x * y for x, y in zip(h, query_vec))
            qsig = qsig * 2 + (1 if d >= 0 else 0)
        qsigs.append(qsig)
    sig_udf = hyperplane_signatures_arrow(all_planes)
    with_sigs = embeddings.withColumn("_sigs", sig_udf(F.col(vec_col)))
    match = F.lit(False)
    for t, qsig in enumerate(qsigs):
        match = match | (F.col("_sigs")[t] == F.lit(qsig))
    cand = with_sigs.where(match).drop("_sigs")
    return cosine_topk(
        cand, query_vec, k, vec_col=vec_col, id_col=id_col, round_digits=round_digits
    )

def ivf_centroids(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
) -> list[list[float]]:
    """Deterministic coarse quantizer for IVF: take the ``n_cells``
    vectors with the smallest md5(id-as-string) as centroids — a seeded
    uniform sample without any iterative training (k-means would
    sharpen cells but adds nothing to the partitioning/probing shape
    being exercised; swap in ``pyspark.ml`` KMeans for production
    recall).  md5-of-decimal-string rather than xxhash64 so the
    selection is reproducible in ANSI SQL for the oracle — the hash
    runs over ``n_cells``-bounded driver work, never the data path.
    Cell ids are 1-based positions in (md5, id) order."""
    rows = (
        embeddings.select(F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def ivf_centroids_trained(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    iters: int = 2,
) -> tuple[list[list[int]], list[list[float]]]:
    """TRAINED coarse quantizer for IVF (round-7 verdict #1): the same
    md5-ordered ``n_cells`` seed as ``ivf_centroids``, sharpened by
    ``iters`` rounds of full-vector integer Lloyd's — literally
    ``clustering._lloyd_rounds`` (quantize ``floor((x + 1) * 1e6)``,
    int64 squared-distance argmin with ties to the lowest cell,
    per-dim ``sum // count`` updates, empty cells keep their
    centroid), so the SQL oracle replays cell training round by
    unrolled round exactly like the PQ books.

    Returns ``(cents_q, cents_f)``: int64 centroids (what every cell
    argmin runs against — the assignment is engine-exact integer
    arithmetic, closing the float-matmul near-tie hazard the sampled
    path carries) and their float dequantization ``q / 1e6 - 1``
    (exact IEEE — what residuals subtract and ADC terms dot against).

    Scale: per round one ``mapInPandas`` partial-sum pass over the
    table; only ``n_cells x (dim + 1)`` longs reach the driver."""
    import numpy as np

    from .clustering import KMEANS_OFFSET, KMEANS_SCALE, _lloyd_rounds

    rows = (
        embeddings.select(F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_cells)
        .collect()
    )
    seed = np.asarray([[float(x) for x in r["v"]] for r in rows], dtype=np.float64)
    cents_q = np.floor((seed + KMEANS_OFFSET) * KMEANS_SCALE).astype(np.int64)
    dim = cents_q.shape[1]
    src = embeddings.select(as_double_vec(F.col(vec_col)).alias("emb"))
    # Scoped shuffle width (the kmeans_fixed idiom): the per-round
    # keyed aggregation carries n_cells x (dim + 1) longs, so size the
    # round's shuffle to that, not to the session's scan width.
    spark = embeddings.sparkSession
    _parts_key = "spark.sql.shuffle.partitions"
    _prev_parts = spark.conf.get(_parts_key)
    spark.conf.set(_parts_key, "4")
    try:
        cents_q = _lloyd_rounds(src, cents_q, n_cells, dim, iters)
    finally:
        spark.conf.set(_parts_key, _prev_parts)
    cents_f = cents_q.astype(np.float64) / KMEANS_SCALE - KMEANS_OFFSET
    return (
        [[int(x) for x in row] for row in cents_q],
        [[float(x) for x in row] for row in cents_f],
    )


def _int_cell_assign(X, cents_q):
    """Engine-exact 0-based cell assignment: quantize the batch to the
    ``(x + 1) * 1e6`` int64 grid and argmin exact integer squared
    distance against int64 centroids (ties -> lowest cell; numpy
    argmin takes the first minimum).  No float matmul anywhere, so no
    summation-order hazard — any SQL engine lands on the same cell."""
    import numpy as np

    Cq = np.asarray(cents_q, dtype=np.int64)
    Vq = _pq_quantize(X, PQ_OFFSET)
    return ((Vq[:, None, :] - Cq[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _nearest_cell_arrow(centroids: list[list[float]]):
    """1-based nearest-centroid index by squared L2 distance, as an
    Arrow Pandas UDF: argmin_j (|c_j|^2 - 2 v.c_j) for the whole batch
    in one numpy matmul (ties -> lowest index, matching a sequential
    argmin).  UDF: array<float> -> int."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
    c_sq = (c * c).sum(axis=1)  # (cells,)

    @pandas_udf("int")
    def cell(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        scores = c_sq[None, :] - 2.0 * (v @ c.T)  # (batch, cells)
        return pd.Series(scores.argmin(axis=1) + 1).astype("int32")

    return cell


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    round_digits: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: partition vectors into coarse cells
    (inverted file), probe only the ``n_probe`` cells nearest the
    query, score exactly within them.

    At 100 TB the cell id is a precomputable partition/cluster column:
    the probe becomes a partition-pruned scan touching n_probe/n_cells
    of the data, and the scored remainder is a per-partition top-k
    merge (TakeOrderedAndProject), never a full shuffle.
    """
    # ``centroids``: pass a precomputed ivf_centroids() result to
    # share one coarse-quantizer build across probe settings (the
    # q_ivf_sweep arms) — the selection scan runs once, not per arm.
    cents = centroids if centroids is not None else ivf_centroids(
        embeddings, vec_col=vec_col, id_col=id_col, n_cells=n_cells
    )

    def sqdist(c: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(c, query_vec))

    probe = sorted(range(len(cents)), key=lambda j: (sqdist(cents[j]), j))[:n_probe]
    probe_cells = [j + 1 for j in probe]  # 1-based cell ids
    cand = embeddings.where(_nearest_cell_arrow(cents)(F.col(vec_col)).isin(probe_cells))
    return cosine_topk(
        cand, query_vec, k, vec_col=vec_col, id_col=id_col, round_digits=round_digits
    )


def save_ivf_partitioned(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF layout `ivf_topk`'s docstring promises: the
    embedding table written to Parquet PARTITIONED BY its coarse cell,
    so probing becomes partition pruning (a metadata operation) instead
    of a full scan + filter.  One-time cost: the cell assignment (one
    Arrow matmul per batch) and the partitioned write."""
    cell = _nearest_cell_arrow(centroids)(F.col(vec_col)).alias("cell")
    (
        embeddings.select(F.col(id_col), F.col(vec_col), cell)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_topk_partitioned(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 4,
    round_digits: int = 4,
) -> DataFrame:
    """IVF top-k over a `save_ivf_partitioned` layout: the probe-cell
    predicate is on the PARTITION column, so Spark prunes unprobed
    cells from the file listing (verify: `.explain("formatted")` shows
    `PartitionFilters: [cell IN (...)]` and only n_probe/n_cells of
    the files are read).  This is the 100 TB read path; `ivf_topk`
    computes the same answer over an unpartitioned table."""

    def sqdist(c: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(c, query_vec))

    probe = sorted(range(len(centroids)), key=lambda j: (sqdist(centroids[j]), j))[:n_probe]
    probe_cells = [j + 1 for j in probe]
    cand = spark.read.parquet(path).where(F.col("cell").isin(probe_cells))
    return cosine_topk(
        cand.drop("cell"), query_vec, k,
        vec_col=vec_col, id_col=id_col, round_digits=round_digits,
    )


def _broadcast_lut_row(spark, **luts) -> DataFrame:
    """One-row DataFrame carrying ADC lookup tables as
    ``array<array<double>>`` DATA columns (name -> (m, n_codes)
    nested list).  Scoring crossJoins the broadcast row and indexes
    with ``element_at(element_at(col, j), code)`` — the query plan
    holds O(m) expressions however large the codebooks grow, where
    the previous literal-array form inlined 2*m*n_codes float
    literals into the expression tree (a Catalyst plan-size /
    whole-stage-codegen cliff at production codebook sizes;
    round-6 verdict #5).  The floats are the SAME doubles the
    literals carried, so scores are bit-identical and the SQL
    oracles need no change."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    schema = StructType(
        [StructField(n, ArrayType(ArrayType(DoubleType()))) for n in luts]
    )
    row = [[[float(x) for x in sub] for sub in lut] for lut in luts.values()]
    return spark.createDataFrame([row], schema)


def pq_codebooks(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the ``n_codes``
    vectors with smallest md5(id-as-string) (the exact seeded sample
    ``ivf_centroids`` uses), each sliced into ``m`` contiguous
    subvectors; codebook j is the j-th slice of every sampled vector.

    Sampled-codewords rather than per-subspace k-means for the same
    reason as ``ivf_centroids``: the quantize/encode/ADC shape being
    exercised is identical, and the selection is replayable in ANSI
    SQL for the value oracle (swap in per-subspace ``pyspark.ml``
    KMeans for production recall).  Driver work is ``n_codes`` rows —
    never the data path.  Returns shape (m, n_codes, dim//m)."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("v")
        )
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_codes)
        .collect()
    )
    vecs = [[float(x) for x in r["v"]] for r in rows]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    return [[v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m)]


def _pq_codes_arrow(books: list[list[list[float]]]):
    """PQ encoder as an Arrow Pandas UDF: per subspace j, the 1-based
    index of the codeword minimizing ||v_j - c||^2 (ties -> lowest
    code, matching a sequential argmin) — all m subspaces of the whole
    batch in one einsum.  UDF: array<float> -> array<int>.

    This is the bytes-per-vector index write path: at 100 TB the
    stored column is m small ints (m bytes with n_codes<=256) instead
    of dim floats — a ~dim*4/m compression of the index."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    b = np.asarray(books, dtype=np.float64)  # (m, n_codes, sub)
    n_sub, _, sub = b.shape
    b_sq = (b * b).sum(axis=2)  # (m, n_codes)

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64).reshape(-1, n_sub, sub)
        # argmin_c |c|^2 - 2 v_j.c  ==  argmin_c ||v_j - c||^2
        scores = b_sq[None, :, :] - 2.0 * np.einsum("bjs,jcs->bjc", v, b)
        return pd.Series(list((scores.argmin(axis=2) + 1).astype("int32")))

    return codes


PQ_SCALE = 10**6
PQ_OFFSET = 1.0  # embeddings live in (-1, 1); +1 keeps quanta positive
PQ_RESID_OFFSET = 2.0  # residuals of (-1,1) vectors live in (-2, 2)


def _pq_quantize(X, offset: float):
    """(n, dim) float64 -> int64 fixed-point quanta, the
    ``clustering.KMEANS_SCALE`` recipe: ``floor((x + offset) * 1e6)``
    uses only correctly-rounded IEEE ops, so numpy and any SQL engine
    land on identical integers; positive quanta make floor-div ==
    trunc-div everywhere."""
    import numpy as np

    return np.floor((X + offset) * PQ_SCALE).astype(np.int64)


def _pq_train_lloyd(
    src: DataFrame,
    books_q,
    *,
    iters: int,
    offset: float,
    cents=None,
    cents_q=None,
):
    """Per-subspace integer Lloyd's k-means over quantized subvector
    slices — ALL m subspaces trained in one ``mapInPandas`` pass per
    round (the ``clustering._lloyd_rounds`` posture: the big table
    flows through one Arrow worker emitting (j, code)-keyed partial
    sums; only m*n_codes*(sub+1) longs ever reach the driver).

    Deterministic contract (what the SQL oracle replays, round by
    unrolled round): assignment = argmin int64 squared distance, ties
    to the lowest code (numpy argmin takes the first minimum); update
    = per-dim ``sum // count`` floor division; an empty code keeps its
    codeword.  With ``cents`` (IVF-PQ), each vector is first reduced
    to its float residual ``v - cent(nearest cell)`` (exact IEEE
    subtract, the ``residual_pq_codebooks`` rule) before quantizing.
    The cell pick itself is float (a BLAS matmul) UNLESS ``cents_q``
    (trained integer centroids) is also given — then the cell argmin
    is exact int64 arithmetic (``_int_cell_assign``) and the whole
    trained pipeline is engine-exact end to end (the round-7 ADVICE
    float-order hazard applies only to the legacy sampled-cells path).

    int64 headroom: quanta < 2^22, squared diffs < 2^44, summed over
    sub <= 2^6 dims < 2^50 — no overflow anywhere near."""
    import numpy as np

    n_sub, n_codes, sub = books_q.shape
    if cents is not None:
        C = np.asarray(cents, dtype=np.float64)
        C_sq = (C * C).sum(axis=1)

    for _ in range(iters):
        B = books_q  # bind this round's codebooks into the closure
        B_sq = (B * B).sum(axis=2)  # (m, n_codes)

        def partials(batches):
            for pdf in batches:
                if not len(pdf):  # hash-filtered training can empty a batch
                    continue
                X = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
                if cents_q is not None:
                    X = X - C[_int_cell_assign(X, cents_q)]
                elif cents is not None:
                    cell = (C_sq[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
                    X = X - C[cell]
                V = _pq_quantize(X, offset).reshape(-1, n_sub, sub)
                sc = B_sq[None, :, :] - 2 * np.einsum("bjs,jcs->bjc", V, B)
                a = sc.argmin(axis=2)  # (n, m), int argmin — engine-exact
                acc = np.zeros((n_sub, n_codes, sub + 1), dtype=np.int64)
                for j in range(n_sub):
                    np.add.at(acc[j, :, :sub], a[:, j], V[:, j, :])
                    np.add.at(acc[j, :, sub], a[:, j], 1)
                js, codes = np.nonzero(acc[:, :, sub])
                yield pd.DataFrame(
                    {
                        "j": js.astype("int32"),
                        "code": codes.astype("int32"),
                        "sums": [acc[j, c].tolist() for j, c in zip(js, codes)],
                    }
                )

        p = src.mapInPandas(partials, schema="j int, code int, sums array<long>")
        rows = (
            p.select("j", "code", F.posexplode("sums").alias("pos", "s"))
            .groupBy("j", "code", "pos")
            .agg(F.sum("s").alias("s"))
            .collect()
        )  # m x n_codes x (sub+1) longs to the driver — O(1) in table size
        acc = np.zeros((n_sub, n_codes, sub + 1), dtype=np.int64)
        for r in rows:
            acc[r["j"], r["code"], r["pos"]] = r["s"]
        new_books = books_q.copy()  # empty codes keep their codeword
        for j in range(n_sub):
            for c in range(n_codes):
                if acc[j, c, sub] > 0:
                    new_books[j, c] = acc[j, c, :sub] // acc[j, c, sub]
        books_q = new_books
    return books_q


def pq_codebooks_trained(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    train_iters: int = 2,
    cents: list[list[float]] | None = None,
    cents_q: list[list[int]] | None = None,
    train_filter_hex: str | None = None,
):
    """TRAINED product-quantization codebooks (round-6 verdict #4):
    the md5-ordered ``n_codes`` sample seeds the books exactly as
    ``pq_codebooks``/``residual_pq_codebooks`` did, then
    ``train_iters`` rounds of per-subspace integer Lloyd's sharpen
    them against the full table — same SQL-replayable contract as
    ``clustering.kmeans_fixed`` (unrolled rounds, fixed-point int64
    arithmetic, deterministic ties), so the value oracle replays
    training, encoding, and scoring end to end.

    Returns ``(books_q, books_f)``: the int64 quantized codebooks
    (shape (m, n_codes, sub) — what the encoder argmins against) and
    their float dequantization ``q / 1e6 - offset`` (exact IEEE ops,
    identical in SQL — what ADC LUTs are computed from).  With
    ``cents``, books quantize IVF residuals (offset 2) instead of raw
    vectors (offset 1).

    ``train_filter_hex`` is the 100 TB posture: training restricts to
    rows whose ``md5(id-as-string)`` sorts below the given hex prefix
    (e.g. ``"1"`` ~ 1/16 of the table) — a deterministic, scan-parallel
    sample with NO global sort, replayable in SQL as ``WHERE md5(...)
    < '<prefix>'``.  Codebook training on a uniform sample is the
    standard PQ recipe (Jégou et al. train on a held-out learn set);
    the ENCODE still covers every row.  Default None trains on the
    full table (right at the shipped scales)."""
    import numpy as np

    offset = PQ_OFFSET if cents is None else PQ_RESID_OFFSET
    if cents is None:
        seed = pq_codebooks(
            embeddings, vec_col=vec_col, id_col=id_col, m=m, n_codes=n_codes
        )
    else:
        seed = residual_pq_codebooks(
            embeddings,
            cents,
            vec_col=vec_col,
            id_col=id_col,
            m=m,
            n_codes=n_codes,
            centroids_q=cents_q,
        )
    books_q = _pq_quantize(np.asarray(seed, dtype=np.float64), offset)
    train_src = embeddings
    if train_filter_hex is not None:
        train_src = train_src.where(
            F.md5(F.col(id_col).cast("string")) < F.lit(train_filter_hex)
        )
    src = train_src.select(as_double_vec(F.col(vec_col)).alias("emb"))
    books_q = _pq_train_lloyd(
        src, books_q, iters=train_iters, offset=offset, cents=cents, cents_q=cents_q
    )
    books_f = (books_q.astype(np.float64) / PQ_SCALE) - offset
    return books_q, [[list(map(float, c)) for c in bj] for bj in books_f]


def _pq_codes_arrow_q(books_q, offset: float, cents=None, cents_q=None):
    """PQ encoder against TRAINED integer codebooks: quantize the
    (residual) subvectors to the same int64 grid and argmin exact
    integer squared distance (ties -> lowest code) — the cross-engine
    determinism the float encoder only gets from tie-free data, made
    unconditional.  With ``cents``: array<int> [cell, code_1..code_m]
    (the ``_ivf_pq_codes_arrow`` shape); else array<int> of m codes.
    With ``cents_q`` too (trained cells), the cell argmin itself is
    exact int64 (``_int_cell_assign``) instead of a float matmul —
    the whole code becomes engine-exact."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(books_q, dtype=np.int64)
    n_sub, _, sub = B.shape
    B_sq = (B * B).sum(axis=2)
    if cents is not None:
        C = np.asarray(cents, dtype=np.float64)
        C_sq = (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        if cents is not None:
            if cents_q is not None:
                cell = _int_cell_assign(X, cents_q)
            else:
                cell = (C_sq[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
            X = X - C[cell]
        V = _pq_quantize(X, offset).reshape(-1, n_sub, sub)
        sc = B_sq[None, :, :] - 2 * np.einsum("bjs,jcs->bjc", V, B)
        code = (sc.argmin(axis=2) + 1).astype("int32")
        if cents is not None:
            code = np.concatenate(
                [(cell + 1).astype("int32")[:, None], code], axis=1
            )
        return pd.Series(list(code))

    return codes


def pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    round_digits: int = 4,
    train_iters: int = 0,
    train_filter_hex: str | None = None,
) -> DataFrame:
    """Product-quantized approximate top-k by asymmetric distance
    computation (ADC, Jégou et al. 2011): vectors are encoded as m
    small codes; the query stays full-precision and is scored against
    each vector's RECONSTRUCTION via per-subspace lookup tables
    computed once driver-side — dot(q_j, c) and |c|^2 per codeword.
    approx_cos = sum_j LUT_dot[j][code_j] / (|q| * sqrt(sum_j
    LUT_nsq[j][code_j])) — the reconstruction norm is exact because
    subspaces are disjoint.

    Scale posture: scoring reads ONLY the m-byte code column (the
    element_at chain over broadcast-literal LUTs is pure JVM codegen —
    no vector column scan, no UDF in the scoring path; the one Pandas
    UDF is the encode, which at 100 TB is a one-time index build).
    Top-k is TakeOrderedAndProject as in ``cosine_topk``.  Returns
    ``(vec_id, sim, rank)``; composes with IVF cells for
    partition-pruned probing (``save_ivf_partitioned``).

    ``train_iters > 0`` swaps the sampled codebooks for TRAINED ones
    (``pq_codebooks_trained``: per-subspace integer Lloyd's, same
    seeded init, unrolled rounds replayed by the oracle) and encodes
    by exact integer distance — measured recall moves 0.8 -> ~1.0 at
    m=16/128 (BASELINE.md)."""
    if train_iters:
        books_q, books = pq_codebooks_trained(
            embeddings,
            vec_col=vec_col,
            id_col=id_col,
            m=m,
            n_codes=n_codes,
            train_iters=train_iters,
            train_filter_hex=train_filter_hex,
        )
        codes = _pq_codes_arrow_q(books_q, PQ_OFFSET)(F.col(vec_col))
    else:
        books = pq_codebooks(
            embeddings, vec_col=vec_col, id_col=id_col, m=m, n_codes=n_codes
        )
        codes = _pq_codes_arrow(books)(F.col(vec_col))
    sub = len(query_vec) // m
    q_norm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    dot_lut, nsq_lut = [], []
    for j in range(m):
        qj = [float(x) for x in query_vec[j * sub : (j + 1) * sub]]
        dot_lut.append([sum(a * b for a, b in zip(qj, c)) for c in books[j]])
        nsq_lut.append([sum(a * a for a in c) for c in books[j]])

    # LUTs ride as DATA in a broadcast 1-row relation, not as literal
    # arrays in the expression tree (round-6 verdict #5): the plan is
    # O(m) element_at expressions regardless of n_codes, so growing
    # production codebooks (m=16 x 4096 codes) can never hit the
    # Catalyst plan-size / codegen cliff the literal form risked.
    # Values are bit-identical to the literal form — the oracle SQL is
    # unchanged.
    lut_row = _broadcast_lut_row(
        embeddings.sparkSession, _dlut=dot_lut, _nlut=nsq_lut
    )
    df = embeddings.select(
        F.col(id_col).alias("vec_id"), codes.alias("_codes")
    ).crossJoin(F.broadcast(lut_row))
    adot = None
    ansq = None
    # Left-associated chains so the float add order is pinned (the SQL
    # oracle writes the same explicit (((t1+t2)+t3)+t4) parenthesization).
    for j in range(m):
        dj = F.element_at(F.element_at(F.col("_dlut"), j + 1), F.col("_codes")[j])
        nj = F.element_at(F.element_at(F.col("_nlut"), j + 1), F.col("_codes")[j])
        adot = dj if adot is None else adot + dj
        ansq = nj if ansq is None else ansq + nj
    if q_norm == 0.0:
        sim = F.lit(0.0)
    else:
        sim = F.when(ansq == 0, F.lit(0.0)).otherwise(
            adot / (F.sqrt(ansq) * F.lit(q_norm))
        )
    sims = df.select("vec_id", F.round(sim, round_digits).alias("sim"))
    from pyspark.sql.window import Window

    top = sims.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def residual_pq_codebooks(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    centroids_q: list[list[int]] | None = None,
) -> list[list[list[float]]]:
    """RESIDUAL product-quantization codebooks (IVF-PQ, Jégou et al.
    2011): the same md5-ordered ``n_codes`` sample as
    ``pq_codebooks``, but each sampled vector is first reduced to its
    residual against its nearest IVF centroid (``v - c(v)``) before
    slicing into ``m`` subspace codebooks — residuals concentrate
    around 0, so a shared codebook quantizes them with less error
    than raw vectors.  Ties in the centroid argmin break to the
    lowest cell (the ``ivf_topk`` rule), and every arithmetic step
    (subtract, slice) is exact IEEE double, so the SQL oracle can
    replay the books bit-for-bit."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("v")
        )
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_codes)
        .collect()
    )
    vecs = [[float(x) for x in r["v"]] for r in rows]
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m

    def nearest_cell(v: list[float]) -> int:
        if centroids_q is not None:
            # Trained-cells path: exact int64 distance on the
            # (x + 1) * 1e6 grid — engine-exact, no float ordering.
            vq = [math.floor((x + PQ_OFFSET) * PQ_SCALE) for x in v]
            best, best_d = 0, None
            for j, cq in enumerate(centroids_q):
                d = sum((a - b) * (a - b) for a, b in zip(vq, cq))
                if best_d is None or d < best_d:
                    best, best_d = j, d
            return best
        best, best_d = 0, None
        for j, c in enumerate(centroids):
            d = sum(cc * cc for cc in c) - 2.0 * sum(a * b for a, b in zip(v, c))
            if best_d is None or d < best_d:
                best, best_d = j, d
        return best

    residuals = []
    for v in vecs:
        c = centroids[nearest_cell(v)]
        residuals.append([a - b for a, b in zip(v, c)])
    return [[r[j * sub : (j + 1) * sub] for r in residuals] for j in range(m)]


def _ivf_pq_codes_arrow(centroids: list[list[float]], books: list[list[list[float]]]):
    """IVF-PQ encoder as ONE Arrow Pandas UDF: per row, the 1-based
    nearest-centroid cell, then the per-subspace residual codes
    (argmin ||(v - cent)_j - b||^2, ties -> lowest code).  Returns
    array<int> of length 1 + m: [cell, code_1..code_m].  Whole batch
    in two matmuls — this is the one-time index-build pass; at 100 TB
    the stored row is 1 + m small ints."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
    c_sq = (c * c).sum(axis=1)
    b = np.asarray(books, dtype=np.float64)  # (m, n_codes, sub)
    n_sub, _, sub = b.shape
    b_sq = (b * b).sum(axis=2)  # (m, n_codes)

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        cells = (c_sq[None, :] - 2.0 * (v @ c.T)).argmin(axis=1)  # (batch,)
        resid = (v - c[cells]).reshape(len(v), n_sub, sub)
        scores = b_sq[None, :, :] - 2.0 * np.einsum("bjs,jcs->bjc", resid, b)
        code = (scores.argmin(axis=2) + 1).astype("int32")  # (batch, m)
        out = np.concatenate(
            [(cells + 1).astype("int32")[:, None], code], axis=1
        )
        return pd.Series(list(out))

    return codes


def ivf_pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    round_digits: int = 4,
    train_iters: int = 0,
    cell_iters: int = 0,
    train_filter_hex: str | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse-quantize into IVF cells, probe
    the ``n_probe`` cells nearest the query, and score ONLY the
    probed rows' (1+m)-int codes by asymmetric distance against the
    reconstruction ``cent(cell) + residual_codeword`` — the full
    100 TB ANN read path: partition-prunable cell filter x
    bytes-per-vector codes x LUT-only scoring.

    cos(q, v_hat) decomposes exactly over the disjoint subspaces:
    dot = q.cent + sum_j dot(q_j, r_jc); |v_hat|^2 = |cent|^2 +
    2 sum_j cent_j.r_jc + sum_j |r_jc|^2 — every term a driver-side
    LUT literal (per probed cell where cell-dependent), so the scored
    plan is pure JVM codegen over the code column with pinned
    left-associated float-add order, replayable in the SQL oracle.

    ``cell_iters`` > 0 (round-7 verdict #1) trains the coarse
    quantizer too — ``ivf_centroids_trained`` integer Lloyd's — and
    switches EVERY cell argmin (training residuals, encode, probe
    selection) to exact int64 arithmetic on the quantized grid, so
    the full trained pipeline is engine-exact with no float-ordering
    caveat.  Requires ``train_iters`` > 0 (trained cells feed trained
    residual books; mixing trained cells with sampled books is not a
    declared operating point)."""
    cents_q = None
    if cell_iters:
        if not train_iters:
            raise ValueError("cell_iters requires train_iters > 0")
        cents_q, cents = ivf_centroids_trained(
            embeddings,
            vec_col=vec_col,
            id_col=id_col,
            n_cells=n_cells,
            iters=cell_iters,
        )
    else:
        cents = ivf_centroids(
            embeddings, vec_col=vec_col, id_col=id_col, n_cells=n_cells
        )
    if train_iters:
        # Trained residual codebooks (round-6 verdict #4): same seeded
        # init, per-subspace integer Lloyd's over the RESIDUALS,
        # integer-exact encode; the oracle replays the unrolled rounds.
        books_q, books = pq_codebooks_trained(
            embeddings,
            vec_col=vec_col,
            id_col=id_col,
            m=m,
            n_codes=n_codes,
            train_iters=train_iters,
            cents=cents,
            cents_q=cents_q,
            train_filter_hex=train_filter_hex,
        )
    else:
        books = residual_pq_codebooks(
            embeddings, cents, vec_col=vec_col, id_col=id_col, m=m, n_codes=n_codes
        )
    sub = len(query_vec) // m
    q = [float(x) for x in query_vec]
    q_norm = math.sqrt(sum(x * x for x in q))

    if cents_q is not None:
        # Probe pick on the same exact int64 grid as every other cell
        # argmin (ties -> lowest cell) — replayed verbatim in SQL.
        qq = [math.floor((x + PQ_OFFSET) * PQ_SCALE) for x in q]

        def isqdist(c_q: list[int]) -> int:
            return sum((x - y) * (x - y) for x, y in zip(c_q, qq))

        probe = sorted(
            range(len(cents_q)), key=lambda j: (isqdist(cents_q[j]), j)
        )[:n_probe]
    else:

        def sqdist(c: list[float]) -> float:
            return sum((x - y) * (x - y) for x, y in zip(c, q))

        probe = sorted(range(len(cents)), key=lambda j: (sqdist(cents[j]), j))[
            :n_probe
        ]
    probe_cells = [j + 1 for j in probe]

    # Global (cell-independent) LUTs: dot(q_j, r_jc) and |r_jc|^2.
    dq = [
        [sum(a * b for a, b in zip(q[j * sub : (j + 1) * sub], c)) for c in books[j]]
        for j in range(m)
    ]
    nn = [[sum(a * a for a in c) for c in books[j]] for j in range(m)]
    # Per-probed-cell scalars and LUTs: q.cent, |cent|^2, cent_j.r_jc.
    cellA = {pc: sum(a * b for a, b in zip(q, cents[pc - 1])) for pc in probe_cells}
    cellB = {pc: sum(a * a for a in cents[pc - 1]) for pc in probe_cells}
    cellC = {
        pc: [
            [
                sum(
                    a * b
                    for a, b in zip(
                        cents[pc - 1][j * sub : (j + 1) * sub], books[j][ci]
                    )
                )
                for ci in range(n_codes)
            ]
            for j in range(m)
        ]
        for pc in probe_cells
    }

    # asNondeterministic: the UDF IS deterministic, but without the
    # marker Catalyst pushes the probe-cell filter below the code
    # projection and extracts a SECOND ArrowEvalPython for it — the
    # encode would run twice per row.  The marker pins one evaluation
    # (plan shape asserted in test_plans.py).
    codes_udf = (
        _pq_codes_arrow_q(books_q, PQ_RESID_OFFSET, cents=cents, cents_q=cents_q)
        if train_iters
        else _ivf_pq_codes_arrow(cents, books)
    ).asNondeterministic()
    df = embeddings.select(
        F.col(id_col).alias("vec_id"), codes_udf(F.col(vec_col)).alias("_codes")
    ).select(
        "vec_id",
        F.col("_codes")[0].alias("cell"),
        *[F.col("_codes")[j + 1].alias(f"_c{j}") for j in range(m)],
    )
    # LUTs ride as DATA in an n_probe-row broadcast relation keyed by
    # cell (round-6 verdict #5): the global dot/|r|^2 tables AND the
    # cell-dependent cent_j.r_jc table / q.cent / |cent|^2 scalars all
    # arrive via ONE broadcast hash join, so the plan holds O(m)
    # element_at expressions — no 2*m*n_codes literals, no n_probe-arm
    # CASE chains — and stays flat as codebooks grow to production
    # sizes.  Same doubles as the literal form; oracle SQL unchanged.
    # (The isin filter STAYS: it is the partition-prunable predicate;
    # the join then only matches probed cells by construction.)
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    lut_schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("_a", DoubleType()),
            StructField("_b", DoubleType()),
            StructField("_dlut", ArrayType(ArrayType(DoubleType()))),
            StructField("_nlut", ArrayType(ArrayType(DoubleType()))),
            StructField("_clut", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    lut_rows = [
        [
            int(pc),
            float(cellA[pc]),
            float(cellB[pc]),
            [[float(x) for x in row] for row in dq],
            [[float(x) for x in row] for row in nn],
            [[float(x) for x in row] for row in cellC[pc]],
        ]
        for pc in probe_cells
    ]
    luts = embeddings.sparkSession.createDataFrame(lut_rows, lut_schema)
    cand = df.where(F.col("cell").isin(probe_cells)).join(
        F.broadcast(luts), "cell"
    )

    d_chain = None
    n_chain = None
    c_chain = None
    for j in range(m):
        dj = F.element_at(F.element_at(F.col("_dlut"), j + 1), F.col(f"_c{j}"))
        nj = F.element_at(F.element_at(F.col("_nlut"), j + 1), F.col(f"_c{j}"))
        cj = F.element_at(F.element_at(F.col("_clut"), j + 1), F.col(f"_c{j}"))
        d_chain = dj if d_chain is None else d_chain + dj
        n_chain = nj if n_chain is None else n_chain + nj
        c_chain = cj if c_chain is None else c_chain + cj
    a_term = F.col("_a")
    b_term = F.col("_b")
    adot = a_term + d_chain
    nsq = (b_term + F.lit(2.0) * c_chain) + n_chain
    if q_norm == 0.0:
        sim = F.lit(0.0)
    else:
        sim = F.when(nsq <= 0, F.lit(0.0)).otherwise(
            adot / (F.sqrt(nsq) * F.lit(q_norm))
        )
    sims = cand.select("vec_id", F.round(sim, round_digits).alias("sim"))
    from pyspark.sql.window import Window

    top = sims.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def _lsh_candidate_pairs(
    embeddings: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    num_planes: int,
    num_tables: int,
    seed: int,
    max_bucket_size: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared sign-LSH blocking pipeline (ONE sync point with the SQL
    replicas ``_sql_emb_sig_ctes``/``_sql_knn_graph_ctes``): per-table
    signatures, degenerate buckets (> ``max_bucket_size``) dropped,
    canonical ``id_a < id_b`` candidate pairs ``distinct``-ed on bare
    ids BEFORE any vector payload moves.  Returns ``(cand, vecs)`` —
    the pair table and the ``(id, vec)`` double-vector side for
    scoring joins.  Used by ``embedding_near_dup`` (threshold filter)
    and ``lsh_knn_graph`` (per-source top-k); the blocking discipline
    must stay bit-identical between them and their oracles."""
    from pyspark.sql.window import Window

    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    embeddings = ensure_parallelism(embeddings.select(id_col, vec_col))
    sig_udf = hyperplane_signatures_arrow(
        [make_hyperplanes(num_planes, dim, seed=seed + 1000 * t) for t in range(num_tables)]
    )
    sigs = embeddings.select(
        F.col(id_col).alias("id"), sig_udf(F.col(vec_col)).alias("sigs")
    )
    blocked = sigs.select("id", F.posexplode("sigs").alias("table", "sig"))
    # Persist the sized bucket table: BOTH sides of the candidate
    # self-join read it, and without the persist the whole upstream
    # pipeline — the ArrowEvalPython signature pass over every vector,
    # the explode, and the bucket-size window shuffle — executes once
    # PER SIDE (the two subtrees carry distinct Python UDF instances,
    # so Catalyst's exchange reuse never canonicalizes them equal; the
    # r12 plan capture shows 2x ArrowEvalPython chains).  At 100 TB
    # that is two full Python scoring passes instead of one.  Same
    # ContextCleaner reclamation contract as minhash_dedup's combo
    # persist (dedup.py): the blocks free when the returned DataFrame
    # is garbage collected.
    sized = (
        blocked.withColumn(
            "bsz", F.count("*").over(Window.partitionBy("table", "sig"))
        )
        .where(F.col("bsz") <= max_bucket_size)
        .transform(tracked_persist)
    )
    a = sized.select("table", "sig", F.col("id").alias("id_a"))
    b = sized.select("table", "sig", F.col("id").alias("id_b"))
    cand = (
        a.join(b, on=["table", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = embeddings.select(
        F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("vec")
    )
    return cand, vecs


def embedding_near_dup(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >=
    threshold), LSH-blocked: only pairs sharing a bucket in some table
    are scored.  The all-pairs cross join never happens.

    Scale shape (mirrors the minhash LSH join, dedup.py):

    * Degenerate buckets (> ``max_bucket_size`` members — boilerplate
      or all-zero vectors) are dropped before the self-join, so no
      bucket can make the join quadratic.
    * The self-join carries bare ids only; candidate pairs are
      ``distinct``-ed FIRST, then vectors are fetched for the
      surviving pairs — each pair is scored exactly once, not once
      per shared table, and the bucket shuffle never carries vector
      payload.

    Recall note: sign-LSH signatures are invariant under positive
    scaling of a vector (sign(h.v) == sign(h.cv) for c > 0), so exact
    and positively-scaled copies collide in every table and are found
    with probability 1 — the basis of the planted-duplicate oracle in
    ``__spark_entry__.q_embedding_near_dup``.
    """
    cand, vecs = _lsh_candidate_pairs(
        embeddings,
        vec_col=vec_col,
        id_col=id_col,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )
    return (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), on="id_a"
        )
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("vec_a"), F.col("vec_b")), round_digits).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def cosine_topk_filtered(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    predicate: Column,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Filtered vector search: exact top-k by cosine among only the
    rows satisfying ``predicate`` (the retrieval-with-metadata-filter
    composition every RAG/labeling pipeline needs).

    This is the PRE-filter strategy: the predicate prunes rows before
    any scoring, so selective filters reach the parquet scan
    (PushedFilters — on a label/date/source column this is a rowgroup
    skip at 100 TB) and the similarity expression only runs on
    survivors.  The alternative POST-filter (score, then filter the
    top-k) under-fills k whenever the filter is selective; pre-filter
    is exact by construction.  Composes with the IVF/LSH candidate
    restriction for the approximate path (filter the candidate set the
    same way).
    """
    return cosine_topk(
        embeddings.where(predicate), query_vec, k, vec_col=vec_col, id_col=id_col
    )


def cosine_topk_per_group(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 3,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Top-k nearest to the query WITHIN EACH GROUP — ``(group, vec_id,
    sim, rank)`` — the diversified-retrieval shape (k per category /
    source / shard rather than a single global heap).

    Scale notes: one pass scores every row (JVM expression, no Python),
    then a group-partitioned row_number window keeps rank <= k.  Spark's
    InferWindowGroupLimit rewrites that filter into a per-partition
    top-k heap BEFORE the window shuffle (WindowGroupLimit in the
    plan), so each group contributes at most k rows to the exchange —
    the shuffle carries O(groups * k), not O(rows).
    """
    from pyspark.sql.window import Window

    sim = _cosine_to_query(query_vec, vec_col)
    scored = embeddings.select(
        F.col(group_col).alias("group"),
        F.col(id_col).alias("vec_id"),
        F.round(sim, round_digits).alias("sim"),
    )
    w = Window.partitionBy("group").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .orderBy("group", "rank")
    )


def cosine_topk_batch(
    embeddings: DataFrame,
    query_ids: tuple = (0, 1, 2, 3, 4),
    k: int = 5,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Batched exact ANN: top-k neighbors for EVERY query in one scan
    — ``(query_id, vec_id, sim, rank)``.  The serving-path shape for
    "embed a request batch, retrieve for all of them at once" instead
    of one scan per query.

    Scale notes: the query set (batch-sized, not corpus-sized) is
    collected into a broadcast and nested-loop-joined against the
    corpus — ONE pass over the embeddings computes batch x corpus
    similarities; the per-query top-k is a rank-filtered window that
    compiles to WindowGroupLimit, so each partition keeps only k rows
    per query before the (queries x k)-sized exchange.  Self-matches
    are excluded (a query always retrieves itself at sim 1.0).
    """
    from pyspark.sql.window import Window

    q = embeddings.where(F.col(id_col).isin(*[int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("qvec"),
    )
    sims = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), as_double_vec(F.col(vec_col)).alias("v")
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "vec_id",
            F.round(cosine_sim(F.col("v"), F.col("qvec")), round_digits).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def cosine_range_search(
    embeddings: DataFrame,
    query_ids: tuple = (0, 1, 2, 3, 4),
    threshold: float = 0.25,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Radius (range) similarity search: every corpus vector within a
    cosine THRESHOLD of any query in the batch — ``(query_id, vec_id,
    sim)``.  The dedup/recall twin of top-k retrieval: "give me
    everything at least this similar", unbounded result cardinality.

    Scale notes: same one-scan broadcast shape as cosine_topk_batch,
    but the filter is a predicate (no window, no rank state) — the
    output is exactly the rows that clear the threshold, streamed out
    of the scan with no exchange at all.  The threshold compares the
    ROUNDED similarity so the predicate is the same literal decision
    the SQL oracle makes.
    """
    q = embeddings.where(F.col(id_col).isin(*[int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("qvec"),
    )
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"), as_double_vec(F.col(vec_col)).alias("v")
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "vec_id",
            F.round(cosine_sim(F.col("v"), F.col("qvec")), round_digits).alias(
                "sim"
            ),
        )
        .where(F.col("sim") >= float(threshold))
    )


def sq8_params(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) quantization bounds for scalar
    quantization: ONE scan (posexplode -> groupBy(dim) -> min/max),
    collecting exactly ``dim`` rows driver-side (the bounded
    centroids/codebooks collect pattern — never the data path).
    min/max are order-insensitive picks of existing float values, so
    the bounds are exactly reproducible in any engine (no float-sum
    nondeterminism)."""
    rows = (
        embeddings.select(
            F.posexplode(as_double_vec(F.col(vec_col))).alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [float(r["mn"]) for r in rows], [float(r["mx"]) for r in rows]


def _sq8_code_col(vec: Column, mns: list[float], mxs: list[float], levels: int) -> Column:
    """uint8 codes for one double-vector column: per dimension d,
    floor((v - mn_d) * levels / (mx_d - mn_d)) clamped to [0, levels]
    (degenerate mn==mx dims code to 0).  Bounds enter the plan as
    literal arrays indexed by ``transform``'s position argument —
    pure JVM codegen, no UDF, and the exact arithmetic the SQL oracle
    replays (identical IEEE expression tree)."""
    mn_arr = F.array(*[F.lit(float(x)) for x in mns])
    rng_arr = F.array(*[F.lit(float(x - n)) for n, x in zip(mns, mxs)])
    lv = F.lit(int(levels)).cast("long")
    zero = F.lit(0).cast("long")
    return F.transform(
        vec,
        lambda x, i: F.when(F.element_at(rng_arr, i + 1) == 0.0, zero).otherwise(
            F.least(
                lv,
                F.greatest(
                    zero,
                    F.floor(
                        (x - F.element_at(mn_arr, i + 1))
                        * float(levels)
                        / F.element_at(rng_arr, i + 1)
                    ),
                ),
            )
        ),
    )


def sq8_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate top-k by SYMMETRIC integer
    dot product: every vector — and the query — is encoded to one
    uint8 code per dimension against shared per-dimension min/max
    bounds, and similarity is ``sum_d qcode_d * vcode_d`` — pure
    BIGINT arithmetic, so the score (unlike a float ADC) is exact
    cross-engine with no rounding contract at all.

    This is the third point on the index-compression spectrum the
    engine exposes (exact float scan -> SQ8 at 1 byte/dim -> PQ at
    m bytes/vector): SQ8 keeps per-dimension resolution that PQ's
    shared codebooks trade away, at 4x the footprint of m=16 PQ but
    1/8 of the raw float column.

    Scale posture (100 TB): the bounds are a dim-row collect
    (``sq8_params``); encoding is ``transform`` over literal bound
    arrays (JVM codegen, no UDF, no shuffle); scoring reads only the
    code column; top-k is TakeOrderedAndProject (partial per-partition
    top-k, no global sort).  At index-build time the code column is
    what you persist — the float column never needs to be read again
    for scoring.

    Returns ``(vec_id, score, rank)`` with BIGINT score.
    """
    mns, mxs = sq8_params(embeddings, vec_col=vec_col, id_col=id_col)
    qc: list[int] = []
    for q, mn, mx in zip(query_vec, mns, mxs):
        r = mx - mn
        if r == 0.0:
            qc.append(0)
        else:
            qc.append(
                min(int(levels), max(0, math.floor((float(q) - mn) * levels / r)))
            )
    qcodes = F.array(*[F.lit(int(c)).cast("long") for c in qc])
    codes = _sq8_code_col(as_double_vec(F.col(vec_col)), mns, mxs, levels)
    score = F.aggregate(
        F.zip_with(codes, qcodes, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sims = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"), score.alias("score")
    )
    from pyspark.sql.window import Window

    top = sims.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def lsh_knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    round_digits: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Approximate k-NN GRAPH construction: for every vector, its
    top-``k`` neighbours by exact cosine among vectors sharing a
    sign-LSH bucket in any of ``num_tables`` tables — the bulk
    primitive graph-based ANN indexes (HNSW/NSG ingest) and SemDeDup
    build on, as one declarative plan.

    Same blocking discipline as ``embedding_near_dup`` (shared
    seed/planes, degenerate buckets dropped, candidate pairs
    ``distinct``-ed on bare ids BEFORE vectors are fetched, each pair
    scored once) — the all-pairs cross join never happens, and the
    per-vertex candidate list is bounded by
    ``num_tables * max_bucket_size``.  The final top-k is one
    per-source window over those bounded lists (WindowGroupLimit).
    At 100 TB, raise ``num_planes`` so bucket occupancy stays flat:
    candidate volume scales n * (n / 2^planes) per table.

    Returns ``(id, nbr, sim, rank)``, rank <= k by (sim desc, nbr).
    """
    from pyspark.sql.window import Window

    # Canonical pairs scored once, then both orientations feed the
    # per-source windows (the score is symmetric).
    cand, vecs = _lsh_candidate_pairs(
        embeddings,
        vec_col=vec_col,
        id_col=id_col,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )
    scored = (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), on="id_a"
        )
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("vec_a"), F.col("vec_b")), round_digits).alias("sim"),
        )
        # BOTH orientations of the union below read the scored pairs;
        # without this persist the candidate self-join + distinct +
        # two vector joins + cosine execute once PER BRANCH (r13 —
        # the r12 plan dump showed the duplicated subtree; same
        # multi-consumer contract as the bucket-table persist above).
        .transform(tracked_persist)
    )
    directed = scored.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "sim"
    ).unionAll(
        scored.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "sim")
    )
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("nbr"))
    return (
        directed.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(k))
    )


def knn_graph_recall(
    embeddings: DataFrame,
    k: int = 3,
    *,
    sample_below: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    graph: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Measured quality of ``lsh_knn_graph``: for the sampled vertices
    (id < ``sample_below``), the overlap between the LSH-blocked graph
    edges and the EXACT top-k — the recall number an index-tuning loop
    watches when choosing plane/table counts.

    The exact ground truth is sample x corpus (never corpus x corpus):
    the sampled vectors ride a broadcast against one scan, so the
    quadratic stays verification-sized at any scale.

    Returns one row ``(k, n_sampled, n_matched, recall)``.
    """
    from pyspark.sql.window import Window

    if graph is None:
        # ``graph``: pass a precomputed lsh_knn_graph(k) result to
        # measure it without rebuilding (the shared-family-cache
        # posture of the declared query pair).
        graph = lsh_knn_graph(
            embeddings,
            k,
            vec_col=vec_col,
            id_col=id_col,
            round_digits=round_digits,
            **lsh_kwargs,
        )
    approx = graph.where(F.col("id") < int(sample_below)).select("id", "nbr")
    vecs = embeddings.select(
        F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("vec")
    )
    sample = vecs.where(F.col("id") < int(sample_below)).select(
        F.col("id").alias("sid"), F.col("vec").alias("svec")
    )
    scored = (
        vecs.crossJoin(F.broadcast(sample))
        .where(F.col("id") != F.col("sid"))
        .select(
            "sid",
            "id",
            F.round(cosine_sim(F.col("svec"), F.col("vec")), round_digits).alias("sim"),
        )
    )
    w = Window.partitionBy("sid").orderBy(F.col("sim").desc(), F.col("id"))
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= int(k))
        .select("sid", "id")
    )
    n_sample = sample.count()
    denom = n_sample * int(k)
    return (
        exact.join(
            approx, (exact["sid"] == approx["id"]) & (exact["id"] == approx["nbr"])
        )
        .agg(F.count("*").cast("long").alias("n_matched"))
        .select(
            F.lit(int(k)).cast("long").alias("k"),
            F.lit(int(n_sample)).cast("long").alias("n_sampled"),
            "n_matched",
            F.round(F.col("n_matched") / float(denom), 6).alias("recall"),
        )
    )
