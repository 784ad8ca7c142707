"""Similarity search and near-duplicate detection over embedding columns
(`embeddings` table: vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).

Operator families, each a candidate generator in front of one exact
cosine verification step:

- exact top-k       — `cosine_topk` (broadcast query set, score every
                      pair; the baseline and the verifier) and
                      `knn_label_propagation` (broadcast labeled seed,
                      majority vote over the k exact neighbors).
- hyperplane LSH    — `lsh_ann` (one table: candidates share the query's
                      bucket) and `lsh_ann_multi` (L tables; candidates
                      share a bucket in ANY table), over the md5
                      `hyperplanes` family.
- IVF               — `train_ivf_centroids` (deterministic k-means
                      coarse quantizer) and `ivf_ann` (each query probes
                      its `nprobe` nearest cells).
- PQ / IVFADC       — `train_pq_codebooks`, `pq_encode` (the compressed
                      codes index), `pq_adc_topk` (ADC-only ranking over
                      stored codes), `pq_ann`, `ivfpq_ann` and
                      `ivfpq_residual_ann` (ADC top `k·refine` per query,
                      then exact re-rank).
- near-dup pairs    — `embedding_neardup` (dedup tier 5: banded
                      multi-table LSH candidates, cosine >= threshold),
                      `cosine_lsh_params` (its banding), and
                      `embedding_recall_audit` (exact all-pairs ground
                      truth on a sample).
- gates             — `topk_recall_gate` (recall@k as a 1-row boolean).

The generators differ; the verification is shared. `_vec_side` gives each
side of a pair join its (id, double vector, per-row l2 norm) columns,
`_cos_sim` is the one rounded cosine over those precomputed norms, and
`_rerank_topk` is the one NaN-safe, total-order top-k tail. The PQ paths
add `_adc_rank` (the ADC candidate window), `_pq_rerank` (exact re-rank of
those candidates) and `_empty_topk` (the typed empty result), and every
broadcast-model Arrow UDF (`bucket`, `sigs`, `probe`, `assign`) is built
by `_model_udf`.

All scoring is JVM-side, no Python. Short fixed-size kernels (the
16-lookup ADC score) unroll into plain codegen expressions — measured
faster than the interpreted higher-order-function fold; long kernels
(64-dim dot/norm) stay on the fold, whose specialized loop beats a
JIT-rejected giant generated method (measured both ways — see
`_UNROLL_MAX`). Norms are precomputed per ROW before pair joins, so an
item's norm is computed once, not once per (query, item) pair. Every
variant adds left-to-right so results are bit-identical to each other
and to the DuckDB oracle (which computes in double, same order).
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.storagelevel import StorageLevel


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _sum_unrolled(terms: list[Column]) -> Column:
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s


# Measured unroll crossover (same-session A/B, sf0.1 embeddings + the 4M
# stress_ann scale): a SHORT unrolled chain beats the interpreted
# higher-order-function fold (the 16-lookup ADC score: 16.3 s → 12.5 s at
# 4M codes), but a 64-term dot/norm unroll generates expression methods
# large enough that the JIT gives up and the generated code runs SLOWER
# than the fold's specialized loop (2.0 s vs 0.6 s steady-state on the
# same data, same session). So: unroll only up to this term count; the
# fold handles everything longer (and unknown lengths).
_UNROLL_MAX = 16


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product. With `dim` known at plan time AND small (<=
    `_UNROLL_MAX`), unrolls into plain multiply-add expressions inside
    whole-stage codegen; otherwise the aggregate/zip_with fold (which
    handles any runtime length). Bit-compatibility of the unroll is
    exact: addition left-to-right in element order, and the fold's
    0.0+x0 == x0. Mis-sized vectors NULL-route on BOTH paths: the fold's
    zip_with NULL-pads length-mismatched pairs; the unroll gets NULL from
    F.get for shorter-than-dim vectors and an explicit size guard for
    LONGER ones (which F.get alone would silently truncate to the first
    `dim` elements — a too-small declared dim must degrade to NULL, not
    to a wrong similarity)."""
    if dim and dim <= _UNROLL_MAX:
        return F.when(
            (F.size(a) == dim) & (F.size(b) == dim),
            _sum_unrolled([F.get(a, i) * F.get(b, i)
                           for i in range(dim)]))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column, dim: int | None = None) -> Column:
    if dim and dim <= _UNROLL_MAX:
        # same size guard as `dot`: a longer-than-dim vector must NULL-route,
        # not silently norm only its first `dim` elements
        return F.when(
            F.size(a) == dim,
            F.sqrt(_sum_unrolled([F.get(a, i) * F.get(a, i)
                                  for i in range(dim)])))
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    # try_divide: a zero-norm vector yields NULL similarity (ranked last /
    # dropped by thresholds) instead of an ANSI DIVIDE_BY_ZERO error killing
    # the job — and NULL is exactly what DuckDB returns for x/0, so oracle
    # comparisons agree.
    return F.try_divide(dot(a, b, dim), l2norm(a, dim) * l2norm(b, dim))


#: (id, vector, norm) column names of the query and the item side of a
#: pair join; `_rerank_topk` ranks on the two ids.
_Q = ("query_id", "qv", "qn")
_I = ("item_id", "iv", "inorm")

#: Width of the `embeddings` vectors the fixed-width LSH paths hash.
_DIM = 64


def _vec_side(df: DataFrame, id_col: str, names: tuple[str, str, str],
              dim: int | None, *extra: Column, **derived) -> DataFrame:
    """One side of a cosine pair join: `names` = (id, vector, norm) —
    the id aliased (kept as is when the name is unchanged), `extra`
    columns after it, the vector cast to double, then one column per
    `derived` entry (name -> function of the vector column, e.g. an LSH
    bucket or IVF cell), then the per-ROW l2 norm, so a vector's norm is
    computed once, not once per pair it meets."""
    i, v, n = names
    idc = F.col(id_col) if i == id_col else F.col(id_col).alias(i)
    side = df.select(idc, *extra, _as_double(F.col("embedding")).alias(v))
    for name, fn in derived.items():
        side = side.withColumn(name, fn(F.col(v)))
    return side.withColumn(n, l2norm(F.col(v), dim))


def _cos_sim(a: str, b: str, na: str, nb: str, dim: int | None) -> Column:
    """round(cosine, 6) AS cos_sim of vector columns `a`, `b` whose norms
    `na`, `nb` were precomputed per row (`_vec_side`) — bit-identical to
    the fused `cosine`: same dot, same norm subexpressions, same
    (na * nb) multiplication order, same try_divide."""
    return F.round(F.try_divide(dot(F.col(a), F.col(b), dim),
                                F.col(na) * F.col(nb)), 6).alias("cos_sim")


def _rerank_topk(scored: DataFrame, k: int,
                 extra: tuple[str, ...] = ()) -> DataFrame:
    """Shared exact re-rank tail of every similarity operator: NaN routed
    to NULL (NaN sorts above ALL doubles in Spark, NULL sorts last under
    desc_nulls_last — same exclusion, but as a projection instead of a
    pre-window filter, so Catalyst cannot push a copy of the whole scoring
    expression into the upstream join condition and evaluate it twice per
    pair), total-order tie-break (cos_sim DESC, item_id ASC), row_number
    top-k, NULL rows dropped after ranking (they sit below every real
    neighbor, so real ranks are unchanged). One definition so a future
    tie-break or NaN-policy change has exactly one site. `extra` names
    additional `scored` columns to carry through the ranking (e.g. the
    neighbor's label in `knn_label_propagation`)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc_nulls_last(), F.asc("item_id"))
    return (
        scored.withColumn(
            "cos_sim", F.nanvl(F.col("cos_sim"), F.lit(None).cast("double")))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter((F.col("rnk") <= k) & F.col("cos_sim").isNotNull())
        .select("query_id", "item_id", "cos_sim", "rnk", *extra)
    )


def cosine_topk(items: DataFrame, queries: DataFrame, k: int = 5,
                dim: int | None = None) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector.

    `queries` is expected to be small (it is broadcast); `items` streams
    through in one scan — at scale this is a broadcast-nested-loop with
    row-local scoring, i.e. embarrassingly parallel, followed by a top-k
    window shuffled on query_id (k rows per partition survive the partial
    sort thanks to AQE + row_number pushdown)."""
    # norms precomputed PER ROW on each side before the pair join — with
    # Q queries every item norm is otherwise recomputed Q× (and the fused
    # cosine expression is 3× the tree Catalyst has to carry around).
    # Bit-identical to the fused form: same l2norm subexpression, same
    # (q_norm * i_norm) multiplication order, same try_divide.
    q = _vec_side(queries, "vec_id", _Q, dim)
    it = _vec_side(items, "vec_id", _I, dim)
    scored = (
        it.join(F.broadcast(q), F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id", _cos_sim("qv", "iv", "qn", "inorm", dim))
    )
    return _rerank_topk(scored, k)


def hyperplanes(dim: int, n_planes: int, seed: str = "wde") -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 — no RNG
    state, identical on every executor / engine / run."""
    planes = []
    for p in range(n_planes):
        vals = []
        for i in range(0, dim, 4):
            h = hashlib.md5(f"{seed}|{p}|{i}".encode()).digest()
            vals.extend(struct.unpack(">4i", h[:16]))
        planes.append([v / 2**31 for v in vals[:dim]])
    return planes


def _finite_matrix(v: pd.Series, dim: int):
    """(row indices, float64 matrix) of the vectors in `v` that are
    non-NULL, exactly `dim` wide, and fully finite (no NULL/NaN/inf
    elements — a zero-norm vector normalizes to NULLs, and NaN similarities
    would sort ABOVE every real neighbor under Spark's NaN ordering)."""
    ok = v.map(lambda x: x is not None and len(x) == dim)
    idx = np.flatnonzero(ok.to_numpy())
    if len(idx) == 0:
        return idx, np.empty((0, dim))
    M = np.array(v.iloc[idx].tolist(), dtype=np.float64)  # None -> nan
    finite = np.isfinite(M).all(axis=1)
    return idx[finite], M[finite]


def _model_udf(spark, rtype: str, kernel, dim: int, model, bc=None):
    """The skeleton every broadcast-model Arrow UDF shares: `model` ships
    to executors ONCE as a broadcast (data, never plan literals, so plan
    size is independent of model size; pass `bc` to share an existing
    broadcast of the same model instead), rows that are NULL, not `dim`
    wide or not fully finite map to NULL (`_finite_matrix` — a bad row
    degrades, it does not kill the batch), and `kernel(M, model)` maps
    the float64 matrix of the remaining rows to one output per row. The
    UDF keeps `kernel`'s name, so plans print it, and exposes the
    broadcast as `.bc` for callers that `unpersist()` it."""
    if bc is None:
        bc = spark.sparkContext.broadcast(model)

    def run(v: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(v), dtype=object)
        idx, M = _finite_matrix(v, dim)
        if len(idx):
            out[idx] = kernel(M, bc.value)
        return out

    run.__name__ = kernel.__name__
    udf = pandas_udf(run, rtype)
    udf.bc = bc
    return udf


def _lsh_bucket_udf(spark, planes: list[list[float]]):
    """H-bit signature (bit j = sign(dot(vec, plane_j))) computed per Arrow
    batch as one matmul against the BROADCAST hyperplane matrix — like the
    IVF quantizer, the model rides as data, not as plan literals, so plan
    size is independent of (dims × planes). NULL/mis-sized/non-finite
    vectors map to a NULL bucket and fall out of the bucket equi-join
    instead of crashing the batch or polluting the ranking."""
    P = np.asarray(planes, dtype=np.float64)

    def bucket(M, P):
        bits = (M @ P.T) >= 0
        return ["".join("1" if b else "0" for b in row) for row in bits]

    return _model_udf(spark, "string", bucket, P.shape[1], P)


def lsh_ann(items: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-k: candidates = items in the query's LSH bucket,
    re-ranked exactly. Recall < 1.0 by design; the candidate join shuffles
    on the bucket signature instead of forming the full cross product."""

    bucket = _lsh_bucket_udf(items.sparkSession, hyperplanes(_DIM, 6))
    it = _vec_side(items, "vec_id", _I, _DIM, bucket=bucket)
    q = _vec_side(queries, "vec_id", _Q, _DIM, bucket=bucket)
    scored = (
        it.join(F.broadcast(q), "bucket")
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id",
                _cos_sim("qv", "iv", "qn", "inorm", _DIM))
    )
    return _rerank_topk(scored, 5)


def _lsh_multi_sig_udf(spark, planes: list[list[float]], n_tables: int,
                       bits_per_table: int):
    """Array of `n_tables` per-table signatures ("<table>:<bits>") from ONE
    matmul against the full (n_tables*bits) hyperplane matrix — multi-table
    LSH amortizes to the same Arrow pass as a single table. NULL/mis-sized/
    non-finite vectors get NULL (they fall out of the candidate join)."""
    P = np.asarray(planes, dtype=np.float64)

    def sigs(M, P):
        bits = (M @ P.T) >= 0
        weights = 1 << np.arange(bits_per_table)[::-1]
        codes = bits.reshape(len(M), n_tables, bits_per_table) @ weights
        return [[f"{t}:{c}" for t, c in enumerate(row)] for row in codes]

    return _model_udf(spark, "array<string>", sigs, P.shape[1], P)


def lsh_ann_multi(items: DataFrame, queries: DataFrame,
                  n_tables: int = 48) -> DataFrame:
    """Multi-table random-hyperplane LSH — the standard recall-tunable ANN
    structure: L independent tables of b planes each; candidates = items
    sharing the query's signature in ANY table; exact cosine re-rank over
    the deduplicated candidate set.

    Scale shape: the signature table carries only (id, signature) — payload
    vectors never ride the L-fold row multiplication; candidate ids come out
    of an equi-join + distinct, and vectors are fetched back by id for the
    re-rank. Miss probability per true neighbor is (1 - p^b)^L with
    p = 1 - θ/π, so recall is tuned by (b, L) without touching the plan."""
    n_planes = 6

    spark = items.sparkSession
    sig = _lsh_multi_sig_udf(
        spark, hyperplanes(_DIM, n_planes * n_tables), n_tables, n_planes)
    it = _vec_side(items, "vec_id", _I, _DIM)
    q = _vec_side(queries, "vec_id", _Q, _DIM)
    it_sig = it.select("item_id", F.explode(sig(F.col("iv"))).alias("tb"))
    q_sig = q.select("query_id", F.explode(sig(F.col("qv"))).alias("tb"))
    cand = (
        it_sig.join(F.broadcast(q_sig), "tb")
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id").distinct()
    )
    scored = (
        cand.join(it, "item_id").join(F.broadcast(q), "query_id")
        .select("query_id", "item_id",
                _cos_sim("qv", "iv", "qn", "inorm", _DIM))
    )
    return _rerank_topk(scored, 5)


def topk_recall_gate(approx: DataFrame, exact: DataFrame, n_queries: int,
                     k: int, min_recall: float) -> DataFrame:
    """1-row recall@k gate: TRUE iff |approx ∩ exact| >= min_recall·(n·k).
    The approximate result is data-dependent (no SQL form), but this derived
    property IS oracle-checkable as a constant row — the hash comparison
    fails exactly when the ANN machinery stops finding true neighbors."""
    hits = (
        approx.select("query_id", "item_id")
        .join(exact.select("query_id", "item_id"), ["query_id", "item_id"],
              "left_semi")
        .agg(F.count("*").alias("hits"))
    )
    need = int(min_recall * n_queries * k)
    return hits.select(
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        (F.col("hits") >= F.lit(need)).alias("recall_ok"),
    )


def _normalize(c: Column) -> Column:
    n = l2norm(c)
    return F.transform(c, lambda x: x / n)


def _probe_cells_udf(spark, centroids: list[list[float]], nprobe: int,
                     bc=None):
    """Arrow-vectorized nearest-cell assignment against a BROADCAST centroid
    matrix — the quantizer model ships to executors as data, never as plan
    literals, so plan size (and codegen compile time) is independent of
    model size: a real IVF quantizer (4096 cells × 1024 dims = 4M floats)
    would be unplannable as a literal expression but is a 32 MB broadcast
    here. Per Arrow batch the distance matrix is one BLAS matmul
    (‖x‖² − 2x·Cᵀ + ‖c‖²); ties break to the lowest cell id (stable
    argsort), matching lexicographic (d, cell) order.

    NULL vectors map to NULL (they then fall out of the cell equi-join) —
    a single bad row must degrade, not kill, a 100 TB job. Pass `bc` to
    share one broadcast across several UDFs of the same model; the
    returned UDF exposes it as `.bc` so callers that fully materialize
    their output can `bc.unpersist()`."""
    C = np.asarray(centroids, dtype=np.float64)

    def probe(M, model):
        C, c_sq = model
        d = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + c_sq[None, :]
        return list(np.argsort(d, axis=1, kind="stable")[:, :nprobe]
                    .astype(np.int32))

    return _model_udf(spark, "array<int>", probe, C.shape[1],
                      (C, (C * C).sum(axis=1)), bc)


def train_ivf_centroids(items: DataFrame,
                        n_cells: int = 16) -> list[list[float]]:
    """Deterministic Lloyd's k-means (2 rounds, as the oracles unroll it)
    over L2-normalized vectors, expressed as DataFrame plans (assignment =
    Arrow-vectorized argmin against the broadcast centroid matrix,
    row-local; update = posexplode + (cell,dim) hash agg — one shuffle of
    n_cells×dim groups per iteration). Seeding is
    md5-ordered vector ids: no RNG state, identical on every run.

    Centroids (n_cells × dim doubles) are driver-side between iterations —
    they are the *model*, not the data; at 100 TB the data never leaves the
    executors. The normalized (vid, v) frame is persisted for the
    training loop (the standard cache-the-iterated-input discipline —
    Spark's own k-means does the same) and released before returning:
    without it the scan → cast → normalize pipeline re-runs for the
    dimension vote, the seed scan, and every Lloyd iteration."""
    spark = items.sparkSession
    v = items.select(
        F.col("vec_id").alias("vid"),
        _normalize(_as_double(F.col("embedding"))).alias("v"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # seed only from vectors of the table's dominant dimension, with every
    # element finite — one NULL/zero-norm/mis-sized row must not poison the
    # quantizer (a mixed-dim centroid list can't even form a matrix)
    try:
        dim_row = (
            v.filter(F.col("v").isNotNull())
            .groupBy(F.size("v").alias("d")).count()
            .orderBy(F.desc("count"), F.asc("d")).first()
        )
        if dim_row is None:
            return []
        dim = dim_row.d
        clean = v.filter(
            (F.size("v") == dim)
            & ~F.exists("v", lambda x: x.isNull() | F.isnan(x))
        )
        seed_rows = (
            clean.orderBy(F.md5(F.col("vid").cast("string")), F.col("vid"))
            .limit(n_cells).select("v").collect()
        )
        centroids = [list(r.v) for r in seed_rows]
        # fewer vectors than requested cells: every vector is its own
        # centroid
        n_cells = min(n_cells, len(centroids))
        if n_cells == 0:
            return []
        centroids = centroids[:n_cells]
        for _ in range(2):
            probe = _probe_cells_udf(spark, centroids, nprobe=1)
            assigned = v.withColumn("cell", probe(F.col("v"))[0])
            means = (
                assigned.select("cell", F.posexplode("v").alias("pos", "x"))
                .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                .groupBy("cell")
                .agg(F.array_sort(
                    F.collect_list(F.struct("pos", "m"))).alias("pm"))
                .select("cell", F.col("pm.m").alias("cv"))
                .collect()
            )
            # collect() fully materialized this iteration's assignment —
            # the per-iteration model broadcast can be released
            # immediately.
            probe.bc.unpersist()
            new = dict((r.cell, list(r.cv)) for r in means)
            centroids = [new.get(i, centroids[i]) for i in range(n_cells)]
        return centroids
    finally:
        v.unpersist()


def ivf_ann(items: DataFrame, queries: DataFrame, k: int = 5,
            n_cells: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF approximate top-k — the second scale path next to `lsh_ann`.

    Items are partitioned into `n_cells` Voronoi cells of a deterministic
    k-means coarse quantizer; each query probes only its `nprobe` nearest
    cells. The candidate join shuffles on `cell` (≈ nprobe/n_cells of the
    data per query) instead of forming the full cross product; the exact
    cosine re-rank runs only inside probed cells. Recall tunable via
    nprobe — nprobe=n_cells degenerates to exact search.
    Assignment is Arrow-vectorized against the broadcast quantizer (see
    `_probe_cells_udf`); the exact re-rank stays a JVM column fold."""
    spark = items.sparkSession
    centroids = train_ivf_centroids(items, n_cells)
    if not centroids:
        return _empty_topk(spark, queries, items)
    # one model broadcast shared by both assignment UDFs (query lifetime)
    assign1 = _probe_cells_udf(spark, centroids, nprobe=1)
    probe_n = _probe_cells_udf(spark, centroids, nprobe=nprobe, bc=assign1.bc)
    dim = len(centroids[0])
    it = _vec_side(items, "vec_id", _I, dim,
                   cell=lambda v: assign1(_normalize(v))[0])
    q = _vec_side(queries, "vec_id", _Q, dim,
                  cell=lambda v: F.explode(probe_n(_normalize(v))))
    scored = (
        it.join(F.broadcast(q), "cell")
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id", _cos_sim("qv", "iv", "qn", "inorm", dim))
    )
    return _rerank_topk(scored, k)


def cosine_lsh_params(threshold: float, n: int) -> tuple[int, int]:
    """(bits_per_table, n_tables) for hyperplane LSH over an n-vector
    corpus, the cosine twin of `dedup.lsh_params_for`: bits come from
    CORPUS SIZE (2^bits buckets per table, targeting ~32
    vectors per bucket so the per-bucket pair product stays constant as n
    grows — the fix for the 64-buckets-forever default the r5 audit
    flagged as quadratic), then enough tables that a true pair at cosine
    `threshold` collides somewhere with probability >= 0.9:
    P(bit agrees) = 1 - θ/π (Charikar, "Similarity estimation techniques
    from rounding algorithms", STOC 2002), so
    P(miss everywhere) = (1 - p^bits)^tables. `max_tables` bounds the
    signature-table row multiplication; if the cap binds, recall degrades
    gracefully and `embedding_recall_audit` is the instrument that sees
    it."""
    min_bits = 4
    max_tables = 64
    if n <= 1:
        return min_bits, 1
    bits = max(min_bits, min(24, math.ceil(math.log2(max(2.0, n / 32)))))
    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_tbl = p_bit ** bits
    if p_tbl >= 1.0 - 1e-12:
        return bits, 1
    if p_tbl <= 0.0:
        return bits, max_tables
    tables = math.ceil(math.log(1.0 - 0.9) / math.log(1.0 - p_tbl))
    return bits, max(1, min(max_tables, tables))


def embedding_neardup(items: DataFrame, threshold: float = 0.95,
                      id_col: str = "vec_id", n_planes: int | str = "auto",
                      n_tables: int | None = None,
                      max_bucket: int | None = 64) -> DataFrame:
    """Dedup tier 5 — (id_a, id_b, cos_sim) pairs with cosine >=
    threshold. Candidates come from BANDED MULTI-TABLE hyperplane LSH
    (the `lsh_ann_multi` signature machinery): each vector gets one
    "<table>:<code>" signature per table, candidates share a signature in
    ANY table, and only candidates are exactly scored — never an
    all-pairs product.

    Scale controls (all three were missing from the r5 single-table form,
    whose fixed 2^6 = 64 buckets made the bucket self-join ~n²/128 pairs
    at ANY corpus size):
    - `n_planes="auto"` derives bits-per-table from the corpus COUNT
      (2^bits buckets/table, ~32 vectors each) and the table
      count from the collision S-curve at `threshold` — see
      `cosine_lsh_params`. Pass ints to pin (n_planes[, n_tables]) for
      oracle-replayable registry forms.
    - `max_bucket` drops signature buckets holding more vectors — the
      same hot-bucket hygiene as `dedup.minhash_lsh_pairs`: an oversized
      bucket is a near-constant embedding family whose members still
      meet in their other tables' finer buckets, and letting it through
      is exactly the quadratic blow-up the cap exists to stop.
    - candidates travel as (id, sig) rows only; payload vectors are
      joined back per-id for verification, so the L-fold signature
      multiplication never carries the vector column.

    The (id, v, nrm) frame feeds three consumers (signature build and
    both verification sides) and the capped signature table feeds both
    self-join sides; each is persisted once — without the persist every
    broadcast consumer re-runs the scan→cast→norm (resp. sig-UDF →
    explode → cap-window) pipeline, the same broadcast-defeats-reuse
    shape fixed for minhash/SNM/tfidf this round (r12 §2).
    """

    spark = items.sparkSession
    if n_planes == "auto":
        bits, tables = cosine_lsh_params(
            threshold, items.select(id_col).count())
        if n_tables is not None:
            tables = n_tables
    else:
        bits, tables = int(n_planes), (1 if n_tables is None else n_tables)
    sig = _lsh_multi_sig_udf(
        spark, hyperplanes(_DIM, bits * tables), tables, bits)
    # per-row norm precomputed before the pair join (bit-identical to the
    # fused cosine: same subexpression, same a·b multiplication order)
    v = _vec_side(items, id_col, (id_col, "v", "nrm"), _DIM) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sg = v.select(F.col(id_col),
                  F.explode(sig(F.col("v"))).alias("sig"))
    if max_bucket is not None:
        sg = sg.withColumn(
            "__bsz", F.count("*").over(Window.partitionBy("sig"))
        ).filter(F.col("__bsz") <= max_bucket).drop("__bsz")
    sg = sg.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        sg.alias("a").join(
            sg.alias("b"),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("av"),
                  F.col("nrm").alias("anrm"))
    vb = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("bv"),
                  F.col("nrm").alias("bnrm"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", _cos_sim("av", "bv", "anrm", "bnrm", _DIM))
        .filter(~F.isnan("cos_sim") & (F.col("cos_sim") >= threshold))
    )


def embedding_recall_audit(items: DataFrame, pipeline_pairs: DataFrame,
                           sample: int = 200,
                           threshold: float = 0.95) -> DataFrame:
    """Measured recall of the SEMANTIC near-dup tier, mirror of
    `dedup.dedup_recall_audit` for the embedding side — hyperplane-LSH
    recall at a cosine threshold is a parameter promise, and silent
    recall collapse (too-few tables for the threshold, an over-tight
    bucket cap) looks exactly like a semantically clean corpus.

    Method: md5-order-sample `sample` vectors (deterministic — reruns
    audit the same vectors), compute EXACT all-pairs cosine within the
    sample (bounded: sample² pairs, the only all-pairs product here, by
    declared design), take pairs >= threshold as ground truth, compare
    with `pipeline_pairs` restricted to the sample. One row:
    (sample_vecs, true_pairs, found_pairs, recall); recall is NULL when
    the sample holds no true pair (nothing to measure, not recall 1.0)."""

    ids = (
        items.select(F.col("vec_id"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(sample)
    )
    sub = items.join(F.broadcast(ids), "vec_id", "left_semi")
    v = _vec_side(sub, "vec_id", ("vec_id", "v", "nrm"), _DIM)
    a, b = v.alias("a"), v.alias("b")
    truth = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            _cos_sim("a.v", "b.v", "a.nrm", "b.nrm", _DIM),
        )
        .filter(~F.isnan("cos_sim") & (F.col("cos_sim") >= threshold))
        .select("id_a", "id_b")
    )
    found = truth.join(
        pipeline_pairs.select("id_a", "id_b").distinct(), ["id_a", "id_b"],
        "left_semi")
    return (
        ids.agg(F.count("*").alias("sample_vecs"))
        .crossJoin(truth.agg(F.count("*").alias("true_pairs")))
        .crossJoin(found.agg(F.count("*").alias("found_pairs")))
        .select(
            "sample_vecs", "true_pairs", "found_pairs",
            F.when(F.col("true_pairs") > 0,
                   F.round(F.col("found_pairs") / F.col("true_pairs"), 6))
            .alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bandwidth scale path.
#
# IVF prunes WHICH vectors a query touches; PQ shrinks WHAT each touched
# vector costs: a D-dim float vector (4·D bytes) is stored as M sub-space
# centroid ids (M bytes at K=16..256), and query scoring reads ONLY the
# codes via a per-query lookup table (ADC — asymmetric distance
# computation, Jégou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011). At 100 TB of 1024-dim embeddings that is ~64×
# less scan I/O, and the codes column is what a 1000-executor scan
# actually streams. Training is the same deterministic machinery as IVF
# (md5-ordered seeding, fixed Lloyd iterations) — per sub-space — so the
# whole path (train → encode → ADC scan → exact re-rank) is replayable
# in ANSI SQL and the DuckDB oracle hash-checks the approximate result
# end-to-end.


def _pq_assign_udf(spark, codebooks: list[list[list[float]]]):
    """codes(vector) -> array<int> of length M: per sub-space nearest
    centroid id against the BROADCAST codebook tensor (M × K × d_sub).
    Per Arrow batch, all M sub-space distance matrices come from one
    reshaped BLAS matmul; ties break to the lowest code id. NULL /
    mis-sized / non-finite vectors map to NULL codes (degrade, not
    crash)."""
    C = np.asarray(codebooks, dtype=np.float64)  # (M, K, d_sub)
    m_, _, ds = C.shape

    def assign(X, model):
        C, c_sq = model                                   # (M, K, ds), (M, K)
        S = X.reshape(len(X), m_, ds)                     # (n, M, ds)
        # dist(n, m, k) = |s|^2 - 2 s·c + |c|^2
        dots = np.einsum("nmd,mkd->nmk", S, C)
        d = (S * S).sum(axis=2)[:, :, None] - 2.0 * dots + c_sq[None, :, :]
        return list(np.argmin(d, axis=2).astype(np.int32))  # stable: first min

    return _model_udf(spark, "array<int>", assign, m_ * ds,
                      (C, (C * C).sum(axis=2)), None)


def train_pq_codebooks(items: DataFrame, m: int = 8,
                       k_codes: int = 16) -> list[list[list[float]]]:
    """Deterministic per-sub-space Lloyd's k-means (2 rounds) over
    L2-normalized vectors → codebook tensor (m × k_codes × dim/m). Seeding is md5-ordered
    vector ids (the SAME first k_codes vectors seed every sub-space — no
    RNG); each iteration is one row-local Arrow assignment pass + one
    (sub-space, code, dim) hash agg. The codebook (m·k_codes·dim doubles)
    is driver-side model state, like the IVF centroids."""
    v = items.select(
        F.col("vec_id").alias("vid"),
        _normalize(_as_double(F.col("embedding"))).alias("v"),
    )
    return _train_pq_vdf(items.sparkSession, v, m, k_codes)


def _train_pq_vdf(spark, v: DataFrame, m: int,
                  k_codes: int) -> list[list[list[float]]]:
    """Codebook trainer over a prepared (vid, v) frame — shared by
    `train_pq_codebooks` (v = normalized vectors) and the residual-IVFPQ
    trainer (v = vector − assigned coarse centroid). Deterministic:
    md5-ordered seeding, fixed Lloyd iterations, stable argmin. The
    prepared frame is persisted for the loop (dimension vote + seed +
    every iteration re-ran the whole preparation pipeline — for the
    residual trainer that includes the coarse-assignment Arrow pass)
    and released before returning."""
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _train_pq_vdf_inner(v, m, k_codes, spark)
    finally:
        v.unpersist()


def _train_pq_vdf_inner(v: DataFrame, m: int, k_codes: int,
                        spark) -> list[list[list[float]]]:
    dim_row = (
        v.filter(F.col("v").isNotNull())
        .groupBy(F.size("v").alias("d")).count()
        .orderBy(F.desc("count"), F.asc("d")).first()
    )
    if dim_row is None:
        return []
    dim = dim_row.d
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} sub-spaces")
    ds = dim // m
    clean = v.filter(
        (F.size("v") == dim)
        & ~F.exists("v", lambda x: x.isNull() | F.isnan(x))
    )
    seed_rows = (
        clean.orderBy(F.md5(F.col("vid").cast("string")), F.col("vid"))
        .limit(k_codes).select("v").collect()
    )
    if not seed_rows:
        return []
    k_codes = min(k_codes, len(seed_rows))
    books = [[list(r.v[s * ds:(s + 1) * ds]) for r in seed_rows[:k_codes]]
             for s in range(m)]
    for _ in range(2):  # the Lloyd rounds the PQ oracles unroll
        assign = _pq_assign_udf(spark, books)
        assigned = clean.withColumn("codes", assign(F.col("v")))
        means = (
            assigned.select("codes", F.posexplode("v").alias("pos", "x"))
            .withColumn("sub", (F.col("pos") / ds).cast("int"))
            .withColumn("code", F.col("codes")[F.col("sub")])
            .withColumn("dpos", F.col("pos") % ds)
            .groupBy("sub", "code", "dpos").agg(F.avg("x").alias("mv"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dpos", "mv"))).alias("pm"))
            .select("sub", "code", F.col("pm.mv").alias("cv"))
            .collect()
        )
        assign.bc.unpersist()
        new = {(r.sub, r.code): list(r.cv) for r in means}
        books = [[new.get((s, j), books[s][j]) for j in range(k_codes)]
                 for s in range(m)]
    return books


def pq_encode(items: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(id, codes) — the persistable compressed index: M small ints per
    vector (one row-local Arrow pass, no shuffle). This is the table a
    production pipeline stores and appends to; all future ADC scans read
    it instead of the float column."""
    if not books:
        # codebooks trained on a 0-row init set: every row degrades to
        # NULL codes (the mis-sized-vector convention), no numpy shape
        # crash in the broadcast setup
        return items.select(
            F.col("vec_id"), F.lit(None).cast("array<int>").alias("codes"))
    assign = _pq_assign_udf(items.sparkSession, books)
    return items.select(
        F.col("vec_id"),
        assign(_normalize(_as_double(F.col("embedding")))).alias("codes"),
    )


#: Hard ceiling on how many ANN probe vectors may be materialized on the
#: driver for ADC LUT construction. Probe sets are model-sized by contract
#: (a handful to a few thousand queries); anything larger indicates the
#: caller joined a corpus-sized frame on the query side, which would turn
#: this bounded collect into a driver OOM. Mirrors `plans/reinject.py`'s
#: limit(n+1)+raise idiom.
PQ_MAX_QUERIES = 100_000


def _pq_query_luts(spark, queries: DataFrame, books,
                   max_queries: int = PQ_MAX_QUERIES):
    """Collect the (bounded) query set and build each query's M×K ADC
    lookup table of sub-space inner products driver-side. Returns
    (collected query rows incl. raw vectors for exact re-rank, LUT
    DataFrame). Schemas are derived from the caller's id column type (ids
    need not be longs), and query rows whose vector length does not match
    the codebook's m·ds dimensionality are null-routed like mis-sized
    item vectors, not crashed on in the driver-side reshape. The collect
    is limit-capped at ``max_queries``: exceeding it raises instead of
    silently becoming a driver-side bottleneck."""
    C = np.asarray(books, dtype=np.float64)          # (M, K, ds)
    m_, _, ds = C.shape
    idt = queries.schema["vec_id"].dataType
    qrows = queries.select(
        F.col("vec_id").alias("query_id"),
        _normalize(_as_double(F.col("embedding"))).alias("qv"),
        _as_double(F.col("embedding")).alias("rv"),
    ).filter(F.col("qv").isNotNull()
             & (F.size("qv") == m_ * ds)
             & ~F.exists("qv", lambda x: x.isNull() | F.isnan(x))
             ).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"ANN query side exceeds max_queries={max_queries}: probe sets "
            "are model-sized by contract; a corpus-sized query frame must "
            "be batched by the caller, not collected to the driver")
    lut_rows = []
    for r in qrows:
        Q = np.asarray(r.qv, dtype=np.float64).reshape(m_, ds)
        lut = np.einsum("md,mkd->mk", Q, C)          # (M, K)
        lut_rows.append((r.query_id, [[float(x) for x in row] for row in lut]))
    lut_schema = T.StructType([
        T.StructField("query_id", idt),
        T.StructField("lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    q_lut = spark.createDataFrame(lut_rows, lut_schema) if lut_rows else None
    return qrows, q_lut


def _qvec_df(spark, qrows, idt, attr: str):
    """(query_id, qv) DataFrame from collected query rows — id typed from
    the source schema, vector taken from row attribute `attr`."""
    schema = T.StructType([
        T.StructField("query_id", idt),
        T.StructField("qv", T.ArrayType(T.DoubleType())),
    ])
    return spark.createDataFrame(
        [(r.query_id, list(getattr(r, attr))) for r in qrows], schema)


def _adc_sum(codes_col: Column, lut_col: Column, m: int) -> Column:
    """Unrounded ADC lookup sum — shared by `_adc_score` (which rounds)
    and the residual path (which adds the per-cell <q, centroid> constant
    BEFORE rounding)."""
    return _sum_unrolled([
        F.element_at(F.element_at(lut_col, j + 1),
                     F.element_at(codes_col, j + 1).cast("int") + 1)
        for j in range(m)
    ])


def _adc_score(codes_col: Column, lut_col: Column, m: int) -> Column:
    """Approximate similarity = sum over sub-spaces of lut[m][code[m]] —
    M array lookups + adds reading no vector data.

    UNROLLED into M plain element_at expressions rather than an
    aggregate/zip_with fold: higher-order functions evaluate interpreted
    in Catalyst, outside whole-stage codegen, and the fold dominated the
    per-row cost of the ADC scan (tools/stress_ann.py at 4M vectors × 8
    queries: 16.3 s → 12.5 s scan, 1.3×). M is always known at plan time
    (it is the codebook tensor's first axis). Bit-compatibility with the
    previous fold is exact: addition left-to-right in the same sub-space
    order, and the fold's 0.0+x0 == x0 — so every oracle hash is
    unchanged. NULL codes arrays yield NULL sums in both forms."""
    return F.round(_adc_sum(codes_col, lut_col, m), 6)


def _empty_topk(spark, queries: DataFrame, items: DataFrame,
                score: str = "cos_sim") -> DataFrame:
    """The typed empty result of an ANN path with no model or no usable
    query: (query_id, item_id, `score`, rnk), each id typed from its own
    side's schema, exactly as the non-empty path types it."""
    return spark.createDataFrame([], T.StructType([
        T.StructField("query_id", queries.schema["vec_id"].dataType),
        T.StructField("item_id", items.schema["vec_id"].dataType),
        T.StructField(score, T.DoubleType()),
        T.StructField("rnk", T.LongType()),
    ]))


def _adc_rank() -> Column:
    """The ADC candidate window: per query, row_number by approx_sim DESC,
    item_id ASC — a total order, so the top-n candidate set is
    deterministic."""
    return F.row_number().over(Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("item_id")))


def _pq_rerank(spark, cand: DataFrame, it: DataFrame, qrows, idt,
               books, k: int) -> DataFrame:
    """Exact cosine re-rank of the (query_id, item_id) ADC candidates:
    join back to the float item vectors `it.iv` by id and to the RAW
    (un-normalized) query vectors, so cos_sim is bit-identical to
    `cosine_topk` / the SQL oracle (cosine is scale-invariant
    mathematically, but not in floating point), then `_rerank_topk`."""
    qv = _qvec_df(spark, qrows, idt, "rv")
    dim = len(books) * len(books[0][0])
    scored = (
        cand.join(it.select("item_id", "iv"), "item_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "item_id",
                F.round(cosine(F.col("qv"), F.col("iv"), dim), 6).alias("cos_sim"))
    )
    return _rerank_topk(scored, k)


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                books: list[list[list[float]]], k: int = 5) -> DataFrame:
    """ADC-only top-k against a stored codes table — the query path of a
    maintained PQ index (`streaming/embedding_admission.py`): ranks purely
    on code lookups, touching NO float vectors (at scale the float column
    may be cold storage or gone). Returns (query_id, item_id, approx_sim,
    rnk); scores are the quantized inner-product approximations, ties
    broken by item id."""
    spark = codes.sparkSession
    # empty codebooks (trained on a 0-row init set — e.g. a fully pruned
    # partition) mean there is nothing to score: empty result, not a
    # driver-side shape crash
    qrows, q_lut = (None, None) if not books else _pq_query_luts(
        spark, queries, books)
    if q_lut is None:
        return _empty_topk(spark, queries, codes, "approx_sim")
    it = codes.select(F.col("vec_id").alias("item_id"), "codes") \
        .filter(F.col("codes").isNotNull())
    approx = (
        it.join(F.broadcast(q_lut))
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn("approx_sim", _adc_score(F.col("codes"), F.col("lut"), len(books)))
    )
    return (
        approx.withColumn("rnk", _adc_rank().cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "item_id", "approx_sim", "rnk")
    )


def pq_ann(items: DataFrame, queries: DataFrame, k: int = 5, m: int = 8,
           k_codes: int = 16, refine: int = 4) -> DataFrame:
    """Approximate top-k via PQ codes + ADC scan + exact re-rank.

    Plan shape (what survives a 100× scale-up):
      1. encode: one row-local Arrow pass → `codes` array<int> (the
         compressed index a production pipeline would PERSIST — M bytes a
         vector — and rescan for every future query batch without touching
         the float column);
      2. ADC scan: queries are collected (bounded, like `cosine_topk`'s
         broadcast contract) and each becomes an M×K lookup table of
         sub-space inner products; scoring an item is M array lookups +
         adds over its codes — a JVM-side fold, no Python, reading no
         vector data;
      3. top `k·refine` per query by approximate score (window, partial
         top-k per partition survives the shuffle);
      4. exact cosine re-rank of only those candidates (join back to the
         float vectors by id — touches `k·refine` rows per query).
    Returns (query_id, item_id, cos_sim, rnk) like every ANN path here —
    cos_sim is EXACT on the surviving candidates."""
    spark = items.sparkSession
    books = train_pq_codebooks(items, m, k_codes)
    if not books:
        return _empty_topk(spark, queries, items)
    assign = _pq_assign_udf(spark, books)
    it = items.select(
        F.col("vec_id").alias("item_id"),
        _as_double(F.col("embedding")).alias("iv"),
    ).withColumn("codes", assign(_normalize(F.col("iv"))))

    # per-query ADC lookup tables, built driver-side from the (bounded)
    # query set: lut[s][j] = <q_norm sub-space s, codebook[s][j]>
    qrows, q_lut = _pq_query_luts(spark, queries, books)
    if q_lut is None:
        return _empty_topk(spark, queries, items)

    approx = (
        it.join(F.broadcast(q_lut))
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn("approx_sim", _adc_score(F.col("codes"), F.col("lut"), len(books)))
    )
    cand = (
        approx.filter(F.col("codes").isNotNull())
        .withColumn("arnk", _adc_rank())
        .filter(F.col("arnk") <= k * refine)
        .select("query_id", "item_id")
    )
    return _pq_rerank(spark, cand, it, qrows,
                      queries.schema["vec_id"].dataType, books, k)


def ivfpq_ann(items: DataFrame, queries: DataFrame, k: int = 5,
              n_cells: int = 16, nprobe: int = 4, m: int = 8,
              k_codes: int = 16, refine: int = 4) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFADC shape, Jégou et al. TPAMI'11):
    IVF prunes WHICH vectors a query touches (each query ADC-scans only
    its `nprobe` of `n_cells` Voronoi cells — the candidate join shuffles
    on `cell`, not a broadcast over everything), PQ shrinks WHAT each
    touched vector costs (codes, not floats). The stored index is
    (id, cell, codes): at a billion vectors that is the table that fits
    where the float column cannot. Exact cosine re-ranks the top
    `k·refine` ADC candidates.

    One honest simplification vs FAISS: codes quantize the normalized
    vectors directly rather than the per-cell RESIDUALS (residual
    encoding needs cell-specific LUTs — nprobe× more LUT math — for a
    recall gain that matters at much higher dimensionality than the
    synthetic tables exercise); the contract stays a recall-gated
    approximation, like every ANN path here."""
    spark = items.sparkSession
    centroids = train_ivf_centroids(items, n_cells)
    books = train_pq_codebooks(items, m, k_codes)
    if not centroids or not books:
        return _empty_topk(spark, queries, items)
    assign1 = _probe_cells_udf(spark, centroids, nprobe=1)
    probe_n = _probe_cells_udf(spark, centroids, nprobe=nprobe, bc=assign1.bc)
    encode = _pq_assign_udf(spark, books)
    it = items.select(
        F.col("vec_id").alias("item_id"),
        _as_double(F.col("embedding")).alias("iv"),
    ).withColumn("nv", _normalize(F.col("iv"))) \
        .withColumn("cell", assign1(F.col("nv"))[0]) \
        .withColumn("codes", encode(F.col("nv"))) \
        .drop("nv")

    qrows, q_lut = _pq_query_luts(spark, queries, books)
    if q_lut is None:
        return _empty_topk(spark, queries, items)
    # per-query probed cells, from the SAME collected bounded query set
    idt = queries.schema["vec_id"].dataType
    qn = _qvec_df(spark, qrows, idt, "qv")
    q_cells = qn.withColumn("cell", F.explode(probe_n(F.col("qv")))) \
        .select("query_id", "cell").join(F.broadcast(q_lut), "query_id")

    approx = (
        it.filter(F.col("codes").isNotNull())
        .join(F.broadcast(q_cells), "cell")
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn("approx_sim", _adc_score(F.col("codes"), F.col("lut"), len(books)))
    )
    cand = approx.withColumn("arnk", _adc_rank()) \
        .filter(F.col("arnk") <= k * refine).select("query_id", "item_id")
    return _pq_rerank(spark, cand, it, qrows, idt, books, k)


def ivfpq_residual_ann(items: DataFrame, queries: DataFrame, nprobe: int = 4,
                       m: int = 8, refine: int = 4) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the actual FAISS IVFPQ (Jégou et
    al. TPAMI'11 §IV.B), lifting `ivfpq_ann`'s one declared
    simplification: PQ codes quantize r = x_norm − centroid(cell(x))
    instead of x_norm itself. Residuals concentrate near 0 with far less
    variance than raw vectors, so the same 16-byte code budget spends its
    resolution on the part of x the coarse quantizer did NOT explain —
    measured recall@5 improvement over direct encoding at equal
    nprobe/refine (see `measurements/ab_ivfpq_residual_r06.json` and the
    tightened `ivfpq_residual_recall_gate`).

    The standard trick keeps the LUT cost identical to direct encoding:
    with ONE shared residual codebook set, <q, x> ≈ <q, c> + <q, r̂> =
    <q, centroid_cell> + Σ_s lut[s][code_s] — the per-cell part is a
    SCALAR added per (query, probed cell), not a per-cell LUT rebuild.
    Plan shape is `ivfpq_ann` plus one broadcast join against the
    (16 × dim) centroid table for the residual subtraction
    (row-local zip_with) and one fold dot for the per-probe constant.

    Index = (id, cell, codes): same 100 TB posture as `ivfpq_ann` — the
    float column is only touched by the final exact re-rank of k·refine
    candidates per query."""
    k = 5
    spark = items.sparkSession
    centroids = train_ivf_centroids(items, 16)
    if not centroids:
        return _empty_topk(spark, queries, items)
    assign1 = _probe_cells_udf(spark, centroids, nprobe=1)
    probe_n = _probe_cells_udf(spark, centroids, nprobe=nprobe,
                               bc=assign1.bc)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        T.StructType([
            T.StructField("cell", T.IntegerType()),
            T.StructField("cvec", T.ArrayType(T.DoubleType())),
        ]))
    it_res = (
        items.select(F.col("vec_id").alias("item_id"),
                     _as_double(F.col("embedding")).alias("iv"))
        .withColumn("nv", _normalize(F.col("iv")))
        .withColumn("cell", assign1(F.col("nv"))[0])
        .join(F.broadcast(cdf), "cell")  # NULL cell (bad vector) drops out
        .withColumn("rvres", F.zip_with("nv", "cvec", lambda x, y: x - y))
    )
    books = _train_pq_vdf(
        spark,
        it_res.select(F.col("item_id").alias("vid"),
                      F.col("rvres").alias("v")),
        m, 16)
    if not books:
        return _empty_topk(spark, queries, items)
    encode = _pq_assign_udf(spark, books)
    it = it_res.withColumn("codes", encode(F.col("rvres"))) \
        .select("item_id", "iv", "cell", "codes")

    qrows, q_lut = _pq_query_luts(spark, queries, books)
    if q_lut is None:
        return _empty_topk(spark, queries, items)
    idt = queries.schema["vec_id"].dataType
    qn = _qvec_df(spark, qrows, idt, "qv")
    dim = len(books) * len(books[0][0])
    q_cells = (
        qn.withColumn("cell", F.explode(probe_n(F.col("qv"))))
        .join(F.broadcast(cdf), "cell")
        .withColumn("qc_ip", dot(F.col("qv"), F.col("cvec"), dim))
        .select("query_id", "cell", "qc_ip")
        .join(F.broadcast(q_lut), "query_id")
    )
    approx = (
        it.filter(F.col("codes").isNotNull())
        .join(F.broadcast(q_cells), "cell")
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn(
            "approx_sim",
            F.round(F.col("qc_ip")
                    + _adc_sum(F.col("codes"), F.col("lut"), len(books)),
                    6))
    )
    cand = approx.withColumn("arnk", _adc_rank()) \
        .filter(F.col("arnk") <= k * refine).select("query_id", "item_id")
    return _pq_rerank(spark, cand, it, qrows, idt, books, k)


def knn_label_propagation(labeled: DataFrame, unlabeled: DataFrame, k: int = 5,
                          dim: int | None = None) -> DataFrame:
    """Semi-supervised kNN LABEL PROPAGATION — auto-label a huge corpus
    from a small labeled seed (weak supervision's nearest-neighbor
    baseline): every unlabeled vector takes the MAJORITY label of its k
    exact cosine neighbors in the seed (vote-count desc, then smallest
    label — a total order, so the assignment is reproducible).

    Scale shape — the transpose of `cosine_topk`: the SEED side is
    broadcast (a labeled seed is model-sized, not corpus-sized) and the
    unlabeled CORPUS streams through once with row-local scoring; the
    only corpus-keyed shuffles are the per-vector top-k window and the
    vote rollup. At seed sizes past broadcast range, the candidate tier
    swaps to the banded-LSH / ADC paths (same pattern as every ANN
    operator here); the vote tail is unchanged."""
    q = _vec_side(unlabeled, "vec_id", _Q, dim)
    it = _vec_side(labeled, "vec_id", _I, dim, F.col("label").alias("_lbl"))
    scored = (
        q.join(F.broadcast(it), F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id", "_lbl",
                _cos_sim("qv", "iv", "qn", "inorm", dim))
    )
    topk = _rerank_topk(scored, k, extra=("_lbl",))
    votes = topk.groupBy("query_id", "_lbl") \
        .agg(F.count("*").alias("votes"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("_lbl"))
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(F.col("query_id").alias("vec_id"),
                F.col("_lbl").alias("pred_label"),
                F.col("votes").cast("long").alias("votes"))
    )
