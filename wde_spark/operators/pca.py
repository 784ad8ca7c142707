"""Distributed PCA via power iteration — the classic dense-corpus
dimensionality probe (leading principal component of the embedding
cloud), shaped for the engine's bounded-driver-state discipline.

Why power iteration and not a matrix factorization: at 100 TB the data
matrix never materializes — but X·v and Xᵀ(X·v) are ONE aggregation pass
each over the rows (per-dimension sums, map-side combined), and the only
state that ever leaves the executors is the dim-sized iterate itself —
the same class as IVF centroids (`similarity.train_ivf_centroids`) or
the BPE argmax row. Each Lloyd-style iteration is:

    t_x = (x − μ) · v          -- per-row dot, column arithmetic only
    w   = Σ_x t_x (x − μ)      -- dim per-dimension SUMs in one agg row
    v   = w / ‖w‖              -- driver-side normalize (dim doubles)

Convergence is geometric in the eigengap; a PINNED iteration count keeps
the model replayable by a declarative engine (the unrolled-SQL-oracle
discipline of the k-means and BPE trainers). The deterministic init
comes from the md5 hyperplane family (`similarity.hyperplanes`) — no RNG
state, identical on every engine/run, and orthogonal-ish to any single
data direction with overwhelming probability, so the iterate can't start
in the (measure-zero) null space of Σ.

Top-k components: deflate (subtract λ v vᵀ projections from the scores,
i.e. re-run on x − (x·v₁)v₁) — each extra component is the same
two-pass iteration. Only PC1 is registered as a query; the operator
takes any init/seed so deflation composes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from .similarity import hyperplanes

#: Width of the `embeddings` vectors every entry point here reads.
_DIM = 64

# SQL-string twins of per-dimension Column expressions. The power-iteration
# loops issue hundreds of Column API calls per pass (each one a driver
# round trip, ~1 ms — the measured cost of a pass was expression BUILD,
# not data); one selectExpr call with pre-rendered strings is ~10x
# cheaper to construct and analyzes the same tree. `repr(float)` is the
# shortest round-trip form and CAST('<repr>' AS DOUBLE) parses back to
# the bit-identical double, so the SQL twin computes exactly what the
# Column form did.

def _d(val: float) -> str:
    return f"CAST('{val!r}' AS DOUBLE)"


def _x_sql(i: int) -> str:
    return f"CAST(`embedding`[{i}] AS DOUBLE)"


def power_iteration_pc1(emb: DataFrame) -> tuple[list[float], list[float]]:
    """(mu, v): the per-dimension mean and the unit leading-eigenvector
    estimate of the centered covariance after 3 power iterations.
    Driver traffic: one dim-wide row per iteration plus one for the mean
    — bounded model state, never rows."""
    mu_row = emb.selectExpr(
        "COUNT(1) AS _n",
        *[f"AVG({_x_sql(i)}) AS m{i}" for i in range(_DIM)]
    ).first()

    v = hyperplanes(_DIM, 1, "pca")[0]
    nrm = math.sqrt(sum(c * c for c in v))
    v = [c / nrm for c in v]

    if mu_row is None or mu_row["_n"] == 0:
        # empty corpus (the date-filter-leaves-zero-rows case): no model
        # to fit — zero mean + the init direction keep projection total.
        # Emptiness is a ROW COUNT, not m0-is-NULL — a corpus whose
        # dimension 0 happens to be all NULL still gets fitted on the
        # remaining dimensions (NULL means coalesce to 0.0).
        return [0.0] * _DIM, v
    mu = [float(mu_row[f"m{i}"]) if mu_row[f"m{i}"] is not None else 0.0
          for i in range(_DIM)]

    cs = [f"({_x_sql(i)} - {_d(mu[i])})" for i in range(_DIM)]
    for _ in range(3):
        # project the per-row dot ONCE, then aggregate c_i * t over the
        # projection: same values in the same per-partition order (the
        # projection adds no exchange), so the sums are bit-identical to
        # inlining t into all dim aggregates — but the tree is O(dim) +
        # dim small products instead of O(dim²), which is what the
        # build/analysis/codegen cost of each pass actually was.
        # SQL `+` is left-associative, matching the Column-fold order.
        t_sql = " + ".join(f"{cs[i]} * {_d(v[i])}" for i in range(_DIM))
        w_row = (
            emb.selectExpr(f"({t_sql}) AS _t",
                           *[f"{cs[i]} AS c{i}" for i in range(_DIM)])
            .selectExpr(*[f"SUM(c{i} * _t) AS w{i}" for i in range(_DIM)])
            .first()
        )
        if w_row is None:
            break
        w = [float(w_row[f"w{i}"]) if w_row[f"w{i}"] is not None else 0.0
             for i in range(_DIM)]
        nrm = math.sqrt(sum(c_ * c_ for c_ in w))
        if nrm == 0.0:  # degenerate corpus (all rows identical)
            break
        v = [c_ / nrm for c_ in w]
    return mu, v


def pca_project(emb: DataFrame, mu: list[float], v: list[float],
                score_col: str = "pc1_score") -> DataFrame:
    """(id, score): each vector's coordinate along the component —
    centered dot product, pure column arithmetic (whole-stage codegen),
    rounded to 6 dp for engine-replayable output. The score is the
    standard embedding-cloud diagnostic: extreme |score| rows are the
    corpus's dominant-direction outliers, and score quantiles drive
    variance-balanced sharding."""
    dim = len(v)
    t_sql = " + ".join(
        f"({_x_sql(i)} - {_d(mu[i])}) * {_d(v[i])}"
        for i in range(dim))
    return emb.selectExpr("`vec_id`", f"ROUND(({t_sql}), 6) AS {score_col}")


def power_iteration_components(
    emb: DataFrame,
) -> tuple[list[float], list[list[float]]]:
    """(mu, [v1, v2, ...]): the top `n_components` principal directions
    by DEFLATED power iteration — component j runs the same two-pass
    iteration on the residual x − μ − Σ_{l<j} ((x−μ)·v_l) v_l, with the
    already-found directions folded in as LITERALS (pure column
    arithmetic, no extra data pass for the deflation itself). Init for
    component j is md5 hyperplane j of the seed family. Driver state:
    (n_components+1) dim-wide rows total per iteration sweep."""
    n_components = 2
    mu_row = emb.selectExpr(
        "COUNT(1) AS _n",
        *[f"AVG({_x_sql(i)}) AS m{i}" for i in range(_DIM)]
    ).first()
    inits = hyperplanes(_DIM, n_components, "pca")
    comps: list[list[float]] = []
    if mu_row is None or mu_row["_n"] == 0:
        # row-count emptiness (not m0-is-NULL) — see power_iteration_pc1
        for v in inits:
            nrm = math.sqrt(sum(c * c for c in v))
            comps.append([c / nrm for c in v])
        return [0.0] * _DIM, comps
    mu = [float(mu_row[f"m{i}"]) if mu_row[f"m{i}"] is not None else 0.0
          for i in range(_DIM)]

    # The residual lives as NAMED columns and each deflation is
    # localCheckpoint-ed (the BPE-trainer lineage discipline): building
    # the deflated cloud symbolically would inline the dim-term PC1 dot
    # into every one of the dim deflation columns — an O(dim²·dim)
    # expression tree Catalyst chokes on. Cost: one O(n·dim) residual
    # materialization per EXTRA component, same order as one data pass.
    cn = [f"c{i}" for i in range(_DIM)]
    work = emb.selectExpr(
        *[f"({_x_sql(i)} - {_d(mu[i])}) AS c{i}"
          for i in range(_DIM)]).localCheckpoint()

    def _t_sql(v: list[float]) -> str:
        # SQL `+` is left-associative, matching the old Column fold
        return " + ".join(f"{cn[i]} * {_d(v[i])}" for i in range(_DIM))

    for j in range(n_components):
        v = inits[j]
        nrm = math.sqrt(sum(cv * cv for cv in v))
        v = [cv / nrm for cv in v]
        for _ in range(3):
            # same projected-dot restructure as power_iteration_pc1:
            # bit-identical sums, O(dim) tree instead of O(dim²)
            w_row = (
                work.selectExpr(f"({_t_sql(v)}) AS _t", *cn)
                .selectExpr(*[f"SUM(c{i} * _t) AS w{i}"
                              for i in range(_DIM)])
                .first()
            )
            if w_row is None:
                break
            w = [float(w_row[f"w{i}"]) if w_row[f"w{i}"] is not None
                 else 0.0 for i in range(_DIM)]
            nrm = math.sqrt(sum(c_ * c_ for c_ in w))
            if nrm == 0.0:
                break
            v = [c_ / nrm for c_ in w]
        comps.append(v)
        if j < n_components - 1:
            work = (
                work.selectExpr(f"({_t_sql(v)}) AS _t", *cn)
                .selectExpr(*[f"(c{i} - (_t * {_d(v[i])})) AS c{i}"
                              for i in range(_DIM)])
                .localCheckpoint()
            )
    return mu, comps


def pca_project_components(emb: DataFrame, mu: list[float],
                           comps: list[list[float]]) -> DataFrame:
    """(id, pc1_score, pc2_score, ...): coordinates along each deflated
    component — score j is the residual-after-j-1-deflations dotted with
    v_j, exactly the quantity the trainer iterated on. Staged through
    NAMED intermediate columns (each projection's trees stay dim-term;
    the dot is aliased before the deflation columns reference it, and
    CollapseProject keeps non-cheap multiply-referenced expressions
    staged) — all column arithmetic, no materialization. Rounded to
    6 dp."""
    dim = len(mu)
    cn = [f"c{i}" for i in range(dim)]
    cur = emb.selectExpr(
        "`vec_id`",
        *[f"({_x_sql(i)} - {_d(mu[i])}) AS c{i}"
          for i in range(dim)])
    n = len(comps)
    for j, vl in enumerate(comps, start=1):
        t_sql = " + ".join(f"{cn[i]} * {_d(vl[i])}" for i in range(dim))
        prev = [f"t{l}" for l in range(1, j)]
        cur = cur.selectExpr("`vec_id`", *prev, f"({t_sql}) AS t{j}", *cn)
        if j < n:
            cur = cur.selectExpr(
                "`vec_id`", *prev, f"t{j}",
                *[f"(c{i} - (t{j} * {_d(vl[i])})) AS c{i}"
                  for i in range(dim)])
    return cur.selectExpr(
        "`vec_id`",
        *[f"ROUND(t{j}, 6) AS pc{j}_score" for j in range(1, n + 1)])


def second_moments(emb: DataFrame) -> DataFrame:
    """MERGEABLE moment state of an embedding batch — the streaming-PCA
    representation: one (n, s[dim], m[dim²]) row per Arrow partition,
    where s = Σx and m = ΣxxT (flattened row-major). Moments are
    ASSOCIATIVE state (add them), so batches/partitions/corpus versions
    merge exactly like the engine's sketches (`operators/sketches.py`) —
    the model (mean + covariance + principal components) derives from
    STATE, never from a second data pass. The accumulation is a numpy
    matmul per Arrow batch (`X.T @ X` — the declared Arrow kernel, BLAS
    inside); rows with NULL/wrong-dim vectors are skipped symmetrical to
    the oracle's validity filter. Per-partition output is 1 row of
    dim²+dim+1 doubles — bounded by cluster width, not data (the
    `layout.global_prefix_sum` bucket-totals class)."""
    import numpy as np
    import pandas as pd

    def _mom(batches):
        n = 0
        s = np.zeros(_DIM)
        m = np.zeros((_DIM, _DIM))
        for pdf in batches:
            vals = [v for v in pdf["embedding"]
                    if v is not None and len(v) == _DIM]
            if not vals:
                continue
            X = np.array(vals, dtype=np.float64)
            if not np.isfinite(X).all():
                X = X[np.isfinite(X).all(axis=1)]
            n += X.shape[0]
            s += X.sum(axis=0)
            m += X.T @ X
        yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                            "m": [m.flatten().tolist()]})

    return emb.select("embedding").mapInPandas(
        _mom, "n long, s array<double>, m array<double>")


def merge_moments(
    *moment_dfs: DataFrame,
) -> tuple[int, list[float], list[float]]:
    """Sum the per-partition moment rows of any number of batches into
    ONE (n, s, m) state — the merge is plain addition (associative +
    commutative), which is what makes the moments maintainable across
    micro-batches/corpus versions. Driver traffic: one dim²-wide row per
    PARTITION (bounded by cluster width — the 256-bucket-totals class),
    never corpus rows."""
    import numpy as np

    n = 0
    s = np.zeros(_DIM)
    m = np.zeros(_DIM * _DIM)
    for df in moment_dfs:
        for row in df.collect():  # one row per partition: bounded state
            n += row["n"]
            if row["n"]:
                s += np.array(row["s"])
                m += np.array(row["m"])
    return int(n), s.tolist(), m.tolist()


def pc1_from_moments(n: int, s: list[float],
                     m: list[float]) -> tuple[list[float], list[float]]:
    """(mu, v) from merged moment state: covariance
    C = ΣxxT/n − mu muT (dim×dim — model-sized), then 3 power
    iterations of the MATRIX on the driver (a dim² matvec — micro-work
    once the state exists; no data pass at all). Same md5 init family
    and pinned-iteration discipline as the data-pass trainer."""
    dim = len(s)
    if n == 0:
        v = hyperplanes(dim, 1, "pcacov")[0]
        nrm = math.sqrt(sum(c * c for c in v))
        return [0.0] * dim, [c / nrm for c in v]
    mu = [s[i] / n for i in range(dim)]
    C = [[m[i * dim + j] / n - mu[i] * mu[j] for j in range(dim)]
         for i in range(dim)]
    v = hyperplanes(dim, 1, "pcacov")[0]
    nrm = math.sqrt(sum(c * c for c in v))
    v = [c / nrm for c in v]
    for _ in range(3):
        w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        nrm = math.sqrt(sum(c * c for c in w))
        if nrm == 0.0:
            break
        v = [c / nrm for c in w]
    return mu, v
