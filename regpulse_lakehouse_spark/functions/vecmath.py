"""Arrow-batched vector math (Pandas UDFs) for the heavy ANN/near-dup
paths.

PySpark's higher-order functions (``aggregate``/``zip_with``/
``transform``) do not participate in whole-stage codegen — each lambda
application is interpreted and boxes every array element. For a 64-dim
cosine that is ~200 boxed ops per row; over millions of candidate pairs
the interpreter + allocation pressure dominates (and the resulting GC
churn degrades the whole executor). A vectorized numpy matmul over an
Arrow batch does the same work in microseconds per thousand rows, so
these hot paths use Pandas UDFs by design (the exception called out in
the 'UDFs are the slow path' rule: Arrow-batched beats interpreted HOF
by 10-100×).

The small oracle-checked queries keep the pure-JVM HOF forms
(operators/vector.py::cosine) — bit-for-bit portable and fast enough at
oracle scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F, types as T


def _stack(s: pd.Series) -> np.ndarray:
    """Series of list/ndarray → (n, dim) float64 matrix."""
    return np.asarray([np.asarray(v, dtype=np.float64) for v in s])


@F.pandas_udf(T.DoubleType())
def cosine_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine similarity of two array columns (numpy batch).
    NULL-safe on zero vectors (returns NaN→None upstream semantics are
    preserved by Spark's NaN handling in comparisons used here)."""
    if not len(a):
        return pd.Series([], dtype="float64")
    ma, mb = _stack(a), _stack(b)
    dots = np.einsum("ij,ij->i", ma, mb)
    denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(denom > 0, dots / denom, np.nan)
    return pd.Series(out)


# Duplication-guarded variant for score-then-filter/score-then-window
# paths: a deterministic Python UDF referenced by both a projection and
# the predicate/window above it gets CLONED by ProjectCollapse into two
# chained ArrowEvalPython stages — every candidate pair crosses Python
# twice for the same number. The nondeterministic flag (the function is
# in fact deterministic) forbids the clone. Use this one wherever the
# cosine feeds a filter or row_number in the same plan.
cosine_pd_once = cosine_pd.asNondeterministic()


def band_buckets_udf(planes: np.ndarray, n_bands: int):
    """Build a Pandas UDF: embedding → array of n_bands packed band
    buckets (sign-LSH). ``planes`` is (n_planes, dim); bands split the
    sign bits evenly. One matmul per Arrow batch."""
    n_planes = planes.shape[0]
    r = n_planes // n_bands
    weights = (1 << np.arange(r, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def f(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        m = _stack(v)  # (n, dim)
        bits = (m @ planes.T) >= 0  # (n, n_planes)
        out = [
            [int(bits[i, b * r : (b + 1) * r].astype(np.int64) @ weights) for b in range(n_bands)]
            for i in range(bits.shape[0])
        ]
        return pd.Series(out)

    # nondeterministic marking is the duplication guard, not a semantic
    # claim (the function IS deterministic): ProjectCollapse clones
    # deterministic Python UDF expressions when a projection references
    # the output twice (select _bks + posexplode(_bks)), leaving two
    # stacked ArrowEvalPython stages that bucket the FULL corpus twice.
    # Marked nondeterministic, the optimizer must keep one evaluation —
    # measured: 6 -> 3 Python stages on the embedding near-dup plan.
    return f.asNondeterministic()


def train_centroids(sample: np.ndarray, n_centroids: int, n_iter: int = 8) -> np.ndarray:
    """Deterministic spherical k-means over a (bounded, driver-side)
    training sample: stride init over the sample rows, fixed ``n_iter``
    Lloyd iterations on unit vectors, empty cells keep their previous
    centroid. No RNG — same sample → same centroids on every run."""
    n = sample.shape[0]
    stride = max(1, n // n_centroids)
    cents = sample[::stride][:n_centroids].astype(np.float64).copy()
    if cents.shape[0] < n_centroids:  # tiny sample: pad by repeating
        reps = -(-n_centroids // max(1, cents.shape[0]))
        cents = np.tile(cents, (reps, 1))[:n_centroids]
    norms = np.linalg.norm(sample, axis=1)
    norms[norms == 0] = 1.0
    unit = sample / norms[:, None]
    for _ in range(n_iter):
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0] = 1.0
        cell = np.argmax(unit @ (cents / cn[:, None]).T, axis=1)
        for k in range(n_centroids):
            members = cell == k
            if members.any():
                cents[k] = unit[members].mean(axis=0)
    return cents


def top_cells_udf(centroids: np.ndarray, n_probe: int):
    """Build a Pandas UDF: embedding → the ``n_probe`` nearest-centroid
    indices by cosine, best first (stable order on ties). The IVF probe
    step as a cluster-side expression — one matmul + partial argsort per
    Arrow batch, so probe selection scales with executors instead of
    collecting the query set to the driver."""
    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    normed = centroids / norms[:, None]
    n_probe = min(n_probe, centroids.shape[0])

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def f(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        m = _stack(v)
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0] = 1.0
        sims = (m / mn[:, None]) @ normed.T  # (n, k)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    # same duplication guard as band_buckets_udf: the caller selects
    # the array AND explodes it in the next projection, and a
    # deterministic Python UDF referenced twice gets cloned by
    # ProjectCollapse into two stacked ArrowEvalPython stages — the
    # cell-assignment matmul would run twice over the full corpus.
    return f.asNondeterministic()


def argmax_cell_udf(centroids: np.ndarray):
    """Build a Pandas UDF: embedding → nearest-centroid index by cosine.
    ``centroids`` is (k, dim); one matmul per Arrow batch."""
    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    normed = centroids / norms[:, None]

    @F.pandas_udf(T.IntegerType())
    def f(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int32")
        m = _stack(v)
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0] = 1.0
        sims = (m / mn[:, None]) @ normed.T  # (n, k)
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return f


def train_centroids_l2(sample: np.ndarray, k: int, n_iter: int = 8) -> np.ndarray:
    """Deterministic EUCLIDEAN k-means (stride init over sample rows,
    fixed Lloyd iterations, empty cells keep their previous centroid) —
    the subspace quantizer PQ needs: product quantization minimizes L2
    reconstruction error per subvector, where the spherical/cosine
    variant above would discard subvector magnitude. No RNG — same
    sample → same codebook on every run."""
    n = sample.shape[0]
    stride = max(1, n // k)
    cents = sample[::stride][:k].astype(np.float64).copy()
    if cents.shape[0] < k:  # tiny sample: pad by repeating
        reps = -(-k // max(1, cents.shape[0]))
        cents = np.tile(cents, (reps, 1))[:k]
    sq = (sample**2).sum(axis=1, keepdims=True)  # loop-invariant
    for _ in range(n_iter):
        # squared L2 via the expansion trick: one matmul per iteration,
        # accumulated IN PLACE — the n×k distance matrix is the big
        # allocation here and the chained expression form materialized
        # three of them per iteration (measured as most of train_pq's
        # driver wall; addition order is unchanged, so the distances
        # and assignments are bitwise-identical to the old form)
        d2 = sample @ cents.T
        d2 *= -2.0
        d2 += sq
        d2 += (cents**2).sum(axis=1)
        cell = np.argmin(d2, axis=1)
        # centroid update via ONE stable sort + per-cell slice means:
        # the k=256 boolean-mask loop this replaces cost ~2/3 of
        # train_pq's wall (16k tiny mask scans per build, r16 profile).
        # A stable sort keeps each cell's rows in original order, so
        # sample[rows].mean() sees the identical array the masked
        # update saw — bitwise-identical centroids, empty cells keep
        # their previous value exactly as before.
        order = np.argsort(cell, kind="stable")
        bounds = np.searchsorted(cell[order], np.arange(k + 1))
        for j in range(k):
            s, e = bounds[j], bounds[j + 1]
            if s != e:
                cents[j] = sample[order[s:e]].mean(axis=0)
    return cents


def pq_encode_udf(codebooks: np.ndarray):
    """Build a Pandas UDF: embedding → array<int> of M subspace codes.
    ``codebooks`` is (m, k, dsub); encoding is M small argmin-L2
    matmuls per Arrow batch."""
    m, k, dsub = codebooks.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def f(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        x = _stack(v)  # (n, dim)
        n = x.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            cb = codebooks[j]
            d2 = (
                (sub**2).sum(axis=1, keepdims=True)
                - 2.0 * (sub @ cb.T)
                + (cb**2).sum(axis=1)
            )
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return f


def pq_decode_udf(codebooks: np.ndarray):
    """Build a Pandas UDF: codes → reconstructed embedding (the
    concatenated codebook entries)."""
    m, k, dsub = codebooks.shape

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def f(codes: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series([], dtype="object")
        out = []
        for row in codes:
            idx = np.asarray(row, dtype=np.int64)
            out.append(
                np.concatenate([codebooks[j, idx[j]] for j in range(m)]).tolist()
            )
        return pd.Series(out)

    return f


def pq_adc_score_udf(codebooks: np.ndarray):
    """Build a Pandas UDF: (codes, query_vector) → approximate inner
    product via Asymmetric Distance Computation — the query stays
    full-precision, candidates stay 4-byte-per-subspace codes. Per
    Arrow batch the (m × k) lookup table is built ONCE per distinct
    query in the batch (one small matmul), then every candidate scores
    as M table lookups — no decode, no full-width arithmetic per row."""
    m, k, dsub = codebooks.shape

    @F.pandas_udf(T.DoubleType())
    def f(codes: pd.Series, qv: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series([], dtype="float64")
        tables: dict[bytes, np.ndarray] = {}
        out = np.empty(len(codes), dtype=np.float64)
        code_mat = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
        offsets = np.arange(m, dtype=np.int64) * k
        for i, q in enumerate(qv):
            qa = np.asarray(q, dtype=np.float64)
            key = qa.tobytes()
            tab = tables.get(key)
            if tab is None:
                # T[j, c] = <q_sub_j, codebook[j][c]>
                tab = np.einsum(
                    "jd,jkd->jk", qa.reshape(m, dsub), codebooks
                ).ravel()
                tables[key] = tab
            out[i] = tab[offsets + code_mat[i]].sum()
        return pd.Series(out)

    return f
