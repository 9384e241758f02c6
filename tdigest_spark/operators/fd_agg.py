"""Distributed frequent-directions sketch over an embedding column.

The matrix sibling of ``tdigest_agg``: one pass over ``array<float>``
rows builds a mergeable ``ell x d`` spectral summary per group
(:class:`~tdigest_spark.sketch.fd.FrequentDirections` — Liberty 2013),
via the engine's standard shape: partition-local partials (Arrow
batches stacked into one numpy matmul-friendly block each) -> shuffle
of O(partitions x groups) blobs of ``ell x d`` doubles -> associative
merge. The raw embedding matrix (n x d — the thing that does NOT fit
anywhere at 100 TB) is never shuffled, collected, or materialized.

What it answers downstream: principal directions / spectral mass of
the corpus (PCA whitening for the IVF index, subspace drift between
crawls via :func:`fd_stats` on two snapshots, low-intrinsic-dimension
checks), each from a blob thousands of times smaller than the data.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..sketch.fd import FrequentDirections, stack_vectors

__all__ = [
    "fd_agg",
    "fd_merge_agg",
    "fd_stats",
    "fd_project",
    "subspace_overlap",
    "fd_subspace_drift",
]


# single shared vector-ingest policy (drop NULL/empty entries)
_batch_matrix = stack_vectors


def fd_agg(
    df: DataFrame,
    vec_col: str,
    ell: int,
    by: Sequence[str] = (),
    blob_col: str = "fd",
) -> DataFrame:
    """One frequent-directions blob per group over ``vec_col``
    (``array<float|double>``). The dimension is taken from the data;
    mixed dimensions raise (in the worker, surfacing the bad shard).
    Covariance guarantee per blob: the Gram deficit is PSD and at most
    ``shrink_total`` (a-posteriori, carried in the blob) — worst case
    ``2 ||A||_F^2 / ell``. Merge order does not affect the bound."""
    by = list(by)
    src = df.select(*by, vec_col)
    out_schema = T.StructType(
        [src.schema[c] for c in by] + [T.StructField(blob_col, T.BinaryType(), True)]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple, FrequentDirections] = {}
        for pdf in batches:
            groups = pdf.groupby(by, sort=False, dropna=False) if by else [((), pdf)]
            for key, g in groups:
                key = key if isinstance(key, tuple) else (key,)
                mat = _batch_matrix(g[vec_col])
                if mat is None:
                    continue
                acc = accs.get(key)
                if acc is None:
                    acc = accs[key] = FrequentDirections(ell, mat.shape[1])
                acc.add(mat)
        if not accs:
            return
        data: dict[str, list] = {c: [] for c in by}
        data[blob_col] = []
        for key, acc in accs.items():
            for c, k in zip(by, key):
                data[c].append(k)
            data[blob_col].append(acc.to_bytes())
        yield pd.DataFrame(data)

    partials = src.mapInPandas(build, out_schema)
    return fd_merge_agg(partials, blob_col=blob_col, by=by, _schema=out_schema)


def fd_merge_agg(
    df: DataFrame,
    blob_col: str = "fd",
    by: Sequence[str] = (),
    _schema: T.StructType | None = None,
) -> DataFrame:
    """Merge existing FD blob columns per group (rollups over
    checkpointed sketch tables — same role as ``sketch_merge_agg``)."""
    from .sketch_agg import _final_merge

    by = list(by)
    out_schema = _schema or T.StructType(
        [df.schema[c] for c in by] + [T.StructField(blob_col, T.BinaryType(), True)]
    )
    return _final_merge(df.select(*by, blob_col), {blob_col: "fd"}, by, out_schema)


def fd_stats(
    df: DataFrame, blob_col: str = "fd", top_k: int = 8
) -> DataFrame:
    """Spectral summary per FD blob: row count, total spectral mass
    (``frob_sq = ||A||_F^2``, exact), the a-posteriori Gram-deficit
    bound (``err_bound = shrink_total``), the worst-case bound
    ``2 frob_sq / ell``, and the top-``top_k`` singular values of the
    sketch (lower bounds on A's; the deficit bounds the gap)."""
    keep = [c for c in df.columns if c != blob_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("frob_sq", T.DoubleType(), True),
            T.StructField("err_bound", T.DoubleType(), True),
            T.StructField("worst_case_bound", T.DoubleType(), True),
            T.StructField("singular_values", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            n, fr, eb, wc, sv = [], [], [], [], []
            for b in pdf[blob_col]:
                o = FrequentDirections.from_bytes(bytes(b))
                s, _ = o.spectrum()
                n.append(o.n_rows)
                fr.append(o.frob_sq)
                eb.append(o.error_bound())
                wc.append(2.0 * o.frob_sq / o.ell)
                sv.append([float(x) for x in s[:top_k]])
            out["n_rows"] = pd.array(n, dtype="int64")
            out["frob_sq"] = pd.array(fr, dtype="float64")
            out["err_bound"] = pd.array(eb, dtype="float64")
            out["worst_case_bound"] = pd.array(wc, dtype="float64")
            out["singular_values"] = sv
            yield out

    return df.mapInPandas(evaluate, out_schema)


def subspace_overlap(
    a: FrequentDirections, b: FrequentDirections, k: int
) -> tuple[float, float] | None:
    """(overlap, max_principal_angle) between the top-``k`` principal
    subspaces of two FD sketches — the embedding-space drift metric.

    With Va, Vb the orthonormal top-k right singular vectors, the
    singular values of ``Va @ Vb.T`` are the cosines of the principal
    angles (Bjorck–Golub 1973); ``overlap = ||Va Vb^T||_F^2 / k`` is 1
    for identical subspaces and E[k/d]-ish for random ones, and the
    max principal angle (radians) is the worst-aligned direction.
    None if either sketch holds fewer than k directions."""
    if (a.ell, a.d) != (b.ell, b.d):
        raise ValueError("FD shape mismatch")
    _, va = a.spectrum()
    _, vb = b.spectrum()
    if len(va) < k or len(vb) < k:
        return None
    cos = np.linalg.svd(va[:k] @ vb[:k].T, compute_uv=False)
    overlap = float((cos**2).sum() / k)
    angle = float(np.arccos(np.clip(cos.min(), -1.0, 1.0)))
    return overlap, angle


def fd_subspace_drift(
    a: DataFrame,
    b: DataFrame,
    k: int,
    by: Sequence[str] = (),
    blob_col: str = "fd",
    how: str = "inner",
) -> DataFrame:
    """Per-group subspace drift between two FD blob tables (reference
    ``a`` vs candidate ``b``) — "did the dominant directions of this
    crawl's embedding space move?". Same plan shape as
    :func:`~tdigest_spark.operators.drift.digest_drift`: both sides
    are O(groups) blob tables, ``b`` broadcasts, metrics run in one
    Arrow pass. Outputs ``subspace_overlap`` (1 = identical top-k
    subspace) and ``max_principal_angle`` (radians), NULL where a side
    is absent (``how="full"``/"left" keeps one-sided groups) or holds
    fewer than k directions."""
    by = list(by)
    da, db = "__fd_a", "__fd_b"
    left = a.select(*by, F.col(blob_col).alias(da))
    right = b.select(*by, F.col(blob_col).alias(db))
    joined = (
        left.join(F.broadcast(right), on=by, how=how)
        if by
        else left.crossJoin(F.broadcast(right))
    )
    out_schema = T.StructType(
        [joined.schema[c] for c in by]
        + [
            T.StructField("subspace_overlap", T.DoubleType(), True),
            T.StructField("max_principal_angle", T.DoubleType(), True),
        ]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[by].copy() if by else pd.DataFrame(index=pdf.index)
            ov, ang = [], []
            for ba, bb in zip(pdf[da], pdf[db]):
                res = None
                if ba is not None and bb is not None:
                    res = subspace_overlap(
                        FrequentDirections.from_bytes(bytes(ba)),
                        FrequentDirections.from_bytes(bytes(bb)),
                        k,
                    )
                ov.append(None if res is None else res[0])
                ang.append(None if res is None else res[1])
            out["subspace_overlap"] = pd.array(ov, dtype="float64")
            out["max_principal_angle"] = pd.array(ang, dtype="float64")
            yield out

    return joined.mapInPandas(evaluate, out_schema)


def fd_project(
    df: DataFrame,
    vec_col: str,
    components: np.ndarray,
    out_col: str = "projected",
) -> DataFrame:
    """Project every embedding onto ``components`` (a k x d array —
    e.g. the top rows of :meth:`FrequentDirections.spectrum`): the
    dimensionality-reduction step feeding the IVF index or a 2-D map.
    The k x d matrix ships once in the serialized closure (O(k·d)
    bytes); rows are projected in place per Arrow batch — one matmul
    per batch, no shuffle, no join."""
    comp = np.ascontiguousarray(components, dtype=np.float64)
    if comp.ndim != 2:
        raise ValueError(f"components must be 2-D (k x d), got shape {comp.shape}")
    keep = list(df.columns)
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(out_col, T.ArrayType(T.DoubleType()), True)]
    )

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            vals = pdf[vec_col]
            # the shared ingest policy: NULL AND empty vectors project
            # to NULL (an empty list passes notna() but would make the
            # stack ragged)
            ok = vals.map(lambda v: v is not None and len(v) > 0)
            if ok.any():
                mat = stack_vectors(vals[ok])
                proj = mat @ comp.T
                it = iter(proj)
                res = [list(next(it)) if m else None for m in ok]
            else:
                res = [None] * len(pdf)
            out[out_col] = res
            yield out

    return df.mapInPandas(project, out_schema)
