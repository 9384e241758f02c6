"""Deterministic sampling operators for training-data pipelines.

Every operator here is keyed on ``xxhash64`` of a row key, never on
``rand()``: the sample is a pure function of (key, seed), so it is
reproducible across runs, stable under repartitioning/AQE/speculative
retries, consistent between two tables sharing the key (the same url
lands in the same split of every derived table), and resumable — all
properties ``df.sample()``'s per-partition RNG does not give. The hash
compiles to whole-stage-codegen JVM expressions; the only Python stage
is the bounded top-k merge in :func:`sample_k`.

Scale shapes:

- :func:`hash_sample` / :func:`stratified_sample` / :func:`split_by_hash`
  are pure narrow filters — no shuffle at all, pushdown-friendly.
- :func:`sample_k` (exact k-row uniform/weighted sample per group)
  keeps k candidates per partition per group first, so the shuffle is
  O(partitions x groups x k) candidate rows, never the input — the
  window-sort idiom (``row_number() over (order by rand())``) would
  shuffle and sort EVERY row at 100 TB.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

__all__ = ["hash_sample", "stratified_sample", "split_by_hash", "sample_k"]

# xxhash64 returns a uniform signed 64-bit value; map it to [0, 1).
_TWO63 = float(1 << 63)
_TWO64 = float(1 << 64)


def _unit_hash(key_cols: Sequence[str], seed: int) -> Column:
    """Deterministic uniform-[0,1) column from xxhash64(keys, seed).

    NULL keys hash like any value (xxhash64 treats NULL as a fixed
    token), so NULL-keyed rows get a stable split too.
    """
    h = F.xxhash64(*[F.col(c) for c in key_cols], F.lit(int(seed)))
    return (h.cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)


def hash_sample(
    df: DataFrame,
    key_cols: str | Sequence[str],
    fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Keep rows whose ``xxhash64(key, seed)`` falls in the lowest
    ``fraction`` of hash space. Deterministic, repartition-stable,
    key-consistent (every row with the same key is kept or dropped
    together — dedup-safe). A plain narrow filter: no shuffle, and
    Catalyst pushes it below projections."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return df.filter(_unit_hash(keys, seed) < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    by: str,
    fractions: dict,
    key_cols: str | Sequence[str],
    default: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum :func:`hash_sample`: ``fractions`` maps a value of
    column ``by`` to its keep-fraction; strata not listed keep
    ``default`` (0 = drop — make the policy explicit, don't silently
    pass unknown strata through). The rebalancing move of a curation
    pipeline (e.g. downsample English to 10%, keep low-resource
    languages whole) as one codegen filter — no shuffle, no
    per-stratum jobs."""
    for v, f in fractions.items():
        if not (0.0 <= f <= 1.0):
            raise ValueError(f"fraction for stratum {v!r} must be in [0, 1], got {f}")
    if not (0.0 <= default <= 1.0):
        raise ValueError(f"default fraction must be in [0, 1], got {default}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    frac = F.lit(float(default))
    for v, f in fractions.items():
        frac = F.when(F.col(by) == F.lit(v), F.lit(float(f))).otherwise(frac)
    return df.filter(_unit_hash(keys, seed) < frac)


def split_by_hash(
    df: DataFrame,
    key_cols: str | Sequence[str],
    weights: dict[str, float],
    split_col: str = "split",
    seed: int = 0,
) -> DataFrame:
    """Label every row with a deterministic split (train/val/test...):
    ``weights`` maps split name -> proportion (must sum to 1). The
    hash space is cut into contiguous ranges, so splits are exactly
    disjoint and exhaustive, stable across runs AND across tables
    sharing the key — the property that prevents train/test leakage
    when documents and their embeddings live in different tables.
    Adds ``split_col``; filter on it per consumer (the filter is a
    pushdown-friendly codegen predicate)."""
    names = list(weights)
    total = float(sum(weights.values()))
    if not names or abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    u = _unit_hash(keys, seed)
    cut = 0.0
    expr = F.lit(names[-1])  # final range catches u up to 1.0 exactly
    conds = []
    for n in names[:-1]:
        cut += float(weights[n])
        conds.append((cut, n))
    for cut_v, n in reversed(conds):
        expr = F.when(u < F.lit(cut_v), F.lit(n)).otherwise(expr)
    return df.withColumn(split_col, expr)


def sample_k(
    df: DataFrame,
    k: int,
    key_cols: str | Sequence[str],
    by: Sequence[str] = (),
    weight_col: str | None = None,
    seed: int = 0,
    rank_col: str | None = None,
) -> DataFrame:
    """EXACTLY k rows per group, uniformly at random (or
    weight-proportional without replacement), deterministic in
    (key, seed). Groups smaller than k are kept whole.

    Rows get rank key ``u = unit_hash(key, seed)``; unweighted, the k
    smallest u per group are a uniform k-subset. With ``weight_col``,
    the Efraimidis–Spirakis exponential keys ``-ln(1-u)/w`` (smallest
    k win) give probability-proportional-to-weight sampling without
    replacement — the standard mergeable formulation. Non-positive /
    NULL weights are excluded (consistent with the digest builders'
    weight policy).

    Plan shape: partition-local top-k (Arrow batch heaps) -> shuffle
    of O(partitions x groups x k) candidates -> per-group merge top-k.
    The input never shuffles; there is no full sort. This is the
    row-level sibling of the KMV sketch (k smallest hashes over
    DISTINCT keys); `sample_k` samples ROWS, so duplicated keys get
    sampled once per key (all duplicates share u — pass a unique key
    to sample duplicates independently).

    Determinism: with DISTINCT rank keys the output rows are a pure
    function of (key, seed) — stable under repartitioning, AQE, and
    retries. When duplicate keys tie exactly at the k boundary, the
    SET of selected rank keys is still deterministic, but which tied
    ROW represents a key follows encounter order and may vary with
    partitioning — pass a unique key (e.g. a row id) when that
    distinction matters.

    ``rank_col``: optionally keep the rank key in the output (e.g. to
    subsample further downstream without re-hashing).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    by = list(by)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    u = _unit_hash(keys, seed)
    rank = "__rank_key"
    if weight_col is not None:
        w = F.col(weight_col).cast("double")
        src = df.filter(w.isNotNull() & ~F.isnan(w) & (w > 0)).withColumn(
            rank, -F.log1p(-u) / w
        )
    else:
        src = df.withColumn(rank, u)

    out_cols = df.columns + ([rank_col] if rank_col else [])
    out_schema = T.StructType(
        [src.schema[c] for c in df.columns]
        + ([T.StructField(rank_col, T.DoubleType(), False)] if rank_col else [])
    )
    mid_schema = src.schema

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[tuple, pd.DataFrame] = {}
        for pdf in batches:
            groups = pdf.groupby(by, sort=False, dropna=False) if by else [((), pdf)]
            for gk, g in groups:
                gk = gk if isinstance(gk, tuple) else (gk,)
                prev = best.get(gk)
                cand = g if prev is None else pd.concat((prev, g), ignore_index=True)
                best[gk] = cand.nsmallest(k, rank, keep="first")
        for cand in best.values():
            yield cand

    candidates = src.mapInPandas(partial_topk, mid_schema)

    def final_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        top = pdf.nsmallest(k, rank, keep="first")
        if rank_col:
            top = top.rename(columns={rank: rank_col})
        return top[out_cols]

    if by:
        out = candidates.groupBy(*by).applyInPandas(
            final_topk, out_schema
        )
    else:

        def final_global(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            chunks = [pdf for pdf in batches if len(pdf)]
            if chunks:
                yield final_topk(pd.concat(chunks, ignore_index=True))

        # partial_topk already cut each partition to k candidates
        out = candidates.repartition(1).mapInPandas(final_global, out_schema)
    return out
