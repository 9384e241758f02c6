"""Distributed t-digest aggregation — the partial/merge UDAF shape.

PySpark has no Python UDAF with an exposed merge state, so the
partial+final aggregate the reference models as ``Monoid``/``Reducer``
(``Tree/Internal.hs:65-77``, bench parallel fold
``tdigest-bench/src/Simple.hs:289-295``) is built explicitly:

  stage 1  ``mapInPandas``  — one digest per (input partition x group),
           built per Arrow batch and merged inside the partition.
           This is the map-side combine: raw rows never shuffle, only
           O(delta)-sized digest structs do.
  stage 2  :func:`tdigest_merge_agg` — ONE merge, two paths by key
           shape: grouped partials go through the JVM k1 merge
           (window cumsum -> closed-form cluster ids -> hash-agg
           rebuild); a keyless merge is one single-task reduce through
           the numpy kernel, which clusters by the same closed-form ids.

Plan shape at scale: scan (column-pruned to keys+value) -> Python
partial agg (no shuffle) -> shuffle of ~n_partitions*n_groups tiny
structs -> final merge. The shuffle volume is independent of row count,
so the job scales linearly with input; a hot key contributes one
partial per partition, never its raw rows.
"""

from __future__ import annotations

import dataclasses
import math
from collections.abc import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tdigest_spark.sketch.tdigest import TDigest

DIGEST_TYPE = T.StructType(
    [
        T.StructField("means", T.ArrayType(T.DoubleType()), True),
        T.StructField("weights", T.ArrayType(T.DoubleType()), True),
        T.StructField("total_weight", T.DoubleType(), True),
        T.StructField("vmin", T.DoubleType(), True),
        T.StructField("vmax", T.DoubleType(), True),
        T.StructField("delta", T.IntegerType(), True),
    ]
)

_VALUE = "__td_value"
_WEIGHT = "__td_weight"

_NAN = float("nan")


def canon_key(key: tuple) -> tuple:
    """Canonicalize a pandas groupby key tuple for use as a dict key:
    every float NaN is replaced with ONE module-level nan instance.
    Two groupbys over the same frame materialize *distinct* nan
    objects, and ``hash(nan)`` is id-based on py3.10+, so dict lookups
    keyed on raw groupby keys silently split a NaN-keyed group into
    duplicates; a shared instance restores identity-based equality, and
    emitting it writes an ordinary NaN."""
    return tuple(_NAN if isinstance(k, float) and k != k else k for k in key)


def _merge_digests(rows: Iterable, delta: int | None = None) -> TDigest:
    """Merge digest rows in the numpy kernel. An explicit ``delta`` re-stamps
    every input first, so digests built at different deltas merge and
    the result compresses to ``delta``; ``None`` keeps the carried one."""
    ds = [TDigest.from_row(r) for r in rows]
    if delta is not None:
        ds = [TDigest.empty(delta)] + [dataclasses.replace(d, delta=delta) for d in ds]
    return TDigest.merge_all(ds)


def _reduce_keyless(
    partials: DataFrame, digest_col: str, delta: int | None = None
) -> DataFrame:
    """The keyless final level: every partial digest goes to one task,
    which merges them into the single output row, compressed to the
    public delta."""

    def reduce(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (r for pdf in it for r in pdf[digest_col])
        merged = _merge_digests(rows, delta).compressed()
        yield pd.DataFrame({digest_col: [merged.to_row()]})

    return partials.repartition(1).mapInPandas(
        reduce, T.StructType([T.StructField(digest_col, DIGEST_TYPE, True)])
    )


def tdigest_agg(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    delta: int = 200,
    weight_col: str | None = None,
    digest_col: str = "digest",
    build_engine: str = "pandas",
) -> DataFrame:
    """Aggregate ``value_col`` into one t-digest per group.

    Returns a DataFrame ``by... , digest_col struct`` with exactly one
    row per group (one row total when ``by`` is empty).

    The map side builds one digest per (input partition x group) in
    the Python worker; those partials go to :func:`tdigest_merge_agg`.
    A skewed key therefore costs its reducer one partial per input
    partition, never its raw rows.

    ``build_engine``: ``"pandas"`` (default — vectorized partial build,
    shuffle shrinks to O(partitions x groups) structs) or ``"sql"``
    (:func:`tdigest_agg_sql` — all-JVM, for the high-cardinality regime
    where groups ~ rows and partial aggregation reduces nothing).
    """
    if build_engine == "sql":
        return tdigest_agg_sql(
            df, value_col, by=by, delta=delta, weight_col=weight_col,
            digest_col=digest_col,
        )
    by = list(by)
    cols = [F.col(c) for c in by] + [F.col(value_col).cast("double").alias(_VALUE)]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias(_WEIGHT))
    src = df.select(*cols)

    out_schema = T.StructType(
        [src.schema[c] for c in by] + [T.StructField(digest_col, DIGEST_TYPE, True)]
    )

    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple, TDigest] = {}
        for pdf in batches:
            if by:
                for key, g in pdf.groupby(by, sort=False, dropna=False):
                    key = canon_key(key if isinstance(key, tuple) else (key,))
                    w = g[_WEIGHT].to_numpy() if weight_col else None
                    d = TDigest.from_values(g[_VALUE].to_numpy(), delta, weights=w)
                    accs[key] = accs[key].merge(d) if key in accs else d
            else:
                w = pdf[_WEIGHT].to_numpy() if weight_col else None
                d = TDigest.from_values(pdf[_VALUE].to_numpy(), delta, weights=w)
                accs[()] = accs[()].merge(d) if () in accs else d
        if not accs:
            return
        data: dict[str, list] = {c: [] for c in by}
        data[digest_col] = []
        for key, d in accs.items():
            for c, k in zip(by, key):
                data[c].append(k)
            data[digest_col].append(d.to_row())
        yield pd.DataFrame(data)

    partials = src.mapInPandas(build_partials, out_schema)
    if by:
        return tdigest_merge_agg(partials, by=by, digest_col=digest_col, delta=delta)
    # already one partial per input partition: straight to the reduce
    return _reduce_keyless(partials, digest_col)


def tdigest_merge_agg(
    df: DataFrame,
    by: Sequence[str] = (),
    digest_col: str = "digest",
    delta: int | None = None,
) -> DataFrame:
    """Merge an existing digest column (the reference's ``<>``/``mconcat``,
    ``Tree/Internal.hs:143-153``): one merged digest per group.

    The merge is associative within the published bound, so the merge
    tree's shape is free; the path is chosen by key shape alone:

    Both paths cluster by one rule: each centroid gets the closed-form
    cluster id ``floor(ksize(q_mid, delta))`` from its mid-rank. ksize
    is monotone, so clusters partition the sorted centroid order and no
    cluster spans more than one k1 unit, a q-width of
    ``pi*sqrt(q(1-q))/delta`` (``pi/(2*delta)`` at the median): a valid
    t-digest construction with the published rank-error bound, exact
    in lossless mode, where every centroid keeps its own cluster.

    - GROUPED (``by`` non-empty): merge + k1 clustering entirely in JVM
      expressions. Physical plan: explode -> window cumsum per group ->
      hash-agg weighted means -> sort_array(collect_list) rebuild; no
      Python worker, ~10x faster than a per-group pandas merge at
      thousands of groups (BENCH.md §1d).
    - KEYLESS (``by`` empty): a partition-local merge, then one
      single-task reduce over one partial per partition, both in the
      numpy kernel (``sketch.tdigest._k1_clusters``). This plans as two
      narrow Python stages and one exchange; the keyless JVM merge would
      add window/aggregate stages whose driver planning alone costs more
      than the reduce.

    ``delta``: the output compression. ``None`` keeps the inputs'
    carried delta; an explicit value re-compresses every group to it.
    """
    by = list(by)
    if by:
        ex = _explode_digests(df, by, digest_col)
        return _k1_cluster_rebuild(ex, by, digest_col, delta)
    schema = T.StructType([T.StructField(digest_col, DIGEST_TYPE, True)])

    def partial_merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            d = _merge_digests(pdf[digest_col], delta)
            acc = d if acc is None else acc.merge(d)
        if acc is not None:
            yield pd.DataFrame({digest_col: [acc.to_row()]})

    return _reduce_keyless(
        df.select(digest_col).mapInPandas(partial_merge, schema), digest_col, delta
    )


def _explode_digests(
    df: DataFrame, by: Sequence[str], digest_col: str
) -> DataFrame:
    """Digest structs -> weighted centroid rows (``__m``, ``__w`` plus
    the ``__vmin``/``__vmax``/``__delta`` carries) per group — the input
    shape of :func:`_k1_cluster_rebuild`."""
    c = F.col
    return df.select(
        *by,
        c(f"{digest_col}.delta").alias("__delta"),
        c(f"{digest_col}.vmin").alias("__vmin"),
        c(f"{digest_col}.vmax").alias("__vmax"),
        # explode_outer, not explode: an EMPTY digest (all-null group)
        # must keep its group row — it yields one null centroid that is
        # filtered out at rebuild, preserving the NULL-stats semantics
        F.explode_outer(
            F.arrays_zip(
                c(f"{digest_col}.means").alias("m"),
                c(f"{digest_col}.weights").alias("w"),
            )
        ).alias("__c"),
    ).select(
        *by,
        "__delta",
        "__vmin",
        "__vmax",
        c("__c.m").alias("__m"),
        c("__c.w").alias("__w"),
    )


def _k1_cluster_rebuild(
    ex: DataFrame, by: Sequence[str], digest_col: str, delta: int | None
) -> DataFrame:
    """The JVM k1 clustering core: ``ex`` rows are weighted points
    (``__m``, ``__w``, plus ``__vmin``/``__vmax``/``__delta`` carries)
    per group; assign each its closed-form cluster id from mid-rank,
    aggregate clusters, rebuild digest structs. Shared by the digest
    MERGE (exploded centroids) and the direct SQL BUILD (raw rows as
    singletons). ``delta=None`` clusters at the CARRIED per-group delta."""
    by = list(by)
    c = F.col
    from pyspark.sql import Window as W

    keys = [c(k) for k in by]
    # ROWS frame, not the default RANGE: tied means must accumulate
    # row-by-row or the cumsum jumps over the whole tie group
    win = (
        W.partitionBy(*keys)
        .orderBy(c("__m"), c("__w"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy(*keys)
    d_out = (
        F.lit(delta).cast("double")
        if delta is not None
        else F.max("__delta").over(tot).cast("double")
    )
    cum = F.sum("__w").over(win) - c("__w") / 2.0
    tw = F.sum("__w").over(tot)
    q = F.least(F.greatest(cum / tw, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    # ksize k1 (Vector/Internal.hs:106-116): delta*(asin(2q-1)/pi + 1/2)
    kcl = F.floor(d_out * (F.asin(2.0 * q - 1.0) / math.pi + 0.5))

    clustered = ex.select(*by, "__delta", "__vmin", "__vmax", "__m", "__w", kcl.alias("__k"))
    agg = clustered.groupBy(*by, "__k").agg(
        (F.sum(c("__m") * c("__w")) / F.sum("__w")).alias("__cm"),
        F.sum("__w").alias("__cw"),
        F.min("__vmin").alias("__vmin"),
        F.max("__vmax").alias("__vmax"),
        F.min("__delta").alias("__delta"),
    )
    rebuilt = agg.groupBy(*by).agg(
        F.sort_array(F.collect_list(F.struct(c("__cm").alias("m"), c("__cw").alias("w")))).alias("__arr"),
        F.min("__vmin").alias("__vmin"),
        F.max("__vmax").alias("__vmax"),
        F.min("__delta").alias("__delta"),
    )
    # drop the null centroid an empty digest contributes (explode_outer)
    arr = F.filter("__arr", lambda x: x["m"].isNotNull() & x["w"].isNotNull())
    digest_struct = F.struct(
        F.transform(arr, lambda x: x["m"]).alias("means"),
        F.transform(arr, lambda x: x["w"]).alias("weights"),
        F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["w"]).alias(
            "total_weight"
        ),
        c("__vmin").alias("vmin"),
        c("__vmax").alias("vmax"),
        (F.lit(delta) if delta is not None else c("__delta")).cast("int").alias("delta"),
    )
    return rebuilt.select(*by, digest_struct.alias(digest_col))


def tdigest_agg_sql(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    delta: int = 200,
    weight_col: str | None = None,
    digest_col: str = "digest",
) -> DataFrame:
    """Build digests ENTIRELY in JVM expressions: each row is a
    singleton centroid fed straight into the k1 closed-form clustering
    (:func:`_k1_cluster_rebuild`) — no Python stage at all.

    When to use which build engine: the pandas partial build
    (:func:`tdigest_agg`) shrinks the shuffle to O(partitions x groups)
    structs — the right plan when groups are FEW relative to rows
    (map-side combining does real work). When group cardinality
    approaches the row count (e.g. 1e5+ groups, a handful of rows per
    group per partition), partial aggregation reduces nothing: the
    shuffle is O(rows) either way, and the Python stage is pure
    overhead — this path drops it and lets Tungsten sort/aggregate raw
    (key, value, weight) rows (measured ~4x faster at 1e5 groups,
    BENCH.md). Same construction validity and rank-error bound as
    the grouped :func:`tdigest_merge_agg` (no cluster spans more than
    one k1 unit, ``pi*sqrt(q(1-q))/delta`` of rank); exact in lossless
    mode. NULL and NaN values are dropped, and with a
    ``weight_col`` so are NULL/NaN/non-positive weights — the exact
    filter ``TDigest.from_values`` applies, so both build engines see
    the same rows (an unfiltered NaN would sort last in the window and
    poison its cluster's weighted mean; w <= 0 would corrupt
    total_weight). A group whose values are ALL dropped is absent from
    the output (the pandas path emits an empty digest instead — the
    one semantic difference).
    """
    by = list(by)
    if not by:
        # the ungrouped window would sort EVERY raw row in one task —
        # the global regime belongs to the partial build
        raise ValueError(
            "tdigest_agg_sql requires grouping keys (by=...): for a "
            "global digest use the default partial build, which ships "
            "one partial per partition to the final reduce"
        )
    c = F.col
    v = c(value_col).cast("double")
    keep = v.isNotNull() & ~F.isnan(v)
    if weight_col is not None:
        w = c(weight_col).cast("double")
        keep = keep & w.isNotNull() & ~F.isnan(w) & (w > 0)
    else:
        w = F.lit(1.0)
    ex = df.where(keep).select(
        *by,
        F.lit(delta).alias("__delta"),
        v.alias("__vmin"),
        v.alias("__vmax"),
        v.alias("__m"),
        w.alias("__w"),
    )
    return _k1_cluster_rebuild(ex, by, digest_col, delta)


# ---------------------------------------------------------------------------
# query/stat extraction over digest rows
# ---------------------------------------------------------------------------


def _eval_stat(d: TDigest, stat: str, args: tuple):
    if stat == "total_weight":
        return d.total_weight if not d.is_empty() else 0.0
    if stat == "vmin":
        return d.vmin if not d.is_empty() else None
    if stat == "vmax":
        return d.vmax if not d.is_empty() else None
    if stat == "size":
        return float(d.size)
    return getattr(d, stat)(*args)


def tdigest_stats(
    df: DataFrame, spec: dict[str, tuple], digest_col: str = "digest"
) -> DataFrame:
    """Evaluate rank statistics on a digest column.

    ``spec`` maps output column name -> (stat, *args), e.g.::

        {"median": ("quantile", 0.5), "p99": ("quantile", 0.99),
         "mu": ("mean",), "tm": ("trimmed_mean", 0.1, 0.9)}

    Runs as one ``mapInPandas`` pass of the shared evaluator,
    :func:`~tdigest_spark.operators.sketch_agg.sketch_estimates` (stat
    ``s`` is its ``td_s``), the one the SQL ``tdigest_*`` functions run.
    A NULL digest is the empty digest: NULL stats, ``total_weight`` 0.0.

    Digest-aware rewrite (the SURVEY §8 fusion slice): calling
    ``tdigest_stats`` on a DataFrame that IS a ``tdigest_stats`` result
    over the same digest column does not stack a second Python stage —
    the call is rebuilt from the original input with the union of both
    specs, so any chain of stats calls over one digest column collapses
    to ONE ``mapInPandas`` (each extra Python stage at 100 TB is an
    extra Arrow serialize/deserialize of every row). Output columns and
    values are identical to the unfused chain; the fusion is skipped if
    an output name would collide with a differing spec. Before/after
    plans: PLANS.md §6.
    """
    origin = getattr(df, "_td_stats_origin", None)
    if origin is not None:
        src, prev_spec, prev_digest = origin
        if prev_digest == digest_col:
            clash = [k for k, v in spec.items() if prev_spec.get(k, v) != v]
            if clash:
                raise ValueError(
                    f"tdigest_stats fusion: output column(s) {clash} already "
                    "defined with a different spec in the chained call"
                )
            return tdigest_stats(src, {**prev_spec, **spec}, digest_col)
    if digest_col not in df.columns:
        raise ValueError(
            f"tdigest_stats: no {digest_col!r} column (stats outputs drop it; "
            "chain stats calls directly on a tdigest_stats result to fuse, or "
            "evaluate all specs in one call)"
        )
    # sketch_agg imports this module, hence the function-level import
    from tdigest_spark.operators.sketch_agg import sketch_estimates

    out = sketch_estimates(
        df if spec else df.drop(digest_col),  # an empty spec names no sketch
        {
            name: (f"td_{stat}", digest_col, *args)
            for name, (stat, *args) in spec.items()
        },
    )
    # remember the provenance so a chained tdigest_stats call can fuse
    # with this one instead of adding a second Python stage. NOTE: the
    # fused rebuild drops the digest column like this call does, so it
    # is only recorded when a chained call could actually reuse it
    out._td_stats_origin = (df, dict(spec), digest_col)
    return out


def tdigest_cdf_at(
    df: DataFrame,
    probe_col: str | dict[str, str],
    out_col: str = "cdf",
    digest_col: str = "digest",
) -> DataFrame:
    """cdf evaluated at per-row probe column(s) (digest and probe in
    the same row, e.g. after joining probes onto group digests).
    ``probe_col`` may be one column name (result in ``out_col``) or a
    mapping ``out_col -> probe_col`` evaluating several probes in the
    SAME pass (one Python stage, not one per probe)."""
    probes = {out_col: probe_col} if isinstance(probe_col, str) else dict(probe_col)
    keep = [c for c in df.columns if c != digest_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(oc, T.DoubleType(), True) for oc in probes]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            digests = [TDigest.from_row(r) for r in pdf[digest_col]]
            for oc, pc in probes.items():
                vals = pdf[pc].to_numpy()
                out[oc] = [d.cdf(float(x)) for d, x in zip(digests, vals)]
                out[oc] = out[oc].astype("float64")
            yield out

    return df.mapInPandas(evaluate, out_schema)


# Broadcast regime bound for the per-row scorers: a digest table is
# ~3 KB/group at delta=200, so 1e5 groups ~ 300 MB of driver+broadcast
# traffic — beyond this the scorers auto-route to the shuffle-join form.
MAX_BROADCAST_GROUPS = 100_000


def _digest_head(
    digests: DataFrame, by: list, digest_col: str, limit: int
) -> list | None:
    """Fetch up to ``limit + 1`` digest rows. Returns the FULL row list
    when the table fits the broadcast regime (head(n) returns all rows
    when total <= n), else None — the caller must switch to the
    shuffle-join path. The probe job short-circuits via CollectLimit's
    incremental partition scan; in the join regime the digest agg runs
    once more inside the join job (documented cost of not persisting)."""
    head = digests.select(*by, digest_col).head(limit + 1)
    return head if len(head) <= limit else None


def _digest_blob_table(digests: DataFrame, by: list, digest_col: str) -> DataFrame:
    """Digest structs -> compact blobs, computed DISTRIBUTEDLY (no
    driver collect) with prefixed key columns for a null-safe join."""
    out_schema = T.StructType(
        [
            T.StructField(f"__k_{c}", digests.schema[c].dataType, True)
            for c in by
        ]
        + [T.StructField("__blob", T.BinaryType(), True)]
    )

    def conv(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({f"__k_{c}": pdf[c] for c in by})
            out["__blob"] = [
                None if d is None else TDigest.from_row(d).to_bytes()
                for d in pdf[digest_col]
            ]
            yield out

    return digests.select(*by, digest_col).mapInPandas(conv, out_schema)


def _score_by_group(
    rows: DataFrame,
    digests: DataFrame,
    head: list | None,
    by: list,
    digest_col: str,
    out_col: str,
    make_scorer,
) -> DataFrame:
    """The per-row scoring loop behind :func:`with_percentile_rank` and
    :func:`quantile_normalize`: one mapInPandas groups each Arrow batch
    by the rows' keys, decodes each group's digest blob once per task
    and scores the group's values; rows of a digest-less group get
    NULL. ``make_scorer()`` returns an object with ``values(pdf)`` and
    ``score(digest, values) -> ndarray`` (:class:`_CdfScorer`).

    The blobs reach the loop one of two ways. ``head`` (the full digest
    table, the in-regime form): compacted on the driver into ONE
    broadcast dict, and the rows are scored in place — never shuffled
    or joined. ``head=None`` (the above-regime form): the digest table
    is blob-compacted distributedly and null-safe-joined onto the rows
    (one shuffle of the rows by the group keys; AQE may split skewed
    keys since no downstream grouping exists), so no executor ever
    materializes the whole table."""
    import numpy as np

    if head is None:
        blobs = _digest_blob_table(digests, by, digest_col)
        cond = None
        for c in by:
            clause = rows[c].eqNullSafe(blobs[f"__k_{c}"])
            cond = clause if cond is None else cond & clause
        scored = rows.join(blobs, cond, "left")

        def blob_of(pdf: pd.DataFrame, key: tuple, idx):
            return pdf["__blob"].iloc[idx[0]]

    else:
        bc = rows.sparkSession.sparkContext.broadcast(
            {
                _null_nan_key(tuple(r[c] for c in by)): TDigest.from_row(
                    r[digest_col].asDict()
                ).to_bytes()
                for r in head
                if r[digest_col] is not None
            }
        )
        scored = rows

        def blob_of(pdf: pd.DataFrame, key: tuple, idx):
            return bc.value.get(key)

    extra = [c for c in scored.columns if c not in rows.columns]
    out_schema = T.StructType(
        list(rows.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = make_scorer()
        cache: dict[tuple, TDigest] = {}
        for pdf in batches:
            out = pdf.drop(columns=extra) if extra else pdf.copy()
            res = np.full(len(pdf), np.nan)
            vals = scorer.values(pdf)
            # group by the ROWS' OWN keys, not the joined __k_ columns:
            # a digest-less group's __k_ values are NULL (left-join
            # miss) and would collide with the genuine NULL-key group
            if by:
                groups = pdf.groupby(by, sort=False, dropna=False).indices
            else:
                groups = {(): np.arange(len(pdf))}
            for gk, idx in groups.items():
                key = _null_nan_key(gk if isinstance(gk, tuple) else (gk,))
                dig = cache.get(key)
                if dig is None:
                    blob = blob_of(pdf, key, idx)
                    if blob is None or (isinstance(blob, float) and blob != blob):
                        continue
                    dig = cache.setdefault(key, TDigest.from_bytes(bytes(blob)))
                res[idx] = scorer.score(dig, vals[idx])
            out[out_col] = res
            yield out

    return scored.mapInPandas(score, out_schema)


class _CdfScorer:
    """cdf_many per group digest (with_percentile_rank's kernel)."""

    def __init__(self, value_col: str, ref_blob: bytes | None = None):
        self._value_col = value_col
        self._ref = TDigest.from_bytes(ref_blob) if ref_blob is not None else None

    def values(self, pdf: pd.DataFrame):
        import numpy as np

        return pdf[self._value_col].to_numpy(dtype=np.float64, na_value=np.nan)

    def score(self, dig: TDigest, vals):
        ranks = dig.cdf_many(vals)
        return ranks if self._ref is None else self._ref.quantiles(ranks)


def with_percentile_rank(
    rows: DataFrame,
    digests: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    out_col: str = "pct_rank",
    digest_col: str = "digest",
    max_broadcast_groups: int = MAX_BROADCAST_GROUPS,
) -> DataFrame:
    """Score EVERY row with its group digest's mid-rank cdf at the
    row's value — the per-row companion of :func:`tdigest_cdf_at`, and
    the curation-filter building block ("keep documents above their
    language's p90 quality") without computing thresholds first.

    Scale shape: the digest table is O(groups x delta), so it is
    collected ONCE, serialized to compact blobs, and broadcast as plain
    data; the raw rows are then scored in place by one mapInPandas
    stage using the vectorized ``cdf_many`` kernel. The rows are never
    shuffled or joined — a broadcast JOIN + :func:`tdigest_cdf_at`
    would instead push one O(delta) digest-struct copy PER ROW through
    Arrow. Rows whose group has no digest (or a NULL digest) get NULL;
    NULL and NaN group keys are conflated for the lookup (the module's
    pandas-groupby NaN policy).

    Regime bound, AUTO-ROUTED: the broadcast is O(groups x delta) —
    ~3 KB/group at delta=200, fine to ~1e5 groups
    (``max_broadcast_groups``). A head(limit+1) probe counts the digest
    table; above the limit the scorer switches to the shuffle-join form
    (:func:`_score_by_group`): digest blobs stay distributed, the rows
    shuffle ONCE by the group keys, and no executor ever materializes
    the whole digest table. Identical output either way (tested with a
    forced low threshold).
    """
    by = list(by)
    head = _digest_head(digests, by, digest_col, max_broadcast_groups)
    if head is None and not by:
        raise AssertionError("keyless digest table cannot exceed one row")
    return _score_by_group(
        rows, digests, head, by, digest_col, out_col,
        lambda: _CdfScorer(value_col),
    )


def quantile_normalize(
    rows: DataFrame,
    value_col: str,
    by: Sequence[str],
    out_col: str = "normalized",
    delta: int = 200,
    group_digests: DataFrame | None = None,
    reference: DataFrame | None = None,
    digest_col: str = "digest",
    max_broadcast_groups: int = MAX_BROADCAST_GROUPS,
) -> DataFrame:
    """Map every row's value onto the REFERENCE distribution at the
    row's within-group rank: ``out = Q_ref(F_group(v))`` — quantile
    normalization, the batch-effect-correction move ("make every
    source's feature distribution comparable before training a filter
    on it"). After normalization each group's values follow the
    reference distribution while preserving within-group order.

    ``reference`` is a ONE-row digest table (default: a digest over
    ALL rows — normalize every group onto the pooled distribution);
    ``group_digests`` defaults to per-``by`` digests built from
    ``rows``. Same scale shape AND auto-routing as
    :func:`with_percentile_rank`: below ``max_broadcast_groups`` the
    group digests are collected once and broadcast as blobs and the
    rows are scored in place (never shuffled); above it the group
    digests stay distributed and the rows shuffle once through the
    null-safe join form. Either way the one-row reference ships whole
    to every task as a blob inside the scorer. NULL/NaN values, and
    rows whose group has no digest, get NULL."""
    by = list(by)
    if not by:
        raise ValueError("quantile_normalize needs group keys (else it is identity)")
    if group_digests is None:
        group_digests = tdigest_agg(rows, value_col, by=by, delta=delta)
    if reference is None:
        reference = tdigest_agg(rows, value_col, by=(), delta=delta)
    ref_rows = reference.select(digest_col).collect()
    if len(ref_rows) != 1 or ref_rows[0][digest_col] is None:
        raise ValueError("reference must be a one-row digest table")
    ref_blob = TDigest.from_row(ref_rows[0][digest_col].asDict()).to_bytes()
    head = _digest_head(group_digests, by, digest_col, max_broadcast_groups)
    return _score_by_group(
        rows, group_digests, head, by, digest_col, out_col,
        lambda: _CdfScorer(value_col, ref_blob),
    )


def filter_percentile_range(
    rows: DataFrame,
    digests: DataFrame,
    value_col: str,
    lo: float = 0.0,
    hi: float = 1.0,
    by: Sequence[str] = (),
    keep_rank: str | None = None,
    digest_col: str = "digest",
) -> DataFrame:
    """Keep rows whose value sits inside [``lo``, ``hi``] of their OWN
    group's distribution — the quantile-trimming move of a curation
    pipeline ("drop each language's bottom 10% and top 1% by quality")
    as one operator: :func:`with_percentile_rank` scores rows in place
    against the broadcast digest table, then a codegen filter trims.
    Rows whose group has no digest score NULL and are DROPPED (no
    reference distribution = no basis to keep; surface such groups via
    a ``digest_drift(how="full")`` check, not silently here — this IS
    the documented policy, not an accident). ``keep_rank`` optionally
    retains the rank column for downstream use."""
    if not (0.0 <= lo <= hi <= 1.0):
        raise ValueError(f"need 0 <= lo <= hi <= 1, got lo={lo} hi={hi}")
    rank = keep_rank or "__pct_rank"
    scored = with_percentile_rank(
        rows, digests, value_col, by=by, out_col=rank, digest_col=digest_col
    )
    out = scored.filter(
        F.col(rank).isNotNull() & (F.col(rank) >= lo) & (F.col(rank) <= hi)
    )
    return out if keep_rank else out.drop(rank)


def with_equidepth_bucket(
    rows: DataFrame,
    value_col: str,
    n_buckets: int,
    by: Sequence[str] = (),
    digests: DataFrame | None = None,
    bucket_col: str = "bucket",
    delta: int = 200,
    digest_col: str = "digest",
    max_broadcast_groups: int = MAX_BROADCAST_GROUPS,
) -> DataFrame:
    """Equal-frequency bucket id (0..n_buckets-1) per row from its
    group's digest quantiles — the balanced-output primitive: bucket on
    a size column before ``write.partitionBy(bucket)`` and every output
    partition carries ~1/n of the rows no matter how skewed the value
    is; same trick gives a skew-free range partitioning for sorted
    writes without ``repartitionByRange``'s extra sampling scan.

    Bucket boundaries are the digest's i/n quantiles: bucket i covers
    (cut_i-1, cut_i], so ties land in one bucket (value-based split —
    equal counts up to tie mass and digest error; exact at lossless
    delta up to interpolation). NULL/NaN values, and rows whose group
    has no digest, get a NULL bucket.

    Scale shape, AUTO-ROUTED like :func:`with_percentile_rank`: below
    ``max_broadcast_groups`` the digest table is collected once,
    reduced driver-side to O(groups x n_buckets) cut arrays, and either
    inlined as a literal (global) or broadcast-joined (grouped); above
    it the cut arrays are computed DISTRIBUTEDLY (:func:`tdigest_stats`
    quantile columns over the digest table, gathered with ``F.array``,
    never collected) and shuffle-joined onto the rows
    null-safely. Either way the assignment itself is a pure codegen
    array scan — NO Python stage touches the rows. Pass a precomputed
    ``digests`` table to skip the build scan entirely (e.g. the same
    digests already maintained by a
    :func:`~tdigest_spark.streaming.digest_stream.digest_sink`).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    by = list(by)
    if digests is None:
        digests = tdigest_agg(rows, value_col, by=by, delta=delta, digest_col=digest_col)
    qs = [i / n_buckets for i in range(1, n_buckets)]

    v = F.col(value_col).cast("double")
    null_v = v.isNull() | F.isnan(v)

    def assign(arr):
        # arr may be NULL (group without a digest / empty cuts table);
        # size(filter(NULL)) is -1 under legacy sizeOfNull, so gate on
        # arr.isNotNull() to emit the documented NULL bucket instead.
        return F.when(
            arr.isNotNull() & ~null_v, F.size(F.filter(arr, lambda c: v > c))
        ).otherwise(F.lit(None).cast("int"))

    def join_cuts(cuts_df: DataFrame, broadcastable: bool) -> DataFrame:
        # eqNullSafe per key: a NULL-keyed group must still find its
        # cuts row (tdigest_agg DOES build a digest for the NULL
        # group), matching the _null_nan_key policy of the other
        # per-row scorers.
        cond = None
        for c in by:
            clause = rows[c].eqNullSafe(cuts_df[f"__ck_{c}"])
            cond = clause if cond is None else cond & clause
        right = F.broadcast(cuts_df) if broadcastable else cuts_df
        out = rows.join(right, cond, "left").withColumn(
            bucket_col, assign(F.col("__cuts"))
        )
        return out.drop("__cuts", *[f"__ck_{c}" for c in by])

    head = _digest_head(digests, by, digest_col, max_broadcast_groups)
    if head is None:
        if not by:
            raise AssertionError("keyless digest table cannot exceed one row")
        qcols = [f"__q{i}" for i in range(len(qs))]
        stats = tdigest_stats(
            digests.select(*by, digest_col),
            {"__tw": ("total_weight",)}
            | {c: ("quantile", q) for c, q in zip(qcols, qs)},
            digest_col,
        )
        # an empty (or NULL) digest has no cuts: its rows get NULL
        cuts_df = stats.where(F.col("__tw") > 0).select(
            *[F.col(c).alias(f"__ck_{c}") for c in by],
            F.array(*map(F.col, qcols)).cast("array<double>").alias("__cuts"),
        )
        return join_cuts(cuts_df, False)

    cuts: dict[tuple, list[float]] = {}
    for r in head:
        if r[digest_col] is None:
            continue
        d = TDigest.from_row(r[digest_col].asDict())
        if d.total_weight <= 0:  # empty digest (e.g. all-NULL group)
            continue
        cuts[tuple(r[c] for c in by)] = [float(d.quantile(q)) for q in qs]

    if not by:
        arr = (
            F.array(*[F.lit(c) for c in next(iter(cuts.values()))]).cast(
                "array<double>"
            )
            if cuts
            else F.lit(None).cast("array<double>")
        )
        return rows.withColumn(bucket_col, assign(arr))

    spark = rows.sparkSession
    cut_schema = T.StructType(
        [
            T.StructField(f"__ck_{c}", rows.schema[c].dataType, True)
            for c in by
        ]
        + [T.StructField("__cuts", T.ArrayType(T.DoubleType()), False)]
    )
    cuts_df = spark.createDataFrame(
        [(*k, v_) for k, v_ in cuts.items()], cut_schema
    )
    return join_cuts(cuts_df, True)


class _NullKeySentinel:
    """Pickle-stable NULL/NaN group-key stand-in for lookup dicts that
    cross the driver->executor broadcast: ``hash(float('nan'))`` is
    id-based on py3.10+, so a nan pickled into a broadcast never
    hash-matches the executor-side nan and the lookup silently misses
    (NULL-keyed rows then score NULL despite having a digest).
    Unpickling this class returns the module singleton, so identity —
    and therefore hash — survives the hop. Lookup-only: never emitted
    into output (that is :func:`canon_key`'s float-NaN job)."""

    __slots__ = ()

    def __new__(cls):
        inst = getattr(cls, "_inst", None)
        if inst is None:
            inst = super().__new__(cls)
            cls._inst = inst
        return inst

    def __reduce__(self):
        return (_NullKeySentinel, ())

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return "<null-key>"


_NULL_KEY = _NullKeySentinel()


def _null_nan_key(key: tuple) -> tuple:
    """canon_key's lookup twin with None folded in: a NULL group key
    collects as None on the driver but surfaces as float NaN in a
    pandas batch; both must hit the same dict slot — including when
    the dict was built on the driver and broadcast (see
    :class:`_NullKeySentinel`)."""
    return tuple(
        _NULL_KEY if k is None or (isinstance(k, float) and k != k) else k
        for k in key
    )


def tdigest_histogram(
    df: DataFrame,
    digest_col: str = "digest",
    out_col: str = "histogram",
    include_density: bool = False,
) -> DataFrame:
    """Explode a digest into its midpoint bins
    (cf. ``Postprocess/Internal.hs:70-90``):
    array<struct<lo,hi,mid,weight,cum_weight[,density]>>.

    ``include_density`` adds a SECOND array column
    ``<out_col>_density`` of (lo, hi, density) structs from
    :meth:`TDigest.density_histogram` — the exact numbers behind
    tdigest-Chart's histogram render
    (``tdigest-Chart/src/.../TDigest.hs:86-89,134-147``); the series
    integrates to 1 over the bin widths. It is a separate column (not
    a field on the midpoint bins) because the density pass merges
    equal-mean centroids, so its bin count can differ."""
    bin_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("lo", T.DoubleType()),
                T.StructField("hi", T.DoubleType()),
                T.StructField("mid", T.DoubleType()),
                T.StructField("weight", T.DoubleType()),
                T.StructField("cum_weight", T.DoubleType()),
            ]
        )
    )
    dens_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("lo", T.DoubleType()),
                T.StructField("hi", T.DoubleType()),
                T.StructField("density", T.DoubleType()),
            ]
        )
    )
    keep = [c for c in df.columns if c != digest_col]
    out_fields = [df.schema[c] for c in keep] + [
        T.StructField(out_col, bin_type, True)
    ]
    if include_density:
        out_fields.append(T.StructField(f"{out_col}_density", dens_type, True))
    out_schema = T.StructType(out_fields)

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            bins, dens = [], []
            for r in pdf[digest_col]:
                td = TDigest.from_row(r)
                bins.append(
                    [
                        {"lo": lo, "hi": hi, "mid": mid, "weight": w,
                         "cum_weight": cw}
                        for (lo, hi, mid, w, cw) in td.histogram()
                    ]
                )
                if include_density:
                    dens.append(
                        [
                            {"lo": lo, "hi": hi, "density": d}
                            for (lo, hi, d) in td.density_histogram()
                        ]
                    )
            out[out_col] = bins
            if include_density:
                out[f"{out_col}_density"] = dens
            yield out

    return df.mapInPandas(evaluate, out_schema)


def tdigest_sliding(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    window_sec: int,
    slide_sec: int,
    by: Sequence[str] = (),
    delta: int = 200,
    digest_col: str = "digest",
) -> DataFrame:
    """Sliding event-time window digests via PANES: rows aggregate once
    into gcd(window, slide)-sized tumbling pane digests, then each pane
    digest is exploded to the window/slide sliding windows it belongs
    to and merged per (window_start, keys) — the classic pane
    optimization: raw rows are aggregated exactly once (vs the
    window/slide-fold row duplication of ``groupBy(window(ts, w, s))``),
    and only O(panes x delta) digest rows fan out.

    Windows are epoch-aligned like Spark's ``window()``. Output:
    (window_start timestamp, by..., digest). Exact in lossless mode
    (digest merge is associative), within the k1 bound otherwise.
    """
    by = list(by)
    pane_sec = math.gcd(int(window_sec), int(slide_sec))
    # cast handles TIMESTAMP_NTZ inputs (unix_micros requires TIMESTAMP;
    # session tz is UTC so the wall time is preserved)
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    src = df.select(
        F.floor(t_us / (pane_sec * 1_000_000)).alias("__pane"),
        *by,
        F.col(value_col),
    )
    panes = tdigest_agg(src, value_col, by=["__pane", *by], delta=delta,
                        digest_col=digest_col)
    return panes_to_sliding(
        panes, pane_sec, window_sec, slide_sec, by=by,
        digest_col=digest_col, delta=delta,
    )


def panes_to_sliding(
    panes: DataFrame,
    pane_sec: int,
    window_sec: int,
    slide_sec: int,
    by: Sequence[str] = (),
    digest_col: str = "digest",
    pane_col: str = "__pane",
    delta: int | None = None,
) -> DataFrame:
    """Derive SLIDING-window digests from tumbling PANE digests by
    associative merge — the second half of :func:`tdigest_sliding`,
    public so a pane table built ANY way (the batch path above, or a
    streaming job emitting final pane digests into a checkpoint table,
    see ``streaming/digest_stream.py``) can be rolled into sliding
    windows without touching raw rows again. ``pane_col`` is the
    epoch-aligned pane index (floor(epoch_sec / pane_sec)); window and
    slide must be pane multiples. Output: (window_start, by..., digest)
    — exact in lossless mode (digest merge is associative)."""
    by = list(by)
    exploded = explode_panes_to_windows(
        panes, pane_sec, window_sec, slide_sec,
        payload_cols=[*by, digest_col], pane_col=pane_col,
    )
    merged = tdigest_merge_agg(
        exploded, by=["__ws", *by], digest_col=digest_col, delta=delta
    )
    return merged.select(
        F.timestamp_micros((F.col("__ws") * 1_000_000).cast("long")).alias(
            "window_start"
        ),
        *by,
        digest_col,
    )


def explode_panes_to_windows(
    panes: DataFrame,
    pane_sec: int,
    window_sec: int,
    slide_sec: int,
    payload_cols: Sequence[str],
    pane_col: str = "__pane",
) -> DataFrame:
    """Fan each epoch-aligned tumbling PANE row out to every sliding
    window that fully covers it — the explode half of the pane
    optimization, shared by :func:`panes_to_sliding` (digests) and
    ``sketch_agg.panes_to_sliding_sketches`` (companion sketches; any
    associative-merge payload works). Output: ``__ws`` (window start,
    epoch seconds) + ``payload_cols``; window and slide must be pane
    multiples."""
    if window_sec % pane_sec or slide_sec % pane_sec:
        raise ValueError(
            f"explode_panes_to_windows: window ({window_sec}) and slide "
            f"({slide_sec}) must be multiples of the pane ({pane_sec})"
        )
    # a pane can be covered by up to floor((window-pane)/slide)+1
    # windows (NOT window//slide, which undercounts when window is not
    # a multiple of slide); candidates are filtered exactly below
    n_back = (window_sec - pane_sec) // slide_sec
    # windows covering pane p (pane interval [p*pane, (p+1)*pane) lies
    # fully inside the window because window/slide are pane multiples):
    # starts s = k*slide with  s <= p*pane  and  s + window >= (p+1)*pane
    pane_t = F.col(pane_col) * pane_sec
    last_start = F.floor(pane_t / slide_sec) * slide_sec
    first_start = last_start - n_back * slide_sec
    return panes.select(
        F.explode(
            F.sequence(first_start.cast("long"), last_start.cast("long"),
                       F.lit(int(slide_sec)))
        ).alias("__ws"),
        pane_t.alias("__pt"),
        *payload_cols,
    ).where(
        # pane fully inside the window; negative (pre-epoch) starts are
        # kept — Spark's window() emits them too
        F.col("__ws") + window_sec >= F.col("__pt") + pane_sec
    ).drop("__pt")


def tdigest_describe(
    df: DataFrame, digest_col: str = "digest"
) -> DataFrame:
    """Observability view of a digest column — the Spark analog of the
    reference's ``debugPrint`` (``Tree/Internal.hs:403-410``) and
    ``size``/``validate`` surface: per row, centroid count, total
    weight, value range, compression delta, max centroid weight, and a
    validity flag (sorted means / positive weights / weight
    conservation, cf. ``validate``, ``Tree/Internal.hs:417-445``)."""
    keep = [c for c in df.columns if c != digest_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField("n_centroids", T.IntegerType()),
            T.StructField("total_weight", T.DoubleType()),
            T.StructField("vmin", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
            T.StructField("delta", T.IntegerType()),
            T.StructField("max_centroid_weight", T.DoubleType()),
            T.StructField("is_valid", T.BooleanType()),
        ]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            rows = []
            for r in pdf[digest_col]:
                d = TDigest.from_row(r)
                try:
                    d.validate()
                    ok = True
                except AssertionError:
                    ok = False
                rows.append(
                    (
                        int(d.size),
                        float(d.total_weight),
                        None if d.is_empty() else float(d.vmin),
                        None if d.is_empty() else float(d.vmax),
                        int(d.delta),
                        float(d.weights.max()) if d.size else None,
                        ok,
                    )
                )
            cols = [
                "n_centroids", "total_weight", "vmin", "vmax", "delta",
                "max_centroid_weight", "is_valid",
            ]
            for i, c in enumerate(cols):
                out[c] = [row[i] for row in rows]
            yield out

    return df.mapInPandas(evaluate, out_schema)


def tdigest_cube(
    df: DataFrame,
    value_col: str,
    dims: Sequence[str],
    delta: int = 200,
    digest_col: str = "digest",
) -> DataFrame:
    """SQL ``GROUP BY CUBE(dims...)`` over digests without rescanning:
    finest-grain digests are built once, then every one of the 2^d
    dimension subsets is derived by associative digest merge (same
    one-scan-all-levels property as :func:`tdigest_rollup`, but over
    the full subset lattice). NULL marks a rolled-up dimension, as in
    SQL CUBE output."""
    dims = list(dims)
    d = len(dims)
    full = (1 << d) - 1
    leaf = tdigest_agg(df, value_col, by=dims, delta=delta, digest_col=digest_col)
    # eager localCheckpoint, NOT persist(): computed once for all 2^d
    # levels (leaf digests are tiny, O(groups x delta)), and the blocks
    # are ContextCleaner-collectable once the result DataFrame is
    # dropped — persist() entries live in the CacheManager until the
    # session ends, leaking storage across repeated calls. Trade-off:
    # the leaf job runs at call time, and checkpoint blocks are not
    # recomputable after executor loss (lineage truncated) — acceptable
    # for this O(groups)-sized intermediate; rerun the call on loss
    raw: dict[int, DataFrame] = {full: leaf.localCheckpoint(eager=True)}
    # each subset derives from its IMMEDIATE lattice parent (one more
    # dimension — the lowest missing one), not from the leaf: the merge
    # input shrinks from O(leaf groups) to O(parent groups) per level
    # (deriving {A} from {A,B} instead of {A,B,C} cuts that level's
    # clustering input by |C|'s cardinality factor — the difference
    # between 2^d full-leaf passes and a lattice descent at 1e6+ leaf
    # groups). Derivation chains are <= d re-compressions — the same
    # depth as any d-level merge tree, exact in lossless mode. Only
    # masks some child actually derives from are checkpointed.
    parent_of = {m: m | (1 << min(i for i in range(d) if not m & (1 << i)))
                 for m in range(full)}
    needed = set(parent_of.values())
    for mask in sorted(range(full), key=lambda m: bin(m).count("1"), reverse=True):
        parent = raw[parent_of[mask]]
        keep = [dims[i] for i in range(d) if mask & (1 << i)]
        # JVM merge path: ~10x faster than the pandas merge at high
        # group counts (see BENCH.md §1d), identical in lossless mode
        lvl = tdigest_merge_agg(
            parent.select(*keep, digest_col), by=keep, digest_col=digest_col
        )
        raw[mask] = lvl.localCheckpoint(eager=True) if mask in needed else lvl
    out = None
    for mask in range(full + 1):
        lvl = raw[mask]
        for i, dim in enumerate(dims):
            if not mask & (1 << i):
                lvl = lvl.withColumn(dim, F.lit(None).cast(leaf.schema[dim].dataType))
        lvl = lvl.select(*dims, digest_col)
        out = lvl if out is None else out.unionByName(lvl)
    return out


def tdigest_grouping_sets(
    df: DataFrame,
    value_col: str,
    sets: Sequence[Sequence[str]],
    dims: Sequence[str] | None = None,
    delta: int = 200,
    digest_col: str = "digest",
    gid_col: str = "grouping_id",
) -> DataFrame:
    """SQL ``GROUP BY GROUPING SETS (...)`` over digests without
    rescanning — the arbitrary-subset generalization of
    :func:`tdigest_rollup` / :func:`tdigest_cube`: finest-grain digests
    over the union of all requested dimensions are built ONCE, then
    each requested set derives by associative digest merge from its
    smallest available superset (a computed sibling set when one
    covers it, else the leaf — the same merge-input-shrinking lattice
    descent as the cube).

    Output matches SQL shape: the union of all dimensions as columns,
    NULL marking an aggregated dimension, plus ``grouping_id`` = the
    SQL GROUPING_ID bitmask (MSB = first dim, bit set when that dim is
    aggregated) so genuinely-NULL keys stay distinguishable from
    rolled-up ones. Duplicate sets emit duplicate rows, as in SQL."""
    sets = [list(s) for s in sets]
    if dims is None:
        dims = []
        for s in sets:
            for c in s:
                if c not in dims:
                    dims.append(c)
    dims = list(dims)
    for s in sets:
        if len(set(s)) != len(s):
            raise ValueError(f"duplicate column in grouping set {s}")
        unknown = set(s) - set(dims)
        if unknown:
            raise ValueError(f"grouping set columns not in dims: {sorted(unknown)}")
    if not dims:
        raise ValueError("grouping sets need at least one dimension overall")

    leaf = tdigest_agg(df, value_col, by=dims, delta=delta, digest_col=digest_col)
    # one scan for every set; localCheckpoint (not persist) — see
    # tdigest_cube for the storage-lifecycle rationale
    leaf = leaf.localCheckpoint(eager=True)

    # plan parents first (pure python): process sets largest-first so
    # a big set can serve as merge input for the small ones it covers
    order = sorted(range(len(sets)), key=lambda i: -len(sets[i]))
    avail: set[frozenset] = {frozenset(dims)}
    parent_for: dict[int, frozenset] = {}
    for i in order:
        s = frozenset(sets[i])
        supers = [a for a in avail if s <= a]
        parent_for[i] = min(supers, key=len)
        avail.add(s)
    reused = {p for i, p in parent_for.items() if p != frozenset(sets[i])}

    computed: dict[frozenset, DataFrame] = {frozenset(dims): leaf}
    results: dict[int, DataFrame] = {}
    for i in order:
        key = frozenset(sets[i])
        if key in computed:
            results[i] = computed[key]
            continue
        parent = computed[parent_for[i]]
        lvl = tdigest_merge_agg(
            parent.select(*sets[i], digest_col), by=sets[i], digest_col=digest_col
        )
        if key in reused:
            lvl = lvl.localCheckpoint(eager=True)
        computed[key] = lvl
        results[i] = lvl

    out = None
    for i, s in enumerate(sets):
        lvl = results[i]
        gid = sum(
            1 << (len(dims) - 1 - j) for j, dim in enumerate(dims) if dim not in s
        )
        for dim in dims:
            if dim not in s:
                lvl = lvl.withColumn(dim, F.lit(None).cast(leaf.schema[dim].dataType))
        lvl = lvl.select(
            *dims, F.lit(gid).cast("int").alias(gid_col), digest_col
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


def tdigest_rollup(
    df: DataFrame,
    value_col: str,
    dims: Sequence[str],
    delta: int = 200,
    digest_col: str = "digest",
) -> DataFrame:
    """SQL ``GROUP BY ROLLUP(dims...)`` over digests WITHOUT rescanning:
    build the finest-grain digests once, then derive every coarser
    level by merging digests upward (digest merge is associative, so
    rollup levels are exact aggregations of the leaf level — the whole
    point of a mergeable sketch at 100 TB: one scan, all levels).

    Output matches SQL ROLLUP shape: coarser levels carry NULL in the
    rolled-up dimension columns, plus a grand-total row.
    """
    dims = list(dims)
    leaf = tdigest_agg(df, value_col, by=dims, delta=delta, digest_col=digest_col)
    # leaf digests are tiny (O(groups * delta)); computed once and
    # reused for every level — eager localCheckpoint instead of
    # persist() so the blocks are freed with the DataFrame (see
    # tdigest_cube)
    leaf = leaf.localCheckpoint(eager=True)
    levels = [leaf]
    cur = leaf
    for i in range(len(dims) - 1, -1, -1):
        keep = dims[:i]
        cur = tdigest_merge_agg(
            cur.select(*keep, digest_col), by=keep, digest_col=digest_col
        )
        lvl = cur
        for d in dims[i:]:
            lvl = lvl.withColumn(d, F.lit(None).cast(leaf.schema[d].dataType))
        levels.append(lvl.select(*dims, digest_col))
    out = levels[0].select(*dims, digest_col)
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out
