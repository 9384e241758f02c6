"""Distributed aggregation for the companion sketches (HLL / Bloom /
count-min / KLL / bottom-k KMV — plus t-digest as the "td" kind for
scan fusion) — same partial/final UDAF shape as digest_agg.py:

  stage 1  ``mapInPandas``  — one sketch per (input partition x group),
           updated vectorized per Arrow batch (never per-row Python).
           Raw rows never shuffle; only fixed-size sketch blobs do.
  stage 2  ``groupBy(keys).applyInPandas`` — associative merge per
           group (HLL: register max, Bloom: OR, CMS: add, KLL: level
           concat + compact).

Sketch state travels as ``BinaryType`` blobs (each core defines its own
wire format), so one operator hosts every sketch kind and a single scan
can build many sketches at once — the shape a 100 TB feature-sketching
pass wants: one pass over the table, O(groups x sketches) bytes out.

The reference has no companion sketches (SURVEY.md §2.8); the Monoid
merge contract mirrors its digest ``<>`` (``Tree/Internal.hs:65-77``).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tdigest_spark.operators.digest_agg import _eval_stat, canon_key
from tdigest_spark.sketch.bloom import BloomFilter
from tdigest_spark.sketch.cms import CountMin
from tdigest_spark.sketch.fd import FrequentDirections, stack_vectors
from tdigest_spark.sketch.hll import HLL
from tdigest_spark.sketch.kll import KLL
from tdigest_spark.sketch.kmv import KMV
from tdigest_spark.sketch.tdigest import TDigest

__all__ = [
    "sketch_build",
    "sketch_merge_agg",
    "sketch_sliding",
    "panes_to_sliding_sketches",
    "sketch_estimates",
    "bloom_probe",
    "cms_probe",
    "cms_grouped_build",
    "cms_grouped_probe",
    "cms_join_size",
    "sketch_agg",
    "hll_overlap",
    "kmv_samples",
]


class _Kind:
    """Adapter: new / vectorized update / merge / (de)serialize."""

    name: str
    cast: str  # Spark-side cast for the value column

    def new(self, params: tuple):
        raise NotImplementedError

    def aux_cols(self, params: tuple) -> list[tuple[str, str]]:
        """Extra (column, cast) inputs beyond the value column."""
        return []

    def update(self, obj, series: pd.Series, *aux: pd.Series):
        vals = series.dropna()
        if len(vals):
            obj.add(vals.to_numpy())
        return obj


class _HLLKind(_Kind):
    name, cast = "hll", "string"

    def new(self, params):
        return HLL(p=params[0] if params else 12)

    def grouped_update(self, accs, name, pdf, by, val, params):
        """Batch-level grouped update: hash the WHOLE Arrow batch once,
        compute (register, rank) vectorized, then scatter-max per group
        — removes the dominant per-group-call overhead at high group
        cardinality (one hash64/Series-construction per batch instead
        of one per group; see BENCH.md §1e)."""
        from tdigest_spark.sketch.hashing import hash64

        s = pdf[val]
        mask = s.notna().to_numpy()
        if not mask.any():
            return
        p = params[0] if params else 12
        idx, rho = HLL.idx_rho(hash64(s[mask]), p)
        frame = pd.DataFrame({c: pdf[c].to_numpy()[mask] for c in by})
        frame["__i"] = idx
        frame["__r"] = rho
        for key, g in frame.groupby(by, sort=False, dropna=False):
            key = canon_key(key if isinstance(key, tuple) else (key,))
            sk = accs.setdefault(key, {})
            obj = sk.get(name) or HLL(p)
            np.maximum.at(obj.registers, g["__i"].to_numpy(), g["__r"].to_numpy())
            sk[name] = obj


class _BloomKind(_Kind):
    name, cast = "bloom", "string"

    def new(self, params):
        n_bits = params[0] if params else (1 << 20)
        n_hashes = params[1] if len(params) > 1 else 7
        return BloomFilter(n_bits=n_bits, n_hashes=n_hashes)


class _CMSKind(_Kind):
    name, cast = "cms", "string"

    def new(self, params):
        eps = params[0] if params else 0.001
        delta = params[1] if len(params) > 1 else 0.01
        return CountMin.for_error(eps=eps, delta=delta)

    def update(self, obj, series):
        vals = series.dropna()
        if len(vals):
            uniq, cnt = np.unique(vals.to_numpy(), return_counts=True)
            obj.add(uniq, cnt)
        return obj


class _KLLKind(_Kind):
    name, cast = "kll", "double"

    def new(self, params):
        return KLL(k=params[0] if params else 200)


class _KLLWeightedKind(_Kind):
    """Weighted KLL (KLL± direction, PAPERS.md): spec is
    ``("kll_w", value_col, weight_col, k)`` — integer weights decomposed
    over the level ladder (see ``KLL.add_weighted``)."""

    name, cast = "kll_w", "double"

    def new(self, params):
        return KLL(k=params[1] if len(params) > 1 else 200)

    def aux_cols(self, params):
        return [(params[0], "double")]

    def update(self, obj, series, wseries):
        mask = series.notna() & wseries.notna()
        if mask.any():
            obj.add_weighted(series[mask].to_numpy(), wseries[mask].to_numpy())
        return obj


class _KMVKind(_Kind):
    """Bottom-k distinct sample + KMV distinct estimate: spec is
    ``("kmv", value_col, k=256)``."""

    name, cast = "kmv", "string"

    def new(self, params):
        return KMV(k=params[0] if params else 256)


class _TDigestKind(_Kind):
    """t-digest as a kind in the ONE-PASS multi-sketch builder: spec is
    ``("td", value_col, delta=200)``. The primary digest surface stays
    :func:`tdigest_agg` (struct wire format, JVM merge engine, stats
    fusion); this kind exists for SCAN FUSION — rank sketches and
    companion sketches built in the same pass over the table (at
    100 TB every extra pass doubles the job; ``jobs/webpages.py``
    builds its per-lang digest + HLL through this kind). Blobs use the
    compact ``TDigest.to_bytes`` codec; query them with the ``td_*``
    estimate functions or rebuild via ``TDigest.from_bytes``."""

    name, cast = "td", "double"

    def new(self, params):
        return TDigest.empty(params[0] if params else 200)

    def update(self, obj, series):
        vals = series.dropna()
        if len(vals):
            obj = obj.add_values(vals.to_numpy())
        return obj


class _FDKind(_Kind):
    """Frequent-directions matrix sketch as a kind: spec is
    ``("fd", vec_col, ell, d)`` (the dimension is required up front —
    ``new()`` must produce a mergeable empty sketch before any data is
    seen). Exists for SCAN FUSION: spectral summaries built in the
    same pass as the scalar sketches over an embeddings table; the
    dedicated surface (:mod:`~tdigest_spark.operators.fd_agg`) stays
    primary for stats/projection/drift."""

    name, cast = "fd", "array<double>"

    def new(self, params):
        if len(params) < 2:
            raise ValueError('fd kind needs ("fd", vec_col, ell, d)')
        return FrequentDirections(params[0], params[1])

    def update(self, obj, series):
        mat = stack_vectors(series)
        if mat is not None:
            obj.add(mat)
        return obj


KINDS: dict[str, _Kind] = {
    k.name: k
    for k in (
        _HLLKind(),
        _BloomKind(),
        _CMSKind(),
        _KLLKind(),
        _KLLWeightedKind(),
        _KMVKind(),
        _TDigestKind(),
        _FDKind(),
    )
}


_CLS = {
    "hll": HLL,
    "bloom": BloomFilter,
    "cms": CountMin,
    "kll": KLL,
    "kll_w": KLL,
    "kmv": KMV,
    "td": TDigest,
    "fd": FrequentDirections,
}


def _norm_specs(specs: dict[str, tuple]) -> dict[str, tuple[str, str, tuple]]:
    """out_col -> (kind, value_col, params)."""
    out = {}
    for name, spec in specs.items():
        kind, col, *params = spec
        if kind not in KINDS:
            raise ValueError(f"unknown sketch kind {kind!r} (have {sorted(KINDS)})")
        out[name] = (kind, col, tuple(params))
    return out


def sketch_build(
    df: DataFrame,
    specs: dict[str, tuple],
    by: Sequence[str] = (),
    strategy: str = "partials",
) -> DataFrame:
    """Build many sketches in ONE pass: ``specs`` maps output column ->
    ``(kind, value_col, *params)``; returns one row per group with a
    binary blob per sketch.

    Kinds / params: ``("hll", col, p=12)``, ``("bloom", col,
    n_bits=1<<20, n_hashes=7)``, ``("cms", col, eps=0.001,
    delta=0.01)``, ``("kll", col, k=200)``, ``("kll_w", col,
    weight_col, k=200)``, ``("kmv", col, k=256)``, ``("td", col,
    delta=200)``, ``("fd", vec_col, ell, d)``.

    ``strategy`` (same regime split as ``tdigest_agg``'s
    ``build_engine``): ``"partials"`` (default) does map-side partial
    sketches + merge — raw rows never shuffle, the right plan when
    groups are FEW (the shuffle is O(partitions x groups) blobs).
    ``"rows"`` repartitions the RAW rows by key and builds each group's
    sketch exactly once, with NO merge stage — the right plan when
    group cardinality approaches the row count, where the partial plan
    inverts (a fixed-size blob per group x partition is BIGGER than the
    rows it summarizes, and the blob shuffle dwarfs the raw rows:
    measured 73 s -> ~6-8 s for HLL over 1.6M rows x 1e5 groups with
    the batch-level grouped update, BENCH.md §1e).

    WIDE sketches (CMS ~50 KB, Bloom ~128 KB at defaults) should not be
    built per-group at high group cardinality under EITHER strategy —
    the output alone is groups x blob bytes. For per-group frequency at
    1e5+ groups use :func:`cms_grouped_build` / :func:`cms_grouped_probe`,
    which sketch ONE global CMS over the concatenated ``(group, key)``
    pair and probe with the same concatenation.
    """
    by = list(by)
    specs = _norm_specs(specs)
    # project + cast once, de-duplicating (value_col, cast) pairs
    proj: dict[str, object] = {}
    in_col: dict[str, tuple[str, list[str]]] = {}

    def _alias(col: str, cast: str) -> str:
        a = f"__sk_{col}_{cast}"
        proj[a] = F.col(col).cast(cast).alias(a)
        return a

    for name, (kind, col, params) in specs.items():
        val = _alias(col, KINDS[kind].cast)
        aux = [_alias(c, cast) for c, cast in KINDS[kind].aux_cols(params)]
        in_col[name] = (val, aux)
    src = df.select(*[F.col(c) for c in by], *proj.values())

    out_schema = T.StructType(
        [src.schema[c] for c in by]
        + [T.StructField(name, T.BinaryType(), True) for name in specs]
    )

    # kinds with a batch-level grouped update (one hash per Arrow batch,
    # scatter per group) vs the generic per-group update loop
    fast_specs = {
        n: s
        for n, s in specs.items()
        if by and hasattr(KINDS[s[0]], "grouped_update")
    }
    slow_specs = {n: s for n, s in specs.items() if n not in fast_specs}

    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple, dict[str, object]] = {}
        for pdf in batches:
            if fast_specs and not slow_specs:
                # the grouped updates skip all-NULL groups entirely —
                # register every group key seen in the batch so those
                # groups still emit their (empty-sketch) row, matching
                # the per-group loop's semantics (same groupby call so
                # the key scalars are identical to the update paths')
                keys = pdf.groupby(by, sort=False, dropna=False).size().index
                for key in keys:
                    accs.setdefault(
                        canon_key(key if isinstance(key, tuple) else (key,)), {}
                    )
            for name, (kind, _col, params) in fast_specs.items():
                val, _aux = in_col[name]
                KINDS[kind].grouped_update(accs, name, pdf, by, val, params)
            if slow_specs:
                groups = (
                    pdf.groupby(by, sort=False, dropna=False) if by else [((), pdf)]
                )
                for key, g in groups:
                    key = canon_key(key if isinstance(key, tuple) else (key,))
                    sk = accs.setdefault(key, {})
                    for name, (kind, _col, params) in slow_specs.items():
                        obj = sk.get(name) or KINDS[kind].new(params)
                        val, aux = in_col[name]
                        sk[name] = KINDS[kind].update(obj, g[val], *(g[a] for a in aux))
        if not accs:
            return
        data: dict[str, list] = {c: [] for c in by}
        for name in specs:
            data[name] = []
        for key, sk in accs.items():
            for c, k in zip(by, key):
                data[c].append(k)
            for name, (kind, _col, params) in specs.items():
                # a group may have had no non-null rows for one spec
                # (the grouped path skips them): emit the empty sketch
                obj = sk.get(name) or KINDS[kind].new(params)
                data[name].append(obj.to_bytes())
        yield pd.DataFrame(data)

    if strategy == "rows":
        if not by:
            raise ValueError('strategy="rows" requires grouping keys (by=...)')
        # co-partition raw rows by key: every key lands in exactly one
        # partition, so the per-partition accumulator IS the final
        # sketch — one Python stage, no blob merge at all
        return src.repartition(*[F.col(c) for c in by]).mapInPandas(
            build_partials, out_schema
        )
    if strategy != "partials":
        raise ValueError(f"unknown sketch_build strategy {strategy!r}")

    partials = src.mapInPandas(build_partials, out_schema)
    kinds = {name: kind for name, (kind, _col, _p) in specs.items()}
    return _final_merge(partials, kinds, by, out_schema)


def _merge_cells(kind: str, cells, acc=None):
    """Merge a column of blobs into ``acc``; NULL blobs are skipped, so
    all-NULL cells leave ``acc`` (None: the merge is NULL)."""
    for obj in _decode(kind, cells):
        if obj is not None:
            acc = obj if acc is None else acc.merge(obj)
    return acc


def _blob(acc) -> bytes | None:
    return None if acc is None else acc.to_bytes()


def _final_merge(
    partials: DataFrame, kinds: dict[str, str], by: list, out_schema
) -> DataFrame:
    """The final level shared by :func:`sketch_build`,
    :func:`sketch_merge_agg` and ``fd_agg.fd_merge_agg``: one merged
    blob per column per group — ``groupBy(by).applyInPandas`` when
    grouped, one single-task ``mapInPandas`` reduce when keyless. NULL
    blobs (nullable checkpoint columns) are skipped; a group with no
    blob left merges to NULL."""

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {c: [pdf[c].iloc[0]] for c in by}
        for c, kind in kinds.items():
            out[c] = [_blob(_merge_cells(kind, pdf[c]))]
        return pd.DataFrame(out)

    if by:
        return partials.groupBy(*by).applyInPandas(final, out_schema)

    def final_global(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            yield final(pd.concat(chunks, ignore_index=True))

    # the partials (already one per input partition after the
    # partition-local combine) go to one task
    return partials.repartition(1).mapInPandas(final_global, out_schema)


def sketch_merge_agg(
    df: DataFrame,
    kinds: dict[str, str],
    by: Sequence[str] = (),
    strategy: str = "partials",
) -> DataFrame:
    """Merge EXISTING sketch-blob columns per group (the companion-
    sketch analog of ``tdigest_merge_agg`` — the reference's ``<>``,
    ``Tree/Internal.hs:143-153``). ``kinds`` maps blob column ->
    sketch kind. This is what rollups over checkpointed sketch tables
    use: coarser groupings derive from finer ones by associative merge,
    never rescanning the raw table.

    ``strategy="partials"`` (default): partition-local merges first, so
    one blob per (partition x group x column) shuffles — right when the
    output grouping is much coarser than the input rows.
    ``strategy="rows"``: co-partition the input blobs by key and merge
    once per group in a single Python stage (no per-group applyInPandas
    invocation) — right when output groups ~ input rows, same regime
    split as :func:`sketch_build`.
    """
    by = list(by)
    cols = list(kinds)
    src = df.select(*by, *cols)
    out_schema = T.StructType(
        [src.schema[c] for c in by]
        + [T.StructField(c, T.BinaryType(), True) for c in cols]
    )

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulators hold LIVE sketch objects, serialized once at
        # yield — round-tripping the accumulator through bytes per
        # (batch x group x column) would be pure serialization churn
        # (a 128 KB Bloom re-encoded every Arrow batch)
        accs: dict[tuple, dict[str, object]] = {}
        for pdf in batches:
            groups = pdf.groupby(by, sort=False, dropna=False) if by else [((), pdf)]
            for key, g in groups:
                key = canon_key(key if isinstance(key, tuple) else (key,))
                sk = accs.setdefault(key, {})
                for c in cols:
                    sk[c] = _merge_cells(kinds[c], g[c], sk.get(c))
        if not accs:
            return
        data: dict[str, list] = {c: [] for c in by}
        for c in cols:
            data[c] = []
        for key, sk in accs.items():
            for c, k in zip(by, key):
                data[c].append(k)
            for c in cols:
                data[c].append(_blob(sk[c]))
        yield pd.DataFrame(data)

    if strategy == "rows":
        if not by:
            raise ValueError('strategy="rows" requires grouping keys (by=...)')
        # co-partitioned by key: the per-partition accumulator IS the
        # final merge — one Python stage, one output row per group
        return src.repartition(*[F.col(c) for c in by]).mapInPandas(
            partial, out_schema
        )
    if strategy != "partials":
        raise ValueError(f"unknown sketch_merge_agg strategy {strategy!r}")

    return _final_merge(src.mapInPandas(partial, out_schema), kinds, by, out_schema)


def sketch_sliding(
    df: DataFrame,
    specs: dict[str, tuple],
    ts_col: str,
    window_sec: int,
    slide_sec: int,
    by: Sequence[str] = (),
    strategy: str = "partials",
) -> DataFrame:
    """Sliding event-time window SKETCHES via panes — the companion-
    sketch analog of ``digest_agg.tdigest_sliding`` (rolling distinct
    users per hour over the last 24h, rolling heavy-key frequency,
    rolling quantiles): rows aggregate ONCE into gcd(window, slide)
    tumbling pane sketches, then each pane blob fans out to the
    window/slide sliding windows covering it and merges per
    (window_start, keys). Raw rows are touched exactly once — vs the
    window/slide-fold row duplication of ``groupBy(window(ts, w, s))``
    — and only O(panes x blob) rows shuffle in the fan-out, the only
    shape that survives 100 TB of raw rows.

    EXACT (byte-identical to the direct per-window build) for hll /
    bloom / cms / kmv — their merges are max/or/add/min-k, insensitive
    to grouping order; kll / td land within their published bounds.
    Output: (window_start timestamp, by..., blob per spec). Windows
    are epoch-aligned like Spark's ``window()``.
    """
    import math

    by = list(by)
    pane_sec = math.gcd(int(window_sec), int(slide_sec))
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    norm = _norm_specs(specs)
    value_cols = {s[1] for s in norm.values()}
    aux_cols = {
        c
        for name, s in norm.items()
        for c, _ in KINDS[s[0]].aux_cols(s[2])
    }
    src = df.select(
        F.floor(t_us / (pane_sec * 1_000_000)).alias("__pane"),
        *by,
        *sorted(value_cols | aux_cols),
    )
    panes = sketch_build(src, specs, by=["__pane", *by], strategy=strategy)
    return panes_to_sliding_sketches(
        panes, {name: s[0] for name, s in norm.items()},
        pane_sec, window_sec, slide_sec, by=by,
    )


def panes_to_sliding_sketches(
    panes: DataFrame,
    kinds: dict[str, str],
    pane_sec: int,
    window_sec: int,
    slide_sec: int,
    by: Sequence[str] = (),
    pane_col: str = "__pane",
) -> DataFrame:
    """Roll tumbling PANE sketch blobs into SLIDING windows by
    associative merge — the second half of :func:`sketch_sliding`,
    public so a pane table built any way (batch above, or a streaming
    ``sketch_sink`` keyed by pane) rolls forward without rescanning
    raw rows. ``kinds`` maps blob column -> sketch kind; ``pane_col``
    is the epoch-aligned pane index (floor(epoch_sec / pane_sec))."""
    from tdigest_spark.operators.digest_agg import explode_panes_to_windows

    by = list(by)
    exploded = explode_panes_to_windows(
        panes, pane_sec, window_sec, slide_sec,
        payload_cols=[*by, *kinds], pane_col=pane_col,
    )
    merged = sketch_merge_agg(exploded, kinds, by=["__ws", *by])
    return merged.select(
        F.timestamp_micros((F.col("__ws") * 1_000_000).cast("long")).alias(
            "window_start"
        ),
        *by,
        *kinds,
    )


_EST_FNS = {
    # est name -> (blob kind, fn(obj, *args) -> float); t-digest
    # statistics are the td_<stat> rule of _est_fn, not entries here
    "hll_estimate": ("hll", lambda o: o.estimate()),
    "kll_quantile": ("kll", lambda o, q: o.quantile(q)),
    "kll_cdf": ("kll", lambda o, x: o.cdf(x)),
    "kll_n": ("kll", lambda o: float(o.n)),
    "cms_total": ("cms", lambda o: float(o.total)),
    "cms_eps_bound": ("cms", lambda o: o.eps_bound()),
    "bloom_fpp": ("bloom", lambda o: o.expected_fpp()),
    "kmv_estimate": ("kmv", lambda o: o.estimate()),
    "fd_n_rows": ("fd", lambda o: float(o.n_rows)),
    "fd_frob_sq": ("fd", lambda o: o.frob_sq),
    "fd_err_bound": ("fd", lambda o: o.error_bound()),
}


def _est_fn(est: str):
    """est name -> (blob kind, fn); ``td_<stat>`` is ``_eval_stat``, so
    it takes exactly the stats ``tdigest_stats`` takes."""
    if est.startswith("td_"):
        stat = est[3:]
        return "td", lambda d, *args: _eval_stat(d, stat, args)
    return _EST_FNS[est]


def _decode(kind: str, cells, struct: bool = False) -> Iterator:
    """Decode a column of sketch cells lazily, one decode per cell. A
    ``DIGEST_TYPE`` struct cell is read with ``TDigest.from_row``, so a
    NULL struct is the empty digest; a blob is read with the kind's
    ``from_bytes``, and a NULL blob stays None (its estimates are NULL;
    the merges skip it)."""
    if struct:
        return (TDigest.from_row(r) for r in cells)
    cls = _CLS[kind]
    return (None if b is None else cls.from_bytes(bytes(b)) for b in cells)


def _evaluate(fn, objs, arg_rows) -> pd.Series:
    """``fn(obj, *args)`` per decoded cell as float64 (NULL for None)."""
    return pd.Series(
        [None if o is None else fn(o, *a) for o, a in zip(objs, arg_rows)],
        dtype="float64",
    )


def kmv_samples(
    df: DataFrame, sketch_col: str, out_col: str = "sample"
) -> DataFrame:
    """Explode a KMV blob column into its uniform distinct-value
    sample (array<string>, hash order = random order w.r.t. the
    data). ``sketch_estimates`` handles the numeric estimate; this is
    the value surface."""
    keep = [c for c in df.columns if c != sketch_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(out_col, T.ArrayType(T.StringType()), True)]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            out[out_col] = [
                KMV.from_bytes(bytes(b)).sample() for b in pdf[sketch_col]
            ]
            yield out

    return df.mapInPandas(evaluate, out_schema)


def sketch_estimates(
    df: DataFrame, est_specs: dict[str, tuple], drop_sketches: bool = True
) -> DataFrame:
    """Evaluate estimates over sketch columns. ``est_specs`` maps
    output column -> ``(est_name, sketch_col, *args)``, e.g.
    ``{"n_distinct": ("hll_estimate", "hll_text"),
       "p50": ("kll_quantile", "kll_len", 0.5)}``.

    The one stats evaluator (``tdigest_stats`` and the SQL functions
    call it): ``td_<stat>`` reads a ``"td"`` blob or a ``DIGEST_TYPE``
    struct column, each cell decoded once per batch (NULL rule: see
    ``_decode``)."""
    fns = {name: _est_fn(s[0]) for name, s in est_specs.items()}
    sketch_cols = {s[1] for s in est_specs.values()}
    structs = {
        c for c in sketch_cols if isinstance(df.schema[c].dataType, T.StructType)
    }
    keep = [c for c in df.columns if not (drop_sketches and c in sketch_cols)]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(name, T.DoubleType(), True) for name in est_specs]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            objs: dict[tuple[str, str], list] = {}
            for name, (est, col, *args) in est_specs.items():
                kind, fn = fns[name]
                if (col, kind) not in objs:
                    objs[col, kind] = list(_decode(kind, pdf[col], col in structs))
                out[name] = _evaluate(
                    fn, objs[col, kind], repeat(tuple(args))
                ).to_numpy()
            yield out

    return df.mapInPandas(evaluate, out_schema)


def _probe(
    probes: DataFrame,
    sketches: DataFrame,
    kind: str,
    sketch_col: str,
    key_col: str,
    out_col: str,
    out_type,
    fn,
    by: Sequence[str] = (),
    null_result=None,
) -> DataFrame:
    """Join (broadcast — sketch table is O(groups)) sketches onto probe
    rows, then evaluate vectorized per group within each Arrow batch.

    Keys are stringified SPARK-side (``cast('string')``) so the probe
    matches the build side exactly — pandas ``astype(str)`` renders
    nullable ints/booleans/doubles differently and would produce
    false negatives. NULL keys get ``null_result``.
    """
    by = list(by)
    key_str = "__probe_key"
    probes = probes.withColumn(key_str, F.col(key_col).cast("string"))
    joined = (
        probes.join(F.broadcast(sketches.select(*by, sketch_col)), on=by)
        if by
        else probes.crossJoin(F.broadcast(sketches.select(sketch_col)))
    )
    keep = [c for c in joined.columns if c not in (sketch_col, key_str)]
    out_schema = T.StructType(
        [joined.schema[c] for c in keep] + [T.StructField(out_col, out_type, True)]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            res = np.full(len(pdf), null_result, dtype=object)
            # one deserialization per distinct blob in the batch
            blobs = pdf[sketch_col].map(bytes)
            for blob, idx in blobs.groupby(blobs, sort=False).groups.items():
                obj = _CLS[kind].from_bytes(blob)
                keys = pdf.loc[idx, key_str]
                mask = keys.notna()
                if mask.any():
                    pos = pdf.index.get_indexer(keys[mask].index)
                    res[pos] = fn(obj, keys[mask])
            out[out_col] = res
            yield out

    return joined.mapInPandas(evaluate, out_schema)


def bloom_probe(
    probes: DataFrame,
    sketches: DataFrame,
    key_col: str,
    sketch_col: str,
    by: Sequence[str] = (),
    out_col: str = "might_contain",
) -> DataFrame:
    """Vectorized Bloom membership of ``probes.key_col`` against the
    (grouped) filters in ``sketches.sketch_col``."""
    return _probe(
        probes, sketches, "bloom", sketch_col, key_col, out_col, T.BooleanType(),
        lambda o, s: list(o.might_contain(s.to_numpy())), by, null_result=False,
    )


def cms_probe(
    probes: DataFrame,
    sketches: DataFrame,
    key_col: str,
    sketch_col: str,
    by: Sequence[str] = (),
    out_col: str = "est_count",
) -> DataFrame:
    """Vectorized count-min point query (est >= true count)."""
    return _probe(
        probes, sketches, "cms", sketch_col, key_col, out_col, T.LongType(),
        lambda o, s: [int(x) for x in o.query(s.to_numpy())], by, null_result=0,
    )


def _composite_key(cols: Sequence[str]):
    """Unambiguous (group..., key) concatenation for wide-sketch
    composition: unit-separator join with an explicit NUL sentinel for
    NULLs. ``concat_ws`` alone would silently DROP nulls, aliasing
    ('a', NULL, 'b') with ('a', 'b', NULL)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    return F.concat_ws("\x1f", *parts)


def cms_grouped_build(
    df: DataFrame,
    key_col: str,
    by: Sequence[str],
    eps: float = 0.001,
    delta: float = 0.01,
    out_col: str = "cms",
) -> DataFrame:
    """Per-group frequency sketching at HIGH group cardinality: ONE
    global count-min over the concatenated ``(by..., key)`` pair — the
    wide-sketch composition the :func:`sketch_build` docstring
    prescribes, as an operator instead of guidance. A per-group CMS at
    1e5+ groups costs groups x ~50 KB of output alone; this costs ONE
    blob with the identical one-sided guarantee, except the ``eps*N``
    overcount bound is relative to the GLOBAL total N (all groups'
    mass), not the per-group total — size ``eps`` for the global N.
    Probe with :func:`cms_grouped_probe` (same concatenation on the
    probe side). Returns a single-row DataFrame (``out_col`` blob)."""
    keyed = df.select(_composite_key([*by, key_col]).alias("__gk"))
    return sketch_build(keyed, {out_col: ("cms", "__gk", eps, delta)})


def cms_grouped_probe(
    probes: DataFrame,
    sketches: DataFrame,
    key_col: str,
    by: Sequence[str],
    sketch_col: str = "cms",
    out_col: str = "est_count",
) -> DataFrame:
    """Point-query a :func:`cms_grouped_build` sketch: each probe row's
    ``(by..., key)`` is concatenated Spark-side exactly like the build
    side, so est_count >= the true (group, key) count with the CMS
    eps*N_global overcount bound."""
    keyed = probes.withColumn("__gk", _composite_key([*by, key_col]))
    return cms_probe(keyed, sketches, "__gk", sketch_col, by=(), out_col=out_col).drop(
        "__gk"
    )


def cms_join_size(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
    eps: float = 0.001,
    delta: float = 0.01,
) -> DataFrame:
    """Equi-join SIZE estimate without running the join: each side is
    reduced to ONE global count-min blob (a map-side-combined scan, no
    shuffle of the keys), and the join cardinality
    ``sum_k f_a(k) * f_b(k)`` is read off the blobs' row-wise dot
    product (Cormode-Muthukrishnan 2005 Thm 3) — the cardinality
    estimator a planner wants before committing 100 TB to a shuffle
    strategy. One-sided like the point query: ``est >= true`` and
    ``est <= true + eps * N_a * N_b`` with prob 1 - delta (size
    ``eps`` against the PRODUCT of the stream lengths). Grouped join
    keys compose via the same (group, key) concatenation as
    :func:`cms_grouped_build`. Returns one row:
    ``est, bound, n_a, n_b``."""
    from tdigest_spark.sketch.cms import CountMin

    sa = sketch_build(
        a.select(F.col(a_key).cast("string").alias("__k")),
        {"c": ("cms", "__k", eps, delta)},
    )
    sb = sketch_build(
        b.select(F.col(b_key).cast("string").alias("__k")),
        {"c": ("cms", "__k", eps, delta)},
    )
    # An empty side yields ZERO rows from the global reduce (not a row
    # with an empty blob) — an empty stream joins to nothing, so report
    # est=0/bound=0 rather than crashing on collect()[0].
    rows_a, rows_b = sa.collect(), sb.collect()
    if not rows_a or not rows_b:
        schema = T.StructType(
            [
                T.StructField("est", T.LongType()),
                T.StructField("bound", T.DoubleType()),
                T.StructField("n_a", T.LongType()),
                T.StructField("n_b", T.LongType()),
            ]
        )
        n_a = 0 if not rows_a else int(CountMin.from_bytes(rows_a[0]["c"]).total)
        n_b = 0 if not rows_b else int(CountMin.from_bytes(rows_b[0]["c"]).total)
        return a.sparkSession.createDataFrame([(0, 0.0, n_a, n_b)], schema)
    ca = CountMin.from_bytes(rows_a[0]["c"])
    cb = CountMin.from_bytes(rows_b[0]["c"])
    schema = T.StructType(
        [
            T.StructField("est", T.LongType()),
            T.StructField("bound", T.DoubleType()),
            T.StructField("n_a", T.LongType()),
            T.StructField("n_b", T.LongType()),
        ]
    )
    return a.sparkSession.createDataFrame(
        [
            (
                ca.inner_product(cb),
                float(ca.inner_product_bound(cb)),
                int(ca.total),
                int(cb.total),
            )
        ],
        schema,
    )


def sketch_agg(
    df: DataFrame,
    specs: dict[str, tuple],
    by: Sequence[str] = (),
    estimates: dict[str, tuple] | None = None,
) -> DataFrame:
    """Convenience: build + (optionally) estimate in one call. With no
    ``estimates``, derives the natural scalar per sketch (hll ->
    estimate, kll -> median, cms -> total, bloom -> expected fpp)."""
    built = sketch_build(df, specs, by=by)
    if estimates is None:
        natural = {
            "hll": "hll_estimate", "kll": "kll_quantile", "kll_w": "kll_quantile",
            "cms": "cms_total", "bloom": "bloom_fpp",
        }
        estimates = {}
        for name, (kind, _col, *_p) in specs.items():
            est = natural[kind]
            estimates[f"{name}_est"] = (
                (est, name, 0.5) if kind in ("kll", "kll_w") else (est, name)
            )
    return sketch_estimates(built, estimates)


def hll_overlap(
    df: DataFrame,
    blob_a: str,
    blob_b: str,
    out_col: str = "overlap_est",
    union_col: str = "union_est",
) -> DataFrame:
    """Set-overlap estimate |A ∩ B| from two HLL blob columns by
    inclusion-exclusion: est(A) + est(B) − est(A ∪ B), where the union
    sketch is the exact register max (HLL union is lossless). This is
    the contamination-check shape a training pipeline needs — e.g.
    "how many benchmark documents leaked into this shard" — computed
    from two O(2^p)-byte sketches instead of a distinct-join of the
    corpora. Error is O(1.04/sqrt(m)) RELATIVE TO THE UNION size (error
    propagation over three estimates), so also emits ``union_col`` for
    callers to build tolerance bounds. Runs per Arrow batch; blobs ride
    the rows."""
    keep = list(df.columns)
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField(out_col, T.DoubleType(), True),
            T.StructField(union_col, T.DoubleType(), True),
        ]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            ov, un = [], []
            for ba, bb in zip(pdf[blob_a], pdf[blob_b]):
                a = HLL.from_bytes(bytes(ba))
                b = HLL.from_bytes(bytes(bb))
                u = a.merge(b).estimate()
                ov.append(a.estimate() + b.estimate() - u)
                un.append(u)
            out[out_col] = pd.array(ov, dtype="float64")
            out[union_col] = pd.array(un, dtype="float64")
            yield out

    return df.mapInPandas(evaluate, out_schema)


def kmv_overlap(
    df: DataFrame,
    blob_a: str,
    blob_b: str,
    jaccard_col: str = "jaccard_est",
    out_col: str = "overlap_est",
    union_col: str = "union_est",
) -> DataFrame:
    """Jaccard + intersection + union estimates from two KMV blob
    columns (Beyer et al. 2007: the k smallest union hashes are a
    uniform sample of the union domain, and a union-sample hash
    belonging to a side's SET is always present in that side's SKETCH,
    so the in-both fraction estimates Jaccard directly). Compared to
    :func:`hll_overlap`'s inclusion-exclusion, the estimate is DIRECT
    — its error scales with the intersection fraction, not with the
    union size, so small overlaps (the contamination-check regime:
    "which 0.1% of the benchmark leaked in") stay resolvable. Exact
    whenever the union carries fewer than k distinct values. NULL
    metrics where both sides are empty."""
    keep = list(df.columns)
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField(jaccard_col, T.DoubleType(), True),
            T.StructField(out_col, T.DoubleType(), True),
            T.StructField(union_col, T.DoubleType(), True),
        ]
    )

    def evaluate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            jc, ov, un = [], [], []
            for ba, bb in zip(pdf[blob_a], pdf[blob_b]):
                # NULL blob (checkpointed nullable column) -> NULL metrics,
                # matching fd_subspace_drift's None handling.
                if ba is None or bb is None:
                    res = None
                else:
                    res = KMV.from_bytes(bytes(ba)).overlap(
                        KMV.from_bytes(bytes(bb))
                    )
                if res is None:
                    jc.append(None), ov.append(None), un.append(None)
                else:
                    jc.append(res[0]), ov.append(res[1]), un.append(res[2])
            out[jaccard_col] = pd.array(jc, dtype="float64")
            out[out_col] = pd.array(ov, dtype="float64")
            out[union_col] = pd.array(un, dtype="float64")
            yield out

    return df.mapInPandas(evaluate, out_schema)
