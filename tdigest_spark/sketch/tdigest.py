"""Merging t-digest core — pure numpy, no Spark dependency.

From-scratch implementation of the Dunning/Ertl *merging* t-digest
(the algorithm behind the reference's vector variant,
``tdigest/src/Data/TDigest/Vector/Internal.hs:29-206`` in
phadej/tdigest), re-expressed as columnar numpy passes:

* state = sorted ``means``/``weights`` arrays + exact running
  ``vmin``/``vmax`` + ``total_weight`` + compression ``delta``
  (cf. ``Vector/Internal.hs:29-36``; we track exact min/max instead of
  left/rightmost centroid centers, cf. ``Tree/Internal.hs:114-118``)
* compression = one closed-form k1 clustering: each point's cluster id
  is ``floor(k(q_mid))`` under the scale function
  ``k(q) = delta*(asin(2q-1)/pi + 1/2)`` (``Vector/Internal.hs:106-136``),
  and each id's run collapses to its weighted mean — the same rule the
  JVM merge applies (``digest_agg._k1_cluster_rebuild``), vectorized
  over the whole sorted array instead of the reference's per-centroid
  walk (``Vector/Internal.hs:142-167``)
* merge = concat + the same clustering at the working delta
  (``Vector/Internal.hs:176-186``); ``compressed()`` applies it once
  at the public delta

Query semantics (quantile/cdf) interpolate between *centroid centers*
in rank space. Deliberate divergence from the reference's
midpoint-histogram-bin interpolation (``Postprocess/Internal.hs:70-106``):
center-rank interpolation makes a *lossless* digest (delta large enough
that no merging occurs) agree bit-for-bit-modulo-rounding with SQL
``quantile_cont`` / mid-rank cdf, which is what the DuckDB oracle
checks. Within the published O(1/delta) rank-error bound both
conventions coincide.

NaN/None policy (undefined in the reference, see SURVEY.md §1.2): nulls
and NaNs are dropped, matching SQL aggregate semantics.
"""

from __future__ import annotations

import dataclasses
import math
from dataclasses import dataclass, field

import numpy as np

__all__ = ["TDigest", "ksize", "ksize_inv", "threshold"]

_EMPTY = np.empty(0, dtype=np.float64)


def ksize(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    """k1 scale function: k(q) = delta * (asin(2q-1)/pi + 1/2).

    Mirrors ``Vector/Internal.hs:106-116`` (clamping included).
    """
    q = np.clip(q, 0.0, 1.0)
    return delta * (np.arcsin(2.0 * q - 1.0) / np.pi + 0.5)


def ksize_inv(k: np.ndarray | float, delta: float) -> np.ndarray | float:
    """Inverse of :func:`ksize`: q = (sin((k/delta - 1/2)*pi) + 1)/2.

    Mirrors ``Vector/Internal.hs:129-136`` (clamped to [0,1]).
    """
    k = np.asarray(k, dtype=np.float64)
    out = 0.5 * (np.sin((k / delta - 0.5) * np.pi) + 1.0)
    return np.clip(out, 0.0, 1.0)


def threshold(n: float, q: float, delta: float) -> float:
    """k0-style centroid weight cap: ``4*n*q*(1-q)/delta`` — the
    original size criterion (a centroid at quantile q may hold at most
    this much weight), mirroring ``Tree/Internal.hs:306-313``. The k1
    ``ksize`` criterion is this engine's primary scale function; the
    weight-cap form is provided for parity and for the k0 compression
    pass (:meth:`TDigest.compressed_k0`)."""
    return 4.0 * n * q * (1.0 - q) / delta


def _compress_k0(
    means: np.ndarray, weights: np.ndarray, delta: int
) -> tuple[np.ndarray, np.ndarray]:
    """One greedy merge pass under the k0 WEIGHT-CAP criterion: walking
    mean-sorted centroids, a cluster absorbs its neighbor while the
    combined weight stays within ``threshold(tw, q_mid, delta)``
    evaluated at the combined cluster's mid-rank. Tails get tiny caps
    (q(1-q) -> 0), so extreme quantiles stay near-exact — the same
    accuracy shape as k1, by a different formula. Used only by the
    parity surface ``compressed_k0``; the hot paths compress with k1.
    """
    n = means.shape[0]
    if n <= 1:
        return means, weights
    tw = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cum_before = 0.0
    i = 0
    while i < n:
        w_acc = float(weights[i])
        pivot = float(means[i])
        dot = 0.0  # sum of w * (mean - pivot) over the cluster
        j = i
        while j + 1 < n:
            w_next = float(weights[j + 1])
            q_mid = (cum_before + (w_acc + w_next) / 2.0) / tw
            if w_acc + w_next > threshold(tw, q_mid, float(delta)):
                break
            dot += w_next * (float(means[j + 1]) - pivot)
            w_acc += w_next
            j += 1
        m = pivot + dot / w_acc
        out_m.append(min(max(m, float(means[i])), float(means[j])))
        out_w.append(w_acc)
        cum_before += w_acc
        i = j + 1
    m = np.asarray(out_m, dtype=np.float64)
    w = np.asarray(out_w, dtype=np.float64)
    if m.shape[0] > 1 and np.any(np.diff(m) < 0):
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
    return m, w


def _k1_clusters(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """The one k1 clustering rule, shared with the JVM merge
    (``digest_agg._k1_cluster_rebuild``): sort the points by
    (mean, weight), give each the closed-form cluster id
    ``floor(ksize(q_mid, delta))`` of its mid-rank ``cum - w/2``
    (clipped to [1e-12, 1-1e-12]), and collapse each id's run into its
    weighted mean and total weight. ``ksize`` is monotone, so the ids
    partition the sorted order and no cluster spans more than one k1
    unit (``Vector/Internal.hs:106-116``). Points that already sit in
    distinct clusters come back unchanged, which keeps lossless digests
    exact.
    """
    n = means.shape[0]
    if n <= 1:
        return means, weights
    # a stable argsort is linear on the sorted runs that builds and
    # merges hand in; only tied means with weights out of order need
    # the (much slower) lexsort
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    if ((np.diff(means) == 0) & (np.diff(weights) < 0)).any():
        order = np.lexsort((weights, means))
        means, weights = means[order], weights[order]
    cum = np.cumsum(weights)
    q = np.clip((cum - weights / 2.0) / cum[-1], 1e-12, 1.0 - 1e-12)
    k = np.floor(ksize(q, delta))
    starts = np.flatnonzero(np.concatenate(([True], k[1:] != k[:-1])))
    if starts.shape[0] == n:
        return means, weights
    w = np.add.reduceat(weights, starts)
    m = np.add.reduceat(means * weights, starts) / w
    # clamp into each cluster's own [first, last] range: roundoff can
    # leave it, and a run of tied means must come back exact
    return np.clip(m, means[starts], means[np.append(starts[1:], n) - 1]), w


@dataclass
class TDigest:
    """Mergeable rank-statistics sketch (merging t-digest, k1 scale)."""

    means: np.ndarray = field(default_factory=lambda: _EMPTY)
    weights: np.ndarray = field(default_factory=lambda: _EMPTY)
    total_weight: float = 0.0
    vmin: float = math.inf
    vmax: float = -math.inf
    delta: int = 200

    # Builds and merges cluster at WORK_MULT * delta ("two-level
    # compression" as in production merging digests), so partials carry
    # finer clusters into later merges; only `compressed()` enforces
    # the public delta.
    WORK_MULT = 2

    # ---------------- construction ----------------

    @classmethod
    def empty(cls, delta: int = 200) -> "TDigest":
        return cls(delta=delta)

    @classmethod
    def from_values(
        cls, values: np.ndarray, delta: int = 200, weights: np.ndarray | None = None
    ) -> "TDigest":
        """Bulk build (cf. ``Vector/Internal.hs:278-279``): one k1
        clustering pass at the working delta. Drops NaN. Weights
        default to 1."""
        v = np.asarray(values, dtype=np.float64).ravel()
        if weights is None:
            # unit weights: tied values are interchangeable, so a plain
            # sort (far faster than a stable one on unsorted input)
            # already gives the clustering its (mean, weight) order
            v = np.sort(v[~np.isnan(v)])
            w = np.ones_like(v)
        else:
            w = np.asarray(weights, dtype=np.float64).ravel()
            keep = ~(np.isnan(v) | np.isnan(w) | (w <= 0))
            v, w = v[keep], w[keep]
        if v.size == 0:
            return cls.empty(delta)
        m, w2 = _k1_clusters(v, w, cls.WORK_MULT * delta)
        return cls(
            means=m,
            weights=w2,
            total_weight=float(w.sum()),
            vmin=float(v.min()),
            vmax=float(v.max()),
            delta=delta,
        )

    @classmethod
    def singleton(cls, x: float, delta: int = 200) -> "TDigest":
        """1-point digest (cf. ``Tree/Internal.hs:471-472``)."""
        return cls.from_values(np.asarray([x]), delta)

    # ---------------- algebra ----------------

    @property
    def size(self) -> int:
        """Number of centroids (cf. ``Vector/Internal.hs:59-60``)."""
        return int(self.means.shape[0])

    def is_empty(self) -> bool:
        return self.total_weight <= 0.0

    def merge(self, other: "TDigest") -> "TDigest":
        """Associative-within-bound merge (cf. ``Vector/Internal.hs:176-186``):
        concat both centroid sets and cluster them under the k1 rule at
        the working delta, so a partial never grows past O(delta)
        centroids however many merges it absorbs. Deltas must match
        (runtime check replacing the reference's type-level Nat,
        ``Tree/Internal.hs:36-38``)."""
        if self.is_empty():
            return other
        if other.is_empty():
            return self
        if self.delta != other.delta:
            raise ValueError(
                f"cannot merge digests with different delta ({self.delta} vs {other.delta})"
            )
        m, w = _k1_clusters(
            np.concatenate([self.means, other.means]),
            np.concatenate([self.weights, other.weights]),
            self.WORK_MULT * self.delta,
        )
        return TDigest(
            means=m,
            weights=w,
            total_weight=self.total_weight + other.total_weight,
            vmin=min(self.vmin, other.vmin),
            vmax=max(self.vmax, other.vmax),
            delta=self.delta,
        )

    def compressed(self) -> "TDigest":
        """Cluster to the public delta under the k1 rule (the
        reference's ``finalize``/``forceCompress``,
        ``Vector/Internal.hs:188-206``). Call once before persisting a
        digest; queries work either way."""
        m, w = _k1_clusters(self.means, self.weights, self.delta)
        return dataclasses.replace(self, means=m, weights=w)

    def compressed_k0(self) -> "TDigest":
        """Compress under the k0 WEIGHT-CAP criterion
        (``threshold(n, q, 1/comp)``, ``Tree/Internal.hs:306-313``) —
        the tree variant's size rule, provided for parity with the
        reference's original scale function. Produces a valid t-digest
        (clusters of mean-sorted runs, each within its weight cap);
        the engine's hot paths use the k1 ``ksize`` criterion, which
        bounds cluster *q-widths* directly."""
        m, w = _compress_k0(self.means, self.weights, self.delta)
        return dataclasses.replace(self, means=m, weights=w)

    def add_values(self, values: np.ndarray) -> "TDigest":
        """Batch insert (the UDAF update step): build, then merge."""
        return self.merge(TDigest.from_values(values, self.delta))

    def insert(self, x: float) -> "TDigest":
        """Single-value insert — API parity with the reference's
        ``insert``/``insert'`` (``Tree/Internal.hs:452-468``): a
        one-point merge, clustered at the working delta like every
        merge. Returns a new digest; the hot paths use the vectorized
        ``add_values``/``from_values`` instead — one Python-level
        insert per row is exactly what the Arrow batching exists to
        avoid."""
        return self.add_values(np.asarray([x], dtype=np.float64))

    @staticmethod
    def merge_all(digests: list["TDigest"]) -> "TDigest":
        out = TDigest.empty(digests[0].delta if digests else 200)
        for d in digests:
            out = out.merge(d)
        return out

    # ---------------- queries ----------------

    def _centers(self) -> np.ndarray:
        return np.cumsum(self.weights) - self.weights / 2.0

    def quantile(self, q: float) -> float | None:
        """Rank q in [0,1] -> value; linear interpolation between
        centroid centers in rank space, padded by exact min/max.

        Lossless digests reproduce SQL ``quantile_cont`` exactly
        (cf. reference quantile, ``Postprocess/Internal.hs:97-106``;
        doctest parity: median of [1..1000] = 500.5, ``Vector.hs:20-21``).

        WEIGHTED semantics: on a digest built with weights
        (``from_values(weights=...)`` / ``tdigest_agg(weight_col=...)``)
        this IS the weighted quantile — rank space is cumulative-WEIGHT
        space (centers at ``cum_w - w/2``), so a row with weight w
        counts w times, exactly as if it had been repeated. For integer
        weights in lossless mode the result equals ``quantile_cont``
        over the weight-expanded rows; at real compression the
        published O(1/delta) bound applies to the weighted rank. Oracle
        check: the ``td_weighted_lineitem`` rank-sandwich (every
        returned value v satisfies W(<v) <= q*tw + w_max/2 + 1 and
        W(<=v) >= q*tw - w_max/2 - 1 in exact integer arithmetic).
        """
        if self.is_empty():
            return None
        tw = self.total_weight
        if self.size == 1:
            return float(self.means[0])
        # max(tw-1, 0): with fractional weights tw can be < 1, and a
        # negative slope would invert the q -> value mapping
        t = np.clip(q, 0.0, 1.0) * max(tw - 1.0, 0.0) + 0.5
        xs = np.concatenate(([0.0], self._centers(), [tw]))
        ys = np.concatenate(([self.vmin], self.means, [self.vmax]))
        return float(np.interp(t, xs, ys))

    def quantiles(self, qs: np.ndarray) -> np.ndarray:
        if self.is_empty():
            return np.full(len(qs), np.nan)
        tw = self.total_weight
        if self.size == 1:
            return np.full(len(qs), float(self.means[0]))
        t = np.clip(np.asarray(qs, dtype=np.float64), 0.0, 1.0) * max(tw - 1.0, 0.0) + 0.5
        xs = np.concatenate(([0.0], self._centers(), [tw]))
        ys = np.concatenate(([self.vmin], self.means, [self.vmax]))
        return np.interp(t, xs, ys)

    def median(self) -> float | None:
        return self.quantile(0.5)

    def icdf(self, q: float) -> float | None:
        """Alias of quantile (cf. ``Postprocess.hs:60-62``)."""
        return self.quantile(q)

    def cdf(self, x: float) -> float | None:
        """Mid-rank cdf: P(X < x) + P(X = x)/2 estimate.

        At a value equal to a centroid mean, returns the centroid's
        center rank / tw — for a lossless digest this is exactly
        ``(count(<x) + 0.5*count(=x)) / n``
        (cf. reference cdf, ``Postprocess/Internal.hs:153-162``).
        """
        if self.is_empty():
            return None
        tw = self.total_weight
        m = self.means
        centers = self._centers()
        i = int(np.searchsorted(m, x, side="left"))
        j = int(np.searchsorted(m, x, side="right"))
        if i < j:  # x equals centroid mean(s)
            return float(0.5 * (centers[i] + centers[j - 1]) / tw)
        if x < self.vmin:
            return 0.0
        if x > self.vmax:
            return 1.0
        xs = np.concatenate(([self.vmin], m, [self.vmax]))
        ts = np.concatenate(([0.0], centers, [tw]))
        # tied node positions are atoms where the cdf JUMPS (e.g. vmin
        # equal to the first centroid mean): the segment leaving an atom
        # must start at its UPPER rank and arrive at the next atom's
        # LOWER rank, or the curve dips below the mid-rank value the
        # equals-branch above returns (non-monotone cdf)
        ux, first_idx = np.unique(xs, return_index=True)
        last_idx = np.searchsorted(xs, ux, side="right") - 1
        t_hi = ts[last_idx]
        t_lo = ts[first_idx]
        k = int(np.searchsorted(ux, x)) - 1  # x strictly inside (ux[k], ux[k+1])
        frac = (x - ux[k]) / (ux[k + 1] - ux[k])
        return float((t_hi[k] + frac * (t_lo[k + 1] - t_hi[k])) / tw)

    def cdf_many(self, xs: np.ndarray) -> np.ndarray:
        """Vectorized :meth:`cdf` — identical branch semantics
        (mid-rank at centroid-mean atoms, jump-aware interpolation
        between them), one numpy pass for a whole batch of probes.
        Returns NaN per probe on an empty digest (the vector form of
        the scalar's None)."""
        xs = np.asarray(xs, dtype=np.float64)
        out = np.full(xs.shape, np.nan)
        if self.is_empty():
            return out
        tw = self.total_weight
        m = self.means
        centers = self._centers()
        i = np.searchsorted(m, xs, side="left")
        j = np.searchsorted(m, xs, side="right")
        eq = i < j  # equals centroid mean(s): mid-rank of the tied span
        if eq.any():
            out[eq] = 0.5 * (centers[i[eq]] + centers[j[eq] - 1]) / tw
        rest = ~eq
        out[rest & (xs < self.vmin)] = 0.0
        out[rest & (xs > self.vmax)] = 1.0
        mid = rest & (xs >= self.vmin) & (xs <= self.vmax)
        if mid.any():
            nodes = np.concatenate(([self.vmin], m, [self.vmax]))
            ts = np.concatenate(([0.0], centers, [tw]))
            ux, first_idx = np.unique(nodes, return_index=True)
            last_idx = np.searchsorted(nodes, ux, side="right") - 1
            t_hi = ts[last_idx]
            t_lo = ts[first_idx]
            xm = xs[mid]
            # left endpoint explicitly (the scalar form reaches t_lo[0]
            # only through a frac=1 wrap-around accident at k=-1)
            k = np.maximum(np.searchsorted(ux, xm, side="right") - 1, 0)
            k = np.minimum(k, len(ux) - 2)
            frac = (xm - ux[k]) / (ux[k + 1] - ux[k])
            out[mid] = (t_hi[k] + frac * (t_lo[k + 1] - t_hi[k])) / tw
        return out

    def density_histogram(self) -> list[tuple[float, float, float]]:
        """Density-normalized bins for plotting — the data behind
        tdigest-Chart's histogram render (bar height ``w/(hi-lo)/tw``,
        ``tdigest-Chart/src/.../TDigest.hs:86-89,134-147``), without
        any chart dependency: (lo, hi, density) per bin, integrating
        to 1. Pairs with ``quantile``/``mean``/``stddev`` for the
        chart's quantile verticals and mean±k*sigma lines (:91-125).

        Equal-mean centroids (duplicate values survive as separate
        centroids in lossless digests) are merged first: the raw
        midpoint bins would give them zero width and an infinite bar —
        the reference chart divides by zero there too — whereas the
        merged bin keeps the same mass at finite height, so the series
        always integrates to exactly 1 (a documented
        stability-hardening over the reference; only a digest whose
        every value is identical still yields the single Dirac bin).
        """
        tw = self.total_weight
        if self.is_empty():
            return []
        ux, inv = np.unique(self.means, return_inverse=True)
        uw = np.bincount(inv, weights=self.weights)
        if len(ux) == 1:
            width = self.vmax - self.vmin
            dens = 1.0 / width if width > 0 else math.inf
            return [(self.vmin, self.vmax, dens)]
        mids = (ux[:-1] + ux[1:]) / 2.0
        los = np.concatenate(([self.vmin], mids))
        his = np.concatenate((mids, [self.vmax]))
        out = []
        for lo, hi, w in zip(los, his, uw):
            width = hi - lo
            out.append(
                (float(lo), float(hi),
                 float(w) / width / tw if width > 0 else math.inf)
            )
        return out

    def mean(self) -> float | None:
        """Exactly preserved under merging (weighted-mean identity),
        cf. ``Postprocess/Internal.hs:113-127``."""
        if self.is_empty():
            return None
        return float(np.dot(self.means, self.weights) / self.total_weight)

    def variance(self, ddof: int = 1) -> float | None:
        """Between-centroid weighted variance with Bessel correction
        (cf. ``Postprocess/Internal.hs:130-146``; exact when lossless).
        """
        if self.is_empty() or self.total_weight <= ddof:
            return None
        mu = self.mean()
        d = self.means - mu
        return float(np.dot(self.weights, d * d) / (self.total_weight - ddof))

    def stddev(self, ddof: int = 1) -> float | None:
        """sqrt(variance) — note the reference's NonEmpty module has a
        missing-sqrt bug (``Tree/NonEmpty.hs:148-149``); we implement
        the correct definition (``Postprocess.hs:50-51``)."""
        v = self.variance(ddof)
        return None if v is None else math.sqrt(max(v, 0.0))

    def trimmed_mean(self, lo: float, hi: float) -> float | None:
        """Mean of the rank slice [lo*tw, hi*tw], boundary centroids
        included fractionally. Advertised-but-missing in the reference
        (``tdigest/README.md:3``); exact on lossless digests, where it
        equals sum(v_i * overlap_i) / sum(overlap_i) with
        overlap_i = clamp(min(hi*n, i) - max(lo*n, i-1), 0, 1)."""
        if self.is_empty() or hi <= lo:
            return None
        tw = self.total_weight
        upper = np.cumsum(self.weights)
        lower = upper - self.weights
        frac = np.clip(
            np.minimum(hi * tw, upper) - np.maximum(lo * tw, lower), 0.0, None
        )
        fw = frac.sum()
        if fw <= 0:
            return None
        return float(np.dot(self.means, frac) / fw)

    def histogram(self) -> list[tuple[float, float, float, float, float]]:
        """Midpoint bins (lo, hi, mid, weight, cum_weight) per the
        reference's ``histogramFromCentroids``
        (``Postprocess/Internal.hs:70-90``): first bin [vmin, mid(x1,x2)],
        middle [mid(i-1,i), mid(i,i+1)], last [mid, vmax]."""
        if self.is_empty():
            return []
        m, w = self.means, self.weights
        n = m.shape[0]
        if n == 1:
            return [(self.vmin, self.vmax, float(m[0]), float(w[0]), 0.0)]
        mids = (m[:-1] + m[1:]) / 2.0
        los = np.concatenate(([self.vmin], mids))
        his = np.concatenate((mids, [self.vmax]))
        cum = np.concatenate(([0.0], np.cumsum(w)[:-1]))
        return [
            (float(los[i]), float(his[i]), float(m[i]), float(w[i]), float(cum[i]))
            for i in range(n)
        ]

    # ---------------- validation (cf. Vector/Internal.hs:231-246) ----------

    def validate(self) -> None:
        assert self.means.shape == self.weights.shape
        if self.size:
            assert np.all(np.diff(self.means) >= 0), "means must be sorted"
            assert np.all(self.weights > 0), "weights must be positive"
            assert abs(self.weights.sum() - self.total_weight) <= 1e-6 * max(
                1.0, self.total_weight
            ), "weight conservation"
            assert self.vmin <= self.means[0] + 1e-9
            assert self.vmax >= self.means[-1] - 1e-9

    # ---------------- (de)serialization ----------------

    def to_row(self) -> dict:
        """Struct-row form used as the Spark/Arrow wire format
        (replaces the reference's ``Binary`` instance,
        ``Tree/Internal.hs:84-89``)."""
        # numpy arrays (not Python lists): Arrow converts them zero-copy
        # into list<double>, ~3x faster struct serialization
        return {
            "means": self.means,
            "weights": self.weights,
            "total_weight": float(self.total_weight),
            "vmin": float(self.vmin) if self.total_weight else None,
            "vmax": float(self.vmax) if self.total_weight else None,
            "delta": int(self.delta),
        }

    def to_bytes(self) -> bytes:
        """Compact binary codec (the reference's ``Binary`` instance,
        ``Tree/Internal.hs:84-89``): header + packed centroid arrays.
        ~40% of the parquet-struct footprint for blob checkpoints and
        non-Spark interchange; the struct row stays the primary wire
        format."""
        import struct as _struct

        head = _struct.pack(
            "<4sIqddd",
            b"TDG1",
            int(self.delta),
            int(self.size),
            float(self.total_weight),
            float(self.vmin) if self.total_weight else math.nan,
            float(self.vmax) if self.total_weight else math.nan,
        )
        body = (
            np.ascontiguousarray(self.means, dtype=np.float64).tobytes()
            + np.ascontiguousarray(self.weights, dtype=np.float64).tobytes()
        )
        return head + body

    @classmethod
    def from_bytes(cls, b: bytes) -> "TDigest":
        import struct as _struct

        hsize = _struct.calcsize("<4sIqddd")
        # blobs come back from disk and other processes: check them
        # with real exceptions, which `python -O` keeps
        if len(b) < hsize or b[:4] != b"TDG1":
            raise ValueError("not a TDigest blob (bad magic)")
        _, delta, n, tw, vmin, vmax = _struct.unpack("<4sIqddd", b[:hsize])
        if len(b) != hsize + 16 * n:
            raise ValueError(f"TDigest blob of {len(b)} bytes holds not {n} centroids")
        if n == 0 or tw == 0.0:
            return cls.empty(delta)
        means = np.frombuffer(b[hsize : hsize + 8 * n], dtype=np.float64).copy()
        weights = np.frombuffer(b[hsize + 8 * n : hsize + 16 * n], dtype=np.float64).copy()
        return cls(
            means=means, weights=weights, total_weight=tw,
            vmin=vmin, vmax=vmax, delta=delta,
        )

    @classmethod
    def from_row(cls, row) -> "TDigest":
        if row is None:
            return cls.empty()
        get = row.get if isinstance(row, dict) else lambda k: getattr(row, k)
        raw_means = get("means")
        tw_raw = get("total_weight")
        # a NULL struct reaching a pandas UDF arrives as a NaN-filled
        # record (every field a float NaN), not as None — e.g. the
        # outer-joined digest views the SQL drift UDFs document. Treat
        # it as the empty digest, same as row is None.
        if raw_means is None or isinstance(raw_means, float):
            return cls.empty()
        if tw_raw is None or (isinstance(tw_raw, float) and math.isnan(tw_raw)):
            return cls.empty()
        means = np.asarray(raw_means, dtype=np.float64)
        tw = float(tw_raw)
        if means.size == 0 or tw == 0.0:
            delta_raw = get("delta")
            ok = delta_raw is not None and not (
                isinstance(delta_raw, float) and math.isnan(delta_raw)
            )
            return cls.empty(int(delta_raw) if ok and delta_raw else 200)
        return cls(
            means=means,
            weights=np.asarray(get("weights"), dtype=np.float64),
            total_weight=tw,
            vmin=float(get("vmin")),
            vmax=float(get("vmax")),
            delta=int(get("delta")),
        )
