"""Core t-digest properties — mirrors the reference's three test layers
(SURVEY.md §5): QuickCheck-style invariants (tdigest/tests/Tests.hs:13-35),
doctest goldens (Tree.hs / Vector.hs), and bench-as-accuracy-test
(tdigest-bench/src/Simple.hs:317-371)."""

import math

import numpy as np
import pytest

from tdigest_spark.sketch.tdigest import TDigest, ksize, ksize_inv

RNG = np.random.default_rng(42)

DATASETS = [
    np.arange(1, 1001, dtype=np.float64),                      # incr (doctest input)
    np.arange(1000, 0, -1, dtype=np.float64),                  # reverse-sorted worst case
    RNG.uniform(0, 1, 10_000),
    RNG.standard_normal(10_000),
    RNG.exponential(1 / math.log(2), 10_000),
    RNG.gamma(0.1, 1 / 0.1, 10_000),
    np.concatenate([np.full(500, 7.0), RNG.uniform(0, 1, 500)]),   # heavy ties
    np.array([3.14]),
    np.array([1e-12, 1e12, -1e12, 0.0, 5.0]),
]


def exact_quantile(v, q):
    return float(np.quantile(np.asarray(v), q, method="linear"))


@pytest.mark.parametrize("delta", [10, 25, 100, 500])
@pytest.mark.parametrize("data_idx", range(len(DATASETS)))
def test_invariants(delta, data_idx):
    v = DATASETS[data_idx]
    d = TDigest.from_values(v, delta)
    d.validate()
    assert d.total_weight == len(v)
    assert d.vmin == v.min() and d.vmax == v.max()
    # size bound: O(delta) centroids — build runs at working compression
    # 2*delta (soft cap ~2x that, cf. Vector/Internal.hs:27)
    assert d.size <= max(4 * delta + 10, 30)
    assert d.compressed().size <= max(2 * delta + 10, 30)
    # mean is exactly preserved (weighted-mean identity)
    assert d.mean() == pytest.approx(v.mean(), rel=1e-9)


@pytest.mark.parametrize("data_idx", range(len(DATASETS)))
def test_rank_error_bound(data_idx):
    """|cdf_exact(q_est) - q| within the t-digest O(1/delta) bound,
    tails tighter than median (cf. tdigest/src/Data/TDigest/Tree.hs:18-21)."""
    v = np.sort(DATASETS[data_idx])
    if len(v) < 100:
        return
    delta = 100
    d = TDigest.from_values(v, delta)
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999]:
        est = d.quantile(q)
        # ties: the estimate's true rank is an interval [lo, hi]
        lo = np.searchsorted(v, est, side="left") / len(v)
        hi = np.searchsorted(v, est, side="right") / len(v)
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        # k1 bound ~ q(1-q)-scaled; use generous constant 6/delta at center
        bound = max(6.0 * q * (1 - q) / delta, 2.0 / len(v)) * 4
        assert err <= bound, (q, lo, hi, est)


def test_lossless_matches_exact():
    """delta >= ~pi/2*n -> no merging -> quantile == numpy linear exactly."""
    v = RNG.uniform(0, 100, 2000)
    d = TDigest.from_values(v, delta=1_000_000)
    assert d.size == len(v)
    for q in [0.0, 0.1, 0.33, 0.5, 0.77, 0.9, 0.99, 1.0]:
        assert d.quantile(q) == pytest.approx(exact_quantile(v, q), abs=1e-9)
    # cdf at data points == mid-rank
    for x in v[:50]:
        exact = (np.sum(v < x) + 0.5 * np.sum(v == x)) / len(v)
        assert d.cdf(x) == pytest.approx(exact, abs=1e-12)
    # lossless merge of two lossless digests stays lossless
    m = TDigest.from_values(v[:1000], 1_000_000).merge(
        TDigest.from_values(v[1000:], 1_000_000)
    )
    assert m.size == len(v)
    assert m.quantile(0.5) == pytest.approx(exact_quantile(v, 0.5), abs=1e-9)


def test_doctest_goldens():
    """Vector median of [1..1000] = 500.5 (Vector.hs:20-21); our q0.99
    convention matches SQL quantile_cont (990.01), documented divergence
    from the reference's midpoint-bin 990.5 (Tree.hs:12-16)."""
    v = np.arange(1, 1001, dtype=np.float64)
    d = TDigest.from_values(v, 10)
    assert d.median() == pytest.approx(500.5, rel=0.01)
    d25 = TDigest.from_values(v, 1_000_000)
    assert d25.quantile(0.99) == pytest.approx(990.01, abs=1e-9)
    assert d25.median() == 500.5


def test_compression_compacts():
    """1001 sorted inserts compress to O(delta) centroids
    (cf. Vector.hs:60-65: 1001 -> 173 at delta=5)."""
    v = np.arange(1, 1002, dtype=np.float64)
    d = TDigest.from_values(v, 5)
    assert 5 <= d.size <= 200
    assert d.total_weight == 1001


@pytest.mark.parametrize("parts", [2, 8, 37])
def test_merge_associativity_within_bound(parts):
    """Merge of partition digests ~ single-pass digest within rank bound
    (north_rule property; cf. Vector.hs:28-44 order-stability)."""
    v = RNG.exponential(1.0, 20_000)
    delta = 100
    single = TDigest.from_values(v, delta)
    chunks = np.array_split(v, parts)
    merged_lr = TDigest.merge_all([TDigest.from_values(c, delta) for c in chunks])
    # tree-shaped merge order
    ds = [TDigest.from_values(c, delta) for c in chunks]
    while len(ds) > 1:
        ds = [ds[i].merge(ds[i + 1]) if i + 1 < len(ds) else ds[i]
              for i in range(0, len(ds), 2)]
    merged_tree = ds[0]
    vs = np.sort(v)
    for q in [0.1, 0.5, 0.9, 0.99]:
        for m in (merged_lr, merged_tree):
            rank = np.searchsorted(vs, m.quantile(q), side="right") / len(v)
            assert abs(rank - q) <= 0.05, (parts, q, rank)
    assert merged_lr.total_weight == len(v)
    merged_lr.validate()
    merged_tree.validate()


def test_ksize_roundtrip():
    """ksizeInv . ksize = id (cf. Vector/Internal.hs:94-127 doctests)."""
    qs = np.linspace(0, 1, 101)
    for delta in (3.0, 10.0, 200.0):
        back = ksize_inv(ksize(qs, delta), delta)
        assert np.allclose(back, qs, atol=1e-12)


def test_cdf_monotone_and_bounded():
    v = RNG.standard_normal(5000)
    d = TDigest.from_values(v, 50)
    xs = np.linspace(v.min() - 1, v.max() + 1, 200)
    cs = np.array([d.cdf(x) for x in xs])
    assert np.all(np.diff(cs) >= -1e-12)
    assert cs[0] == 0.0 and cs[-1] == 1.0
    # quantile stays within [min,max]
    for q in np.linspace(0, 1, 21):
        est = d.quantile(q)
        assert v.min() - 1e-9 <= est <= v.max() + 1e-9


def test_moments_and_trimmed_mean():
    v = RNG.uniform(0, 10, 5000)
    d = TDigest.from_values(v, 1_000_000)  # lossless -> exact
    assert d.mean() == pytest.approx(v.mean(), rel=1e-12)
    assert d.variance() == pytest.approx(v.var(ddof=1), rel=1e-9)
    assert d.stddev() == pytest.approx(v.std(ddof=1), rel=1e-9)
    # trimmed mean, fractional-overlap definition
    n = len(v)
    s = np.sort(v)
    rn = np.arange(1, n + 1)
    frac = np.clip(np.minimum(0.9 * n, rn) - np.maximum(0.1 * n, rn - 1), 0, 1)
    expect = float(np.dot(s, frac) / frac.sum())
    assert d.trimmed_mean(0.1, 0.9) == pytest.approx(expect, rel=1e-12)
    # compressed digest: close but approximate
    dc = TDigest.from_values(v, 100)
    assert dc.trimmed_mean(0.1, 0.9) == pytest.approx(expect, rel=0.02)
    assert dc.variance() == pytest.approx(v.var(ddof=1), rel=0.05)


def test_histogram_valid():
    """No inter-bin gaps; cumulative weights chain
    (cf. Postprocess/Internal.hs:169-178)."""
    v = RNG.uniform(0, 1, 3000)
    d = TDigest.from_values(v, 50)
    bins = d.histogram()
    assert len(bins) == d.size
    cum = 0.0
    for k, (lo, hi, mid, w, cw) in enumerate(bins):
        assert lo <= mid <= hi or w == 0
        assert cw == pytest.approx(cum, rel=1e-9, abs=1e-9)
        cum += w
        if k + 1 < len(bins):
            assert hi == pytest.approx(bins[k + 1][0], abs=1e-12)
    assert cum == pytest.approx(d.total_weight)


def test_empty_and_nan_policy():
    d = TDigest.from_values(np.array([]), 100)
    assert d.is_empty() and d.quantile(0.5) is None and d.mean() is None
    d2 = TDigest.from_values(np.array([np.nan, 1.0, np.nan, 3.0]), 100)
    assert d2.total_weight == 2
    assert d2.median() == 2.0
    # empty merge identity (Monoid, cf. Tree/Internal.hs:74-77)
    d3 = d.merge(d2)
    assert d3.total_weight == 2
    # serialization round-trip
    rt = TDigest.from_row(d2.to_row())
    assert rt.median() == d2.median()
    assert TDigest.from_row(d.to_row()).is_empty()


def test_delta_mismatch_rejected():
    a = TDigest.from_values(np.array([1.0]), 100)
    b = TDigest.from_values(np.array([2.0]), 200)
    with pytest.raises(ValueError):
        a.merge(b)


def test_weighted_build():
    v = np.array([1.0, 2.0, 3.0])
    w = np.array([1.0, 2.0, 1.0])
    d = TDigest.from_values(v, 1_000_000, weights=w)
    assert d.total_weight == 4.0
    assert d.mean() == pytest.approx(2.0)


def test_extreme_weights_stability():
    """Weighted-mean update at ~1e12 weights (SURVEY.md §7 hard parts)."""
    a = TDigest.from_values(np.full(1000, 1.0), 50).merge(
        TDigest.from_values(np.full(1000, 2.0), 50)
    )
    big = TDigest(
        means=np.array([1.0, 2.0]),
        weights=np.array([5e11, 5e11]),
        total_weight=1e12,
        vmin=1.0,
        vmax=2.0,
        delta=50,
    )
    m = big.merge(a)
    assert m.mean() == pytest.approx(1.5, rel=1e-9)
    m.validate()


def test_quantile_monotone_with_fractional_total_weight():
    """Regression: total_weight < 1 (fractional weights) used to invert
    the q -> value mapping (negative interpolation slope)."""
    d = TDigest.from_values(
        np.array([1.0, 2.0]), 1_000_000, weights=np.array([0.3, 0.3])
    )
    qs = [d.quantile(q) for q in (0.0, 0.25, 0.5, 0.75, 1.0)]
    assert all(b >= a for a, b in zip(qs, qs[1:])), qs


def test_kll_weighted_rejects_fractional_weights():
    from tdigest_spark.sketch.kll import KLL

    with pytest.raises(ValueError, match="integer weights"):
        KLL(k=100).add_weighted([1.0, 2.0], [2.9, 1.5])


def test_binary_codec_roundtrip():
    """Compact blob codec parity with the reference's Binary instance
    (Tree/Internal.hs:84-89): round trip preserves queries exactly."""
    d = TDigest.from_values(np.random.default_rng(3).normal(0, 1, 50_000), 200)
    d2 = TDigest.from_bytes(d.to_bytes())
    assert d2.total_weight == d.total_weight
    assert (d2.vmin, d2.vmax, d2.delta) == (d.vmin, d.vmax, d.delta)
    for q in (0.01, 0.5, 0.99):
        assert d2.quantile(q) == d.quantile(q)
    blob = d.to_bytes()
    assert len(blob) < 16 * d.size + 64  # compact: header + 2 arrays
    # empty digest round trip
    e = TDigest.empty(123)
    e2 = TDigest.from_bytes(e.to_bytes())
    assert e2.is_empty() and e2.delta == 123


def test_density_histogram_integrates_to_one():
    """tdigest-Chart parity (TDigest.hs:86-89): density bars integrate
    to 1 and are non-negative."""
    d = TDigest.from_values(np.random.default_rng(5).normal(0, 1, 20_000), 100)
    bins = d.density_histogram()
    total = sum((hi - lo) * dens for lo, hi, dens in bins if hi > lo)
    assert total == pytest.approx(1.0, rel=1e-9)
    assert all(dens >= 0 for _, _, dens in bins)
    # duplicate-heavy lossless digest: equal-mean centroids merge, so
    # every bar stays finite and the integral is EXACTLY 1 (the raw
    # midpoint bins would put infinite bars on the duplicated values)
    import math

    vals = np.round(np.random.default_rng(7).normal(0, 1, 5_000), 1)
    dd = TDigest.from_values(vals, 1e6)
    dbins = dd.density_histogram()
    assert all(hi > lo and math.isfinite(dens) for lo, hi, dens in dbins)
    dtotal = sum((hi - lo) * dens for lo, hi, dens in dbins)
    assert dtotal == pytest.approx(1.0, rel=1e-12)
    # single-value digest: the lone Dirac bin is the documented edge
    s = TDigest.from_values(np.full(10, 3.5), 100)
    (one,) = s.density_histogram()
    assert one[0] == one[1] == 3.5 and math.isinf(one[2])


# ------------------------------------------------- k0 threshold parity

def test_threshold_formula_golden():
    """threshold n q comp = 4*n*q*(1-q)/comp (Tree/Internal.hs:306-313)."""
    from tdigest_spark.sketch.tdigest import threshold

    assert threshold(1000, 0.5, 100) == pytest.approx(4 * 1000 * 0.25 / 100)
    assert threshold(1000, 0.0, 100) == 0.0
    assert threshold(1000, 1.0, 100) == 0.0
    # symmetric in q
    assert threshold(500, 0.2, 50) == pytest.approx(threshold(500, 0.8, 50))


@pytest.mark.parametrize("data_idx", range(len(DATASETS)))
def test_k0_compression_weight_cap_and_rank_error(data_idx):
    """compressed_k0: every multi-point centroid respects its k0 weight
    cap at its own mid-rank, invariants hold, and quantile rank error
    stays within the same practical bound as k1."""
    from tdigest_spark.sketch.tdigest import threshold

    v = DATASETS[data_idx]
    if len(v) < 100:
        return
    delta = 100
    # start from singleton centroids (the k0 pass merges, never splits,
    # so only clusters IT forms are subject to its cap)
    sv0 = np.sort(np.asarray(v, dtype=np.float64))
    d = TDigest(
        means=sv0,
        weights=np.ones_like(sv0),
        total_weight=float(len(sv0)),
        vmin=float(sv0[0]),
        vmax=float(sv0[-1]),
        delta=delta,
    ).compressed_k0()
    d.validate()
    assert d.total_weight == pytest.approx(len(v))
    assert d.mean() == pytest.approx(np.asarray(v).mean(), rel=1e-9)
    cum = np.cumsum(d.weights)
    tw = float(d.total_weight)
    for i in range(d.size):
        if d.weights[i] <= 1.0:
            continue  # singletons are always admissible
        q_mid = (cum[i] - d.weights[i] / 2.0) / tw
        cap = threshold(tw, q_mid, float(delta))
        assert d.weights[i] <= cap * (1 + 1e-9) or d.weights[i] <= 1.0, (
            i, d.weights[i], cap,
        )
    sv = np.sort(np.asarray(v, dtype=np.float64))
    for q in [0.01, 0.1, 0.5, 0.9, 0.99]:
        est = d.quantile(q)
        lo = np.searchsorted(sv, est, side="left") / len(sv)
        hi = np.searchsorted(sv, est, side="right") / len(sv)
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        assert err <= 0.03, (data_idx, q, err)


def test_insert_single_value_parity():
    """insert (reference Tree/Internal.hs:452-468 parity): one-at-a-time
    inserts reproduce the doctest goldens and agree with the bulk build
    in lossless mode."""
    import numpy as np

    from tdigest_spark.sketch.tdigest import TDigest

    # reference doctest: median of [1..1000] = 500.5 (Vector.hs:20-21)
    d = TDigest.empty(delta=10_000)
    for x in range(1, 1001):
        d = d.insert(float(x))
    assert d.median() == 500.5
    assert d.total_weight == 1000.0

    # lossless: sequential inserts == bulk build, value for value
    vals = np.random.default_rng(7).uniform(-5, 5, 300)
    seq = TDigest.empty(delta=100_000)
    for x in vals:
        seq = seq.insert(float(x))
    bulk = TDigest.from_values(vals, 100_000)
    for q in (0.01, 0.25, 0.5, 0.9, 0.999):
        assert abs(seq.quantile(q) - bulk.quantile(q)) < 1e-12


def test_unweighted_build_sort_kind_is_immaterial():
    """Heavily tied unweighted input: the build's plain sort and the
    clustering's (mean, weight) lexsort give a byte-identical digest
    ((value, 1) tuples are interchangeable)."""
    rng = np.random.default_rng(9)
    v = rng.integers(0, 50, 20_000).astype(np.float64)  # ~400 ties per value
    d = TDigest.from_values(v, 100)
    from tdigest_spark.sketch.tdigest import _k1_clusters

    m, w = _k1_clusters(v, np.ones_like(v), TDigest.WORK_MULT * 100)
    assert np.array_equal(d.means, m) and np.array_equal(d.weights, w)


# ---------------- the k1 bound under repeated merges ----------------

EXP_PROBES = (0.5, 0.99, 0.999, 0.9999)


def _exp_partials(n_parts, per_part, seed, delta=200):
    """exponential(ln 2) values (the paper's workload) split into
    ``n_parts`` digests, each compressed to the public delta as a
    persisted digest would be."""
    v = np.random.default_rng(seed).exponential(1 / math.log(2), n_parts * per_part)
    parts = [
        TDigest.from_values(c, delta).compressed() for c in np.split(v, n_parts)
    ]
    return np.sort(v), parts


def _assert_within_k1_width(d, sv, delta):
    """Every probe's true rank lies within one k1 unit of q: a cluster
    may span pi*sqrt(q(1-q))/delta of rank under k1."""
    for q in EXP_PROBES:
        est = d.quantile(q)
        lo = np.searchsorted(sv, est, side="left") / len(sv)
        hi = np.searchsorted(sv, est, side="right") / len(sv)
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        assert err <= math.pi * math.sqrt(q * (1 - q)) / delta, (q, err)


def test_merge_all_of_512_partials_within_k1_width():
    sv, parts = _exp_partials(512, 2000, seed=3)
    d = TDigest.merge_all(parts).compressed()
    _assert_within_k1_width(d, sv, 200)
    assert d.total_weight == len(sv)
    assert d.size <= 201


def test_512_step_merge_chain_within_k1_width():
    sv, parts = _exp_partials(512, 2000, seed=4)
    acc = TDigest.empty(200)
    for p in parts:
        acc = acc.merge(p).compressed()
    _assert_within_k1_width(acc, sv, 200)
    assert acc.size <= 201


@pytest.mark.parametrize("n_parts,per_part", [(2, 20_000), (512, 2000)])
def test_merged_compressed_mean_is_preserved(n_parts, per_part):
    sv, parts = _exp_partials(n_parts, per_part, seed=5)
    d = TDigest.merge_all(parts).compressed()
    assert d.mean() == pytest.approx(sv.mean(), rel=1e-12)


def test_from_bytes_rejects_truncated_and_mistagged_blobs():
    d = TDigest.from_values(np.random.default_rng(6).normal(size=1000), 50)
    blob = d.to_bytes()
    assert TDigest.from_bytes(blob).means.tolist() == d.means.tolist()
    with pytest.raises(ValueError):
        TDigest.from_bytes(blob[:-40])
    with pytest.raises(ValueError):
        TDigest.from_bytes(blob + b"\0" * 16)
    with pytest.raises(ValueError):
        TDigest.from_bytes(b"XXXX" + blob[4:])
    with pytest.raises(ValueError):
        TDigest.from_bytes(blob[:10])
