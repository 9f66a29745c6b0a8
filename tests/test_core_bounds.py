"""Accuracy-bound properties (reference: test_tdigest.ml:137-154,193-211) and
sequential-vs-batched agreement (SURVEY.md §7.3.3).

The reference's golden error value (0.00383) depends on OCaml's RNG; the
published invariant is max |p_rank error| < delta (= 0.01).  We assert the
invariant with a fixed numpy seed for both execution paths.
"""

import numpy as np

from sketchlib.tdigest.core import MergingDigest, TDigest


def _max_rank_error(cdf_fn, n_probes=100):
    errs = []
    for i in range(1, n_probes + 1):
        p = i / n_probes
        q = cdf_fn(p)
        errs.append(abs(p - q))
    return max(errs)


def test_batched_uniform_100k_rank_error_below_delta():
    rng = np.random.default_rng(42)
    xs = rng.random(100_000)
    d = MergingDigest(delta=0.01)
    d.update_batch(xs)
    d.compress()
    err = _max_rank_error(lambda p: float(d.cdf([p])[0]))
    assert err < 0.01, err
    assert d.size <= 2500


def test_sequential_uniform_50k_rank_error_below_delta():
    rng = np.random.default_rng(42)
    xs = rng.random(50_000)
    td = TDigest()
    for x in xs:
        td.add(float(x))
    td.compress()
    err = _max_rank_error(lambda p: td.p_rank(p))
    assert err < 0.01, err


def test_batched_quantile_error_uniform():
    rng = np.random.default_rng(7)
    xs = rng.random(200_000)
    d = MergingDigest(delta=0.01)
    # feed in chunks to exercise multi-flush ingest
    for chunk in np.array_split(xs, 13):
        d.update_batch(chunk)
    d.compress()
    ps = np.array([0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 0.999])
    est = d.quantile(ps)
    exact = np.quantile(xs, ps)
    # rank error < delta → uniform value error < delta too (identity CDF)
    assert np.max(np.abs(est - exact)) < 0.01


def test_batched_heavy_tail_rank_error():
    rng = np.random.default_rng(11)
    xs = rng.lognormal(mean=5.0, sigma=2.0, size=100_000)
    d = MergingDigest(delta=0.01)
    d.update_batch(xs)
    d.compress()
    sx = np.sort(xs)
    for p in [0.01, 0.25, 0.5, 0.9, 0.99, 0.999]:
        est = float(d.quantile([p])[0])
        # measure achieved rank of the estimated value
        rank = np.searchsorted(sx, est) / len(sx)
        assert abs(rank - p) < 0.01, (p, rank)


def test_sequential_and_batched_agree_within_bound():
    rng = np.random.default_rng(3)
    xs = rng.normal(size=20_000)
    td = TDigest()
    for x in xs:
        td.add(float(x))
    td.compress()
    d = MergingDigest(delta=0.01)
    d.update_batch(xs)
    d.compress()
    sx = np.sort(xs)
    for p in [0.05, 0.25, 0.5, 0.75, 0.95]:
        q_seq = td.percentile(p)
        q_bat = float(d.quantile([p])[0])
        r_seq = np.searchsorted(sx, q_seq) / len(sx)
        r_bat = np.searchsorted(sx, q_bat) / len(sx)
        assert abs(r_seq - p) < 0.01
        assert abs(r_bat - p) < 0.01


def test_weighted_ingest_matches_repeated_values():
    xs = np.array([1.0, 5.0, 5.0, 5.0, 9.0, 9.0])
    a = MergingDigest(delta=0.0)  # never merge: exact
    a.update_batch(xs)
    b = MergingDigest(delta=0.0)
    b.update_batch(np.array([1.0, 5.0, 9.0]), weights=np.array([1.0, 3.0, 2.0]))
    assert a.centroids() == b.centroids()
    assert a.serialize() == b.serialize()


def test_trimmed_mean_exact_mode_equals_numpy():
    """In exact mode (delta=0) the digest's trimmed mean IS the exact
    trimmed mean (including fractional boundary weights)."""
    import numpy as np

    from sketchlib.tdigest.core import MergingDigest

    rng = np.random.default_rng(12)
    vals = rng.lognormal(2, 1, 5003)  # odd n: fractional rank cuts
    d = MergingDigest(delta=0.0)
    d.update_batch(vals)
    for lo, hi in ((0.1, 0.9), (0.25, 0.75), (0.0, 1.0)):
        got = d.trimmed_mean(lo, hi)
        s = np.sort(vals)
        n = len(s)
        # exact fractional-weight trimmed mean
        idx = np.arange(1, n + 1, dtype=np.float64)
        w = np.clip(np.minimum(idx, hi * n) - np.maximum(idx - 1, lo * n), 0, None)
        want = float((s * w).sum() / w.sum())
        assert abs(got - want) / want < 1e-12, (lo, hi, got, want)
    # compressed mode: within the rank-error bound of exact
    c = MergingDigest(delta=0.01)
    c.update_batch(vals)
    c.compress()
    got = c.trimmed_mean(0.1, 0.9)
    s = np.sort(vals)
    exact = float(s[int(0.1 * len(s)) : int(0.9 * len(s))].mean())
    assert abs(got - exact) / exact < 0.01, (got, exact)


def test_trimmed_mean_validation_and_edges():
    import numpy as np
    import pytest

    from sketchlib.tdigest.core import MergingDigest, trimmed_mean_of_centroids

    d = MergingDigest(delta=0.0)
    assert np.isnan(d.trimmed_mean())  # empty
    with pytest.raises(ValueError):
        trimmed_mean_of_centroids(np.array([1.0]), np.array([1.0]), 0.9, 0.1)


def test_merging_digest_info_counters_advance():
    """MergingDigest engine counters (reference info counters,
    src/tdigest.ml:42-58): cumulates advance on buffer flushes, auto
    compressions fire under the size cap, explicit compress() counts."""
    import numpy as np

    from sketchlib.tdigest.core import MergingDigest

    d = MergingDigest(delta=0.01, buffer_size=1000)
    base = d.info()
    assert base["cumulates_count"] == 0 and base["compress_count"] == 0
    rng = np.random.default_rng(3)
    for _ in range(5):
        d.update_batch(rng.standard_normal(1000))  # == buffer_size → flush
    info = d.info()
    assert info["cumulates_count"] >= 5
    assert info["count"] == 5000.0
    d.compress()
    assert d.info()["compress_count"] == 1
    # size-cap auto compression: max_size = 25/0.01 = 2500 distinct values
    big = MergingDigest(delta=0.01, buffer_size=1000)
    big.update_batch(np.arange(10_000, dtype="float64"))
    big.serialize()
    assert big.info()["auto_compress_count"] >= 1
    # deserialize resets counters (process-local state, not wire state)
    rt = MergingDigest.deserialize(big.serialize(), delta=0.01)
    assert rt.info()["auto_compress_count"] == 0


def _brute_ks(a: np.ndarray, b: np.ndarray) -> float:
    """Textbook two-sample KS: max |F_a - F_b| over the pooled sample."""
    pts = np.union1d(a, b)
    fa = np.searchsorted(np.sort(a), pts, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pts, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def test_ks_discrete_equals_brute_force():
    from sketchlib.tdigest.core import ks_of_centroids

    rng = np.random.default_rng(11)
    a = rng.integers(0, 500, 20_000).astype(float)
    b = (rng.integers(0, 500, 30_000) + rng.integers(0, 50, 30_000)).astype(float)
    da, db = MergingDigest(discrete=True), MergingDigest(discrete=True)
    da.update_batch(a), db.update_batch(b)
    da.compress(), db.compress()
    ma, na = da._means, da._ns
    mb, nb = db._means, db._ns
    ks = ks_of_centroids(ma, na, mb, nb)
    assert ks == _brute_ks(a, b)
    # laws: self-distance 0, symmetry, disjoint supports -> 1
    assert ks_of_centroids(ma, na, ma, na) == 0.0
    assert ks_of_centroids(mb, nb, ma, na) == ks
    assert ks_of_centroids(ma, na, mb + 10_000.0, nb) == 1.0
    assert 0.0 <= ks <= 1.0


def test_ks_empty_side_is_nan():
    from sketchlib.tdigest.core import ks_of_centroids

    e = np.empty(0)
    m = np.array([1.0, 2.0])
    n = np.array([3.0, 4.0])
    assert np.isnan(ks_of_centroids(e, e, m, n))
    assert np.isnan(ks_of_centroids(m, n, e, e))


def _brute_w1(a: np.ndarray, b: np.ndarray) -> float:
    """∫|Fa−Fb|dx over the union support, from raw data (numpy only)."""
    pts = np.union1d(a, b)
    fa = np.searchsorted(np.sort(a), pts, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pts, side="right") / len(b)
    return float(np.sum(np.abs(fa[:-1] - fb[:-1]) * np.diff(pts)))


def test_w1_discrete_equals_brute_force():
    from sketchlib.tdigest.core import w1_of_centroids

    rng = np.random.default_rng(21)
    a = rng.integers(0, 500, 20_000).astype(float)
    b = (rng.integers(0, 500, 30_000) + rng.integers(0, 50, 30_000)).astype(float)
    da, db = MergingDigest(discrete=True), MergingDigest(discrete=True)
    da.update_batch(a), db.update_batch(b)
    da.compress(), db.compress()
    ma, na = da._means, da._ns
    mb, nb = db._means, db._ns
    w1 = w1_of_centroids(ma, na, mb, nb)
    assert w1 == _brute_w1(a, b)
    # laws: self-distance 0 exactly, symmetry
    assert w1_of_centroids(ma, na, ma, na) == 0.0
    assert w1_of_centroids(mb, nb, ma, na) == w1
    # translation property: W1(X, X+c) == c (the value-units semantics KS
    # lacks — a uniform shift saturates KS at 1 but W1 reports the shift)
    dc = MergingDigest(discrete=True)
    dc.update_batch(a + 600.0)  # disjoint supports: KS saturates at 1
    dc.compress()
    shift = w1_of_centroids(ma, na, dc._means, dc._ns)
    assert abs(shift - 600.0) < 1e-9, shift
    from sketchlib.tdigest.core import ks_of_centroids

    # the contrast W1 exists for: KS says only "fully drifted" (1.0),
    # W1 says HOW FAR (600 value units)
    assert ks_of_centroids(ma, na, dc._means, dc._ns) == 1.0
    # single-point equal digests: zero distance, no empty-diff crash
    one = np.array([5.0]), np.array([3.0])
    assert w1_of_centroids(one[0], one[1], one[0], one[1]) == 0.0


def test_w1_empty_side_is_nan():
    from sketchlib.tdigest.core import w1_of_centroids

    e = np.empty(0)
    m = np.array([1.0, 2.0])
    n = np.array([3.0, 4.0])
    assert np.isnan(w1_of_centroids(e, e, m, n))
    assert np.isnan(w1_of_centroids(m, n, e, e))


def test_w1_compressed_close_to_exact():
    from sketchlib.tdigest.core import w1_of_centroids

    rng = np.random.default_rng(22)
    a = rng.normal(0, 1, 100_000)
    b = rng.normal(0.15, 1, 100_000)
    exact = _brute_w1(a, b)
    da, db = MergingDigest(delta=0.01), MergingDigest(delta=0.01)
    da.update_batch(a), db.update_batch(b)
    da.compress(), db.compress()
    approx = w1_of_centroids(da._means, da._ns, db._means, db._ns)
    # each side's CDF error <= delta over a ~8-sigma value range
    assert abs(approx - exact) <= 0.02 * 8, (approx, exact)
    assert abs(approx - exact) / max(exact, 1e-9) < 0.35


def test_ks_compressed_within_summed_delta():
    from sketchlib.tdigest.core import ks_of_centroids

    rng = np.random.default_rng(12)
    a = rng.normal(0, 1, 100_000)
    b = rng.normal(0.15, 1, 100_000)
    exact = _brute_ks(a, b)
    da, db = MergingDigest(delta=0.01), MergingDigest(delta=0.01)
    da.update_batch(a), db.update_batch(b)
    da.compress(), db.compress()
    approx = ks_of_centroids(da._means, da._ns, db._means, db._ns)
    # each side's CDF is within its rank-error bound -> KS within the sum
    assert abs(approx - exact) <= 0.02, (approx, exact)


def _brute_psi_jsd(a: np.ndarray, b: np.ndarray, bins: int = 10,
                   eps: float = 1e-6) -> tuple[float, float]:
    """Textbook PSI/JSD over b's Nearest-Rank decile edges, from raw data."""
    import math

    sb = np.sort(b)
    edges = [sb[math.ceil(len(sb) * i / bins) - 1] for i in range(1, bins)]
    fa = np.concatenate(
        ([0.0], np.searchsorted(np.sort(a), edges, side="right") / len(a), [1.0])
    )
    fb = np.concatenate(
        ([0.0], np.searchsorted(sb, edges, side="right") / len(b), [1.0])
    )
    psi = jsd = 0.0
    for i in range(bins):
        p = max(float(fa[i + 1] - fa[i]), eps)
        q = max(float(fb[i + 1] - fb[i]), eps)
        psi += (p - q) * math.log(p / q)
        jsd += 0.5 * p * math.log(2 * p / (p + q)) + 0.5 * q * math.log(
            2 * q / (p + q)
        )
    return psi, jsd


def test_psi_jsd_discrete_equals_brute_force():
    from sketchlib.tdigest.core import psi_jsd_of_centroids

    rng = np.random.default_rng(13)
    a = rng.integers(0, 500, 20_000).astype(float)
    b = (rng.integers(0, 500, 30_000) + rng.integers(0, 80, 30_000)).astype(float)
    da, db = MergingDigest(discrete=True), MergingDigest(discrete=True)
    da.update_batch(a), db.update_batch(b)
    da.compress(), db.compress()
    ma, na = da._means, da._ns
    mb, nb = db._means, db._ns
    psi, jsd = psi_jsd_of_centroids(ma, na, mb, nb)
    bpsi, bjsd = _brute_psi_jsd(a, b)
    # discrete digests are lossless -> identical bin masses, identical sums
    assert psi == bpsi and jsd == bjsd
    # laws: self-drift exactly 0 (every p == q), PSI >= 0, JSD in [0, ln 2]
    assert psi_jsd_of_centroids(ma, na, ma, na) == (0.0, 0.0)
    assert psi >= 0.0
    assert 0.0 <= jsd <= np.log(2.0) + 1e-12
    # disjoint supports: all of a's mass falls in b's first decile bin
    # (p=1 vs q=0.1 there, eps vs 0.1 elsewhere) -> JSD ~0.52, >> same-ish
    _, jsd_far = psi_jsd_of_centroids(ma, na, mb + 10_000.0, nb)
    assert jsd_far > 0.5 and jsd_far > jsd


def test_psi_jsd_empty_side_is_nan():
    from sketchlib.tdigest.core import psi_jsd_of_centroids

    e = np.empty(0)
    m = np.array([1.0, 2.0])
    n = np.array([3.0, 4.0])
    assert all(np.isnan(v) for v in psi_jsd_of_centroids(e, e, m, n))
    assert all(np.isnan(v) for v in psi_jsd_of_centroids(m, n, e, e))


def test_cdf_of_nan_probe_is_nan_in_both_modes():
    """A NaN probe is unrankable: NaN in merging and discrete mode alike,
    and the other probes of the call keep their values."""
    from sketchlib.tdigest.core import cdf_of_centroids

    m, n = np.array([1.0, 2.0, 5.0]), np.array([1.0, 2.0, 1.0])
    for discrete, at_2 in ((False, 0.5), (True, 0.75)):
        out = cdf_of_centroids(m, n, [np.nan, 2.0, 0.0, 9.0], discrete)
        assert np.isnan(out[0]), discrete
        assert out[1:].tolist() == [at_2, 0.0, 1.0], discrete
