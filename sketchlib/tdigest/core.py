"""t-digest core: data model, ingest, compress, merge, quantile/CDF queries, serde.

Semantics follow the reference library (SGrondin/tdigest, OCaml — see
/root/reference/src/tdigest.ml) but the implementation is new and built for
vectorized batch execution on Spark:

* ``TDigest``       — the *sequential* path: one value at a time, reproducing the
                      reference's insertion decision table bit-for-bit
                      (reference: src/tdigest.ml:242-262).  Used for golden-test
                      parity and as the semantics oracle.
* ``MergingDigest`` — the *batched* production path (Dunning's merging-digest):
                      buffer → sort → one deterministic left-to-right merge pass
                      under the same k1-family capacity bound
                      ``floor(4·N·δ·q·(1−q))`` (reference: src/tdigest.ml:254-256).
                      This is what runs inside Arrow/pandas aggregators on Spark.

Both share one wire format — 16 bytes per centroid, little-endian IEEE-754
float64 ``(mean, n)`` in ascending-mean order (reference: src/tdigest.ml:329-345)
— and the key property that makes distributed merging correct: the
concatenation of any serialized digests is itself a valid serialized digest,
with equal means summed on parse (reference: src/tdigest.ml:360-373).

Deliberate, documented divergences from the reference (rationale in SURVEY.md §7.3):

1. The reference's ``rebuild`` randomly permutes centroids before re-inserting
   (src/tdigest.ml:285-304).  Ours is deterministic: sort by mean, one
   left-to-right merging pass under the same capacity rule, with the first and
   last centroids protected (they only ever grow via exact-mean matches, the
   same tail-protection the reference enforces at src/tdigest.ml:249-252).
   Every reference golden that touches rebuild asserts only inequalities and
   preserved min/max — all satisfied.
2. ``merge_centroid_arrays`` (the distributed-merge primitive) is a *lossless*
   commutative-monoid union (mean → Σn); compression is applied once,
   deterministically, at the end.  Hence
   ``merge(a, merge(b, c)) == merge(merge(a, b), c)`` exactly, on serialized
   bytes, for any partition order.
3. An updated mean colliding with an existing key raises in the reference
   (add_exn, src/tdigest.ml:221,238); we combine the weights instead.
"""

from __future__ import annotations

import math
import struct as _struct
from bisect import bisect_right
from typing import Iterable, Sequence

import numpy as np

from sketchlib.aggregator import Aggregator

DEFAULT_DELTA = 0.01
DEFAULT_K = 25.0
DEFAULT_CX = 1.1

# ---------------------------------------------------------------------------
# Wire format (reference: src/tdigest.ml:329-373)
# ---------------------------------------------------------------------------


def centroids_to_bytes(means: np.ndarray, ns: np.ndarray) -> bytes:
    """16 B/centroid: LE float64 mean, LE float64 n, ascending mean order."""
    s = len(means)
    out = np.empty(2 * s, dtype="<f8")
    out[0::2] = means
    out[1::2] = ns
    return out.tobytes()


def bytes_to_centroids(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Parse any multiple of 16 bytes; sum n over duplicate means (sorted out).

    Concatenations of serialized digests are valid inputs — this is the
    distributed-merge entry point (reference: README.md:25-41).
    """
    if len(data) % 16 != 0:
        raise ValueError("tdigest: serialized length must be a multiple of 16")
    flat = np.frombuffer(data, dtype="<f8")
    return _group_equal_means(flat[0::2], flat[1::2])


def _group_equal_means(means: np.ndarray, ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sort by mean and sum weights of equal means (commutative-monoid union)."""
    if len(means) == 0:
        return np.empty(0), np.empty(0)
    means = np.asarray(means, dtype=np.float64)
    if np.any(means == 0.0):
        # canonicalize -0.0 -> +0.0: np.unique treats them equal but keeps
        # whichever sorted first, which would make serialized bytes depend
        # on partition order
        means = means.copy()
        means[means == 0.0] = 0.0
    uniq, inv = np.unique(means, return_inverse=True)
    w = np.zeros(len(uniq))
    np.add.at(w, inv, np.asarray(ns, dtype=np.float64))
    return uniq, w


# ---------------------------------------------------------------------------
# Versioned wire container (SURVEY §1.3: magic + sketch type + params +
# version).  The raw 16 B/centroid payload stays the merge/concat unit —
# concatenating PAYLOADS is still a valid digest — while the header lets a
# stored column be recognized and carry its delta/discrete settings
# (reference interop story: README.md:31-41 "store in a DB column").
# Sibling sketches carry their own magics (HLD1/CMS1/BLM1/KLL1); this is the
# t-digest member of the same family.
# ---------------------------------------------------------------------------

WIRE_MAGIC = b"SKB1"
WIRE_TYPE_TDIGEST = b"TDIG"
WIRE_VERSION = 1
_WIRE_FLAG_DISCRETE = 1
_WIRE_HEADER = _struct.Struct("<4s4sHHd")  # magic, type, version, flags, delta


def wrap_tdigest_wire(payload: bytes, delta: float, discrete: bool) -> bytes:
    """Prefix a raw centroid payload with the versioned header (20 bytes)."""
    flags = _WIRE_FLAG_DISCRETE if discrete else 0
    return _WIRE_HEADER.pack(WIRE_MAGIC, WIRE_TYPE_TDIGEST, WIRE_VERSION,
                             flags, float(delta)) + payload


def parse_tdigest_wire(data: bytes) -> tuple[bytes, float | None, bool | None]:
    """Split a blob into (payload, delta, discrete).

    Headered blobs yield their stored settings; headerless blobs (the
    backward-compatible raw format, any multiple of 16 bytes) yield
    ``(data, None, None)``.  Unknown type or version fails fast.

    Disambiguation is by magic AND length: a legacy payload is always a
    multiple of 16 bytes while a headered blob is ≡ 4 (mod 16) (20-byte
    header + 16 B/centroid).  A magic-prefixed blob whose length is a
    multiple of 16 is ambiguous — a TRUNCATED headered blob could land
    there (e.g. header + 12 bytes), which must not be silently decoded as
    garbage centroids — so it is accepted as legacy only when the legacy
    interpretation is *plausible* (finite strictly-ascending means,
    positive finite weights; a float64 mean whose low bytes spell "SKB1"
    passes at P ≈ 2⁻³²), and raises otherwise.  Any other magic-prefixed
    residue (mod 16 ∉ {0, 4}) is a hard error.
    """
    if not data.startswith(WIRE_MAGIC):
        return data, None, None
    rem = len(data) % 16
    if rem == 0:
        flat = np.frombuffer(data, dtype="<f8")
        means, ns = flat[0::2], flat[1::2]
        if (
            len(data) > 0
            and np.all(np.isfinite(means))
            and np.all(np.diff(means) > 0)
            and np.all(ns > 0)
            and np.all(np.isfinite(ns))
        ):
            return data, None, None
        raise ValueError(
            "tdigest wire: magic-prefixed blob is neither a well-formed "
            "headered digest (length % 16 == 4) nor a plausible legacy "
            "payload — likely truncated"
        )
    if rem != 4:
        raise ValueError(
            f"tdigest wire: magic-prefixed blob has invalid length "
            f"{len(data)} (% 16 == {rem}, want 4) — likely truncated"
        )
    if len(data) < _WIRE_HEADER.size:
        raise ValueError("tdigest wire: truncated header")
    magic, typ, version, flags, delta = _WIRE_HEADER.unpack_from(data)
    if typ != WIRE_TYPE_TDIGEST:
        raise ValueError(f"tdigest wire: not a t-digest blob (type={typ!r})")
    if version != WIRE_VERSION:
        raise ValueError(f"tdigest wire: unsupported version {version}")
    return data[_WIRE_HEADER.size:], delta, bool(flags & _WIRE_FLAG_DISCRETE)


def merge_centroid_arrays(
    parts: Iterable[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Lossless union of centroid sets: (mean → Σn), sorted by mean.

    Order-insensitive and associative by construction — the correctness
    license for shuffle-order-independent distributed merging
    (reference analog: src/tdigest.ml:402-408 hashtable union).
    """
    parts = list(parts)
    if not parts:
        return np.empty(0), np.empty(0)
    means = np.concatenate([p[0] for p in parts])
    ns = np.concatenate([p[1] for p in parts])
    return _group_equal_means(means, ns)


# ---------------------------------------------------------------------------
# Deterministic compression pass (replaces the reference's randomized rebuild)
# ---------------------------------------------------------------------------


def compress_centroids(
    means: np.ndarray,
    ns: np.ndarray,
    delta: float,
    discrete: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """One deterministic left-to-right merging pass under the k1-family bound.

    Inputs must be sorted by mean with unique means.  A running centroid
    absorbs the next one iff the merged centroid's midpoint quantile q
    satisfies ``floor(4·N·δ·q·(1−q)) ≥ merged weight`` — the same capacity
    rule as the reference's insert path (src/tdigest.ml:254-256).  The first
    and last centroids never absorb distinct means (tail protection:
    src/tdigest.ml:249-252), so digest min/max stay exact singletons.
    """
    m = len(means)
    if discrete or delta <= 0.0 or m <= 2:
        return means, ns
    total = float(ns.sum())
    out_means: list[float] = [float(means[0])]
    out_ns: list[float] = [float(ns[0])]
    cum_before = 0.0  # cumulative weight of closed centroids before current
    cur_mean = float(means[1])
    cur_n = float(ns[1])
    cum_before = out_ns[0]
    for i in range(2, m - 1):
        x = float(means[i])
        w = float(ns[i])
        cand = cur_n + w
        q = (cum_before + cand / 2.0) / total
        cap = math.floor(4.0 * total * delta * q * (1.0 - q))
        if cap >= cand:
            cur_mean = cur_mean + w * (x - cur_mean) / cand
            cur_n = cand
        else:
            out_means.append(cur_mean)
            out_ns.append(cur_n)
            cum_before += cur_n
            cur_mean = x
            cur_n = w
    out_means.append(cur_mean)
    out_ns.append(cur_n)
    # last centroid emitted alone (tail protection)
    out_means.append(float(means[m - 1]))
    out_ns.append(float(ns[m - 1]))
    return np.asarray(out_means), np.asarray(out_ns)


def compress_centroids_vec(
    means: np.ndarray,
    ns: np.ndarray,
    delta: float,
    discrete: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Fully-vectorized deterministic compression on the logit grid — the
    closed form of the same k1-family capacity rule.

    The reference caps a centroid at midpoint quantile q at
    ``4·N·δ·q·(1−q)`` weight (src/tdigest.ml:254-256).  A cluster of that
    weight spans Δq ≈ 4δ·q(1−q) of rank space, and since
    d(logit q)/dq = 1/(q(1−q)), clusters of exactly that width are the cells
    of a *fixed uniform grid in logit space* with cell size 4δ.  So instead
    of a sequential greedy pass, assign every input centroid to bucket
    ``floor(logit(q_mid)/(4δ))`` and merge within buckets — one vectorized
    pass (cumsum → log → reduceat), no Python loop.  Same error class as the
    greedy rule (interpolation rank error ≤ 2δ·q(1−q) ≤ δ/2); the logit
    grid's blow-up at q→0/1 gives automatic tail protection, and the first/
    last centroids are additionally forced to be singletons so digest
    min/max stay exact (reference invariant, test/test_tdigest.ml:58-65).

    Deterministic: output is a pure function of the (sorted, unique-mean)
    input multiset.  Used by the production ``MergingDigest``; the
    sequential ``TDigest`` keeps the per-centroid greedy pass for
    reference-insertion parity.
    """
    m = len(means)
    if discrete or delta <= 0.0 or m <= 3:
        return means, ns
    if not math.isfinite(1.0 / (4.0 * delta)):
        # subnormal delta: logit/(4δ) overflows to ±inf and would collapse
        # whole logit signs into single buckets — semantically δ→0 means
        # "never merge", so take the exact path
        return means, ns
    W = np.cumsum(ns)
    total = W[-1]
    q_mid = (W - ns * 0.5) / total
    bucket = np.floor(np.log(q_mid / (1.0 - q_mid)) / (4.0 * delta))
    starts = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
    # min/max centroids always own clusters
    starts = np.union1d(starts, [1, m - 1])
    seg_n = np.add.reduceat(ns, starts)
    seg_mean = np.add.reduceat(means * ns, starts) / seg_n
    seg_mean[0] = means[0]
    seg_mean[-1] = means[-1]
    return seg_mean, seg_n


# ---------------------------------------------------------------------------
# Queries (vectorized; shared by both paths)
# Reference: percentile src/tdigest.ml:437-456, p_rank src/tdigest.ml:460-485
# ---------------------------------------------------------------------------


def quantiles_of_centroids(
    means: np.ndarray,
    ns: np.ndarray,
    ps: Sequence[float] | np.ndarray,
    discrete: bool = False,
) -> np.ndarray:
    """Reference ``percentile`` semantics over sorted centroid arrays.

    Merging mode: linear interpolation between centroid midpoints in
    (mean_cumn, mean) space; clamps to min/max outside [0,1].
    Discrete mode: Nearest Rank Method (h ≤ lower.cumn → lower else upper).
    Empty digest → NaN.
    """
    ps = np.asarray(ps, dtype=np.float64)
    s = len(means)
    if s == 0:
        return np.full(ps.shape, np.nan)
    cumn = np.cumsum(ns)
    mean_cumn = cumn - ns / 2.0
    total = cumn[-1]
    h = total * ps
    # last index with mean_cumn <= h  (may be -1)
    lte = np.searchsorted(mean_cumn, h, side="right") - 1
    out = np.empty(ps.shape, dtype=np.float64)

    below = lte < 0  # Upper → min mean
    out[below] = means[0]
    at_top = lte >= s - 1  # Lower (or Equal on last) → max mean
    out[at_top] = means[s - 1]
    mid = ~(below | at_top)
    li = np.clip(lte, 0, s - 1)
    eq = mid & (mean_cumn[li] == h)
    out[eq] = means[li[eq]]
    both = mid & ~eq
    bi = li[both]
    if discrete:
        take_lower = h[both] <= cumn[bi]
        out[both] = np.where(take_lower, means[bi], means[bi + 1])
    else:
        out[both] = means[bi] + (
            (h[both] - mean_cumn[bi])
            * (means[bi + 1] - means[bi])
            / (mean_cumn[bi + 1] - mean_cumn[bi])
        )
    return out


def cdf_of_centroids(
    means: np.ndarray,
    ns: np.ndarray,
    qs: Sequence[float] | np.ndarray,
    discrete: bool = False,
) -> np.ndarray:
    """Reference ``p_rank`` semantics: fraction of mass ≤ q.

    0 below min, 1 above max; exact centroid hit → mean_cumn/N in merging
    mode (midpoint convention) or cumn/N in discrete mode; linear
    interpolation in (mean, mean_cumn) space between centroids otherwise.
    Empty digest → NaN.
    """
    qs = np.asarray(qs, dtype=np.float64)
    s = len(means)
    if s == 0:
        return np.full(qs.shape, np.nan)
    cumn = np.cumsum(ns)
    mean_cumn = cumn - ns / 2.0
    total = cumn[-1]
    out = np.empty(qs.shape, dtype=np.float64)

    below = qs < means[0]
    above = qs > means[s - 1]
    out[below] = 0.0
    out[above] = 1.0
    mid = ~(below | above)
    lte = np.searchsorted(means, qs, side="right") - 1  # ≥0 within mid
    li = np.clip(lte, 0, s - 1)
    if discrete:
        out[mid] = cumn[li[mid]] / total
    else:
        eq = mid & (means[li] == qs)
        out[eq] = mean_cumn[li[eq]] / total
        both = mid & ~eq
        bi = li[both]
        num = mean_cumn[bi] + (
            (qs[both] - means[bi])
            * (mean_cumn[bi + 1] - mean_cumn[bi])
            / (means[bi + 1] - means[bi])
        )
        out[both] = num / total
    return out


def trimmed_mean_of_centroids(
    means: np.ndarray,
    ns: np.ndarray,
    lo: float = 0.1,
    hi: float = 0.9,
) -> float:
    """Mean of the mass between rank quantiles [lo, hi) — the robust-stats
    companion query (beyond the reference's API; standard t-digest kin).

    Each centroid spans rank interval [cum−n, cum); its contribution is the
    overlap of that interval with [N·lo, N·hi).  In exact/discrete mode
    (one centroid per distinct value) this IS the exact trimmed mean; in
    compressed mode it inherits the digest's rank-error bound at the two
    cut points.  Empty digest or empty trim window → NaN.
    """
    if not 0.0 <= lo < hi <= 1.0:
        raise ValueError(f"trimmed_mean: need 0 <= lo < hi <= 1, got {lo},{hi}")
    if len(means) == 0:
        return float("nan")
    cum = np.cumsum(ns)
    total = cum[-1]
    w = np.minimum(cum, hi * total) - np.maximum(cum - ns, lo * total)
    w = np.clip(w, 0.0, None)
    ws = w.sum()
    if ws <= 0.0:
        return float("nan")
    return float((means * w).sum() / ws)


def ks_of_centroids(
    means_a: np.ndarray,
    ns_a: np.ndarray,
    means_b: np.ndarray,
    ns_b: np.ndarray,
) -> float:
    """Two-sample Kolmogorov–Smirnov distance between two digests:
    sup_x |F_a(x) − F_b(x)| under the step-CDF convention F(x) = P(X ≤ x).

    Both step functions are constant between support points, so the sup is
    attained at a point of the UNION support evaluated right after the jump
    — a max over |cum_a/N_a − cum_b/N_b| at ``union(means)``.  With DISCRETE
    digests (one exact centroid per distinct value) this is the exact KS
    statistic of the underlying data — the distribution-drift detector a
    training pipeline runs between two corpus slices WITHOUT rescanning
    either: both inputs are stored KB-scale sketches.  With compressed
    digests it inherits each side's rank-error bound (|error| ≤ δ_a + δ_b).
    Empty on either side → NaN.

    Float determinism (the oracle hash relies on it): cum counts are exact
    integers in doubles, and the expression is evaluated pointwise as
    ``cum_a/N_a − cum_b/N_b`` — the same IEEE ops any SQL engine performs
    for ``abs(ca/na − cb/nb)``, so results match bit-for-bit.
    """
    if len(means_a) == 0 or len(means_b) == 0:
        return float("nan")
    na = np.cumsum(ns_a)
    nb = np.cumsum(ns_b)
    pts = np.union1d(means_a, means_b)
    ca = np.concatenate(([0.0], na))[np.searchsorted(means_a, pts, side="right")]
    cb = np.concatenate(([0.0], nb))[np.searchsorted(means_b, pts, side="right")]
    return float(np.max(np.abs(ca / na[-1] - cb / nb[-1])))


def w1_of_centroids(
    means_a: np.ndarray,
    ns_a: np.ndarray,
    means_b: np.ndarray,
    ns_b: np.ndarray,
) -> float:
    """1-Wasserstein (earth-mover) distance between two digests:
    ``∫ |F_a(x) − F_b(x)| dx`` under the same step-CDF convention as
    ``ks_of_centroids`` — the drift monitor that reports HOW FAR the mass
    moved in VALUE units, where KS reports only the largest CDF gap and
    PSI/JSD only bin-mass divergence (a uniform +10-char shift of every
    document moves W1 by exactly 10 while KS saturates).

    Both step CDFs are constant between union support points, so the
    integral is the finite sum ``Σ_i |F_a(p_i) − F_b(p_i)| · (p_{i+1} −
    p_i)`` over the sorted union support.  With DISCRETE digests this is
    the exact W1 of the underlying data, computed from two stored KB
    sketches with zero fact rescans; with compressed digests each side
    contributes its rank-error bound times its value range.  Empty on
    either side → NaN; identical digests → 0.0 exactly.

    Float determinism: evaluated pointwise as ``(ca/na − cb/nb)`` times an
    exact value gap then summed ascending — a SQL engine spelling the same
    sum over the same union grid in value order reproduces it; gate rows
    should still round to 6 decimals (the ks_global lesson: arbitrary-order
    SQL SUM can differ in final ulps)."""
    if len(means_a) == 0 or len(means_b) == 0:
        return float("nan")
    na = np.cumsum(ns_a)
    nb = np.cumsum(ns_b)
    pts = np.union1d(means_a, means_b)
    if len(pts) == 1:
        return 0.0
    ca = np.concatenate(([0.0], na))[np.searchsorted(means_a, pts, side="right")]
    cb = np.concatenate(([0.0], nb))[np.searchsorted(means_b, pts, side="right")]
    gaps = np.diff(pts)
    f = ca / na[-1] - cb / nb[-1]
    return float(np.sum(np.abs(f[:-1]) * gaps))


def psi_jsd_of_centroids(
    means_a: np.ndarray,
    ns_a: np.ndarray,
    means_b: np.ndarray,
    ns_b: np.ndarray,
    bins: int = 10,
    eps: float = 1e-6,
) -> tuple[float, float]:
    """Population Stability Index and Jensen–Shannon divergence between two
    digests, binned on the REFERENCE side's (b) quantile grid — the other
    two standard distribution-drift monitors next to ``ks_of_centroids``,
    likewise computed from stored KB sketches with zero fact rescans.

    Bin edges are b's ``bins``-quantiles (Nearest Rank in discrete mode, so
    edges are exact data values); bin mass on each side is the step-CDF
    difference P(e_{i-1} < X ≤ e_i).  Both masses are floored at ``eps``
    before the logs (the standard PSI convention for empty bins; it also
    keeps the JSD terms defined), so an empty-on-both-sides bin contributes
    exactly 0.  PSI = Σ (p−q)·ln(p/q) ∈ [0, ∞); JSD = ½Σ p·ln(2p/(p+q)) +
    ½Σ q·ln(2q/(p+q)) ∈ [0, ln 2].  With DISCRETE digests the bin masses
    are the exact empirical masses, so both statistics are exactly
    reproducible in SQL (``FILTER (WHERE v <= edge)`` counts + ``LN``).

    Float determinism (the oracle hash relies on it): accumulation is a
    plain Python sum in ascending-bin order over scalar ``math.log`` (the
    same libm ``log`` a SQL engine calls); callers that hash results should
    round (both sides identically) to absorb any engine sum-order ulp.
    Empty on either side → (NaN, NaN).
    """
    if len(means_a) == 0 or len(means_b) == 0 or bins < 2:
        return (float("nan"), float("nan"))
    ps = [i / bins for i in range(1, bins)]
    edges = quantiles_of_centroids(means_b, ns_b, ps, discrete=True)
    ca = np.cumsum(ns_a)
    cb = np.cumsum(ns_b)
    # step CDF P(X <= e): cumulative count of means <= e, as exact doubles
    fa = np.concatenate(([0.0], ca))[
        np.searchsorted(means_a, edges, side="right")
    ] / ca[-1]
    fb = np.concatenate(([0.0], cb))[
        np.searchsorted(means_b, edges, side="right")
    ] / cb[-1]
    fa = np.concatenate(([0.0], fa, [1.0]))
    fb = np.concatenate(([0.0], fb, [1.0]))
    psi = 0.0
    jsd = 0.0
    for i in range(bins):
        p = max(float(fa[i + 1] - fa[i]), eps)
        q = max(float(fb[i + 1] - fb[i]), eps)
        psi += (p - q) * math.log(p / q)
        m = p + q
        jsd += 0.5 * p * math.log(2.0 * p / m) + 0.5 * q * math.log(2.0 * q / m)
    return (psi, jsd)


# ---------------------------------------------------------------------------
# Sequential reference-parity digest
# ---------------------------------------------------------------------------


class TDigest:
    """Reference-faithful sequential t-digest (insertion decision table,
    cx-cached cumulative sums, auto-recompression) — the semantics anchor.

    Parameters mirror the reference's variant types (src/tdigest.ml:5-24):
      delta:    compression factor (``Merging delta``); 0.0 = never merge.
      discrete: True = ``Discrete`` mode (every distinct value exact;
                nearest-rank / step-CDF query semantics).
      k:        auto-recompression trigger ``size > k/delta``; None = ``Manual``.
      cx:       staleness bound for cached cumulative sums; None = ``Always``.
    """

    __slots__ = (
        "delta", "discrete", "k", "cx", "k_delta",
        "_means", "_ns", "_cumn", "_mean_cumn",
        "_n", "_last_cumulate",
        "cumulates_count", "compress_count", "auto_compress_count",
    )

    def __init__(
        self,
        delta: float = DEFAULT_DELTA,
        k: float | None = DEFAULT_K,
        cx: float | None = DEFAULT_CX,
        discrete: bool = False,
    ) -> None:
        if k is not None:
            if k == 0.0:
                raise ValueError(
                    "TDigest: k cannot be zero; use k=None (Manual) to disable "
                    "automatic compression"
                )
            if k < 0.0:
                raise ValueError(f"TDigest: k must be positive, got {k}")
        if cx is not None:
            if cx == 0.0:
                raise ValueError(
                    "TDigest: cx cannot be zero; use cx=None (Always) to disable "
                    "cumulative-total caching"
                )
            if cx < 0.0:
                raise ValueError(f"TDigest: cx must be positive, got {cx}")
        self.delta = float(delta)
        self.discrete = bool(discrete)
        self.k = k
        self.cx = cx
        self.k_delta = (k / delta) if (k is not None and not discrete and delta > 0) else None
        self._means: list[float] = []
        self._ns: list[float] = []
        self._cumn: list[float] = []
        self._mean_cumn: list[float] = []
        self._n = 0.0
        self._last_cumulate = 0.0
        self.cumulates_count = 0
        self.compress_count = 0
        self.auto_compress_count = 0

    # -- introspection ------------------------------------------------------

    def is_empty(self) -> bool:
        return not self._means

    @property
    def size(self) -> int:
        return len(self._means)

    @property
    def count(self) -> float:
        return self._n

    def info(self) -> dict:
        return {
            "count": int(self._n),
            "size": self.size,
            "cumulates_count": self.cumulates_count,
            "compress_count": self.compress_count,
            "auto_compress_count": self.auto_compress_count,
        }

    def centroids(self) -> list[tuple[float, float]]:
        """Ascending (mean, n) pairs — the test observability hook."""
        return list(zip(self._means, self._ns))

    def min(self) -> tuple[float, float] | None:
        return (self._means[0], self._ns[0]) if self._means else None

    def max(self) -> tuple[float, float] | None:
        return (self._means[-1], self._ns[-1]) if self._means else None

    # -- ingest (reference decision table, src/tdigest.ml:242-262) ----------

    def _use_cache(self) -> bool:
        if self.cx is None:
            return False
        if self._last_cumulate == 0.0:
            return False  # n/0 = +inf in the reference → never cached
        return self.cx > self._n / self._last_cumulate

    def _cumulate(self, exact: bool) -> None:
        if self._n == self._last_cumulate:
            return
        if not exact and self._use_cache():
            return
        cumn = 0.0
        for i, n in enumerate(self._ns):
            self._mean_cumn[i] = cumn + n / 2.0
            cumn += n
            self._cumn[i] = cumn
        self._n = cumn
        self._last_cumulate = cumn
        self.cumulates_count += 1

    def _find_nearest(self, mean: float) -> int:
        """Index of nearest centroid by mean; −1 when below all keys or empty.

        Ties (equidistant) go to the greater neighbor, matching the strict
        ``mean − k1 < k2 − mean`` comparison in the reference
        (src/tdigest.ml:170-186).
        """
        keys = self._means
        i = bisect_right(keys, mean) - 1
        if i < 0:
            return -1
        if keys[i] == mean:
            return i
        j = i + 1
        if j >= len(keys):
            return i
        if mean - keys[i] < keys[j] - mean:
            return i
        return j

    def _new_centroid(self, idx_hint_mean: float, n: float, cumn: float) -> None:
        pos = bisect_right(self._means, idx_hint_mean)
        self._means.insert(pos, idx_hint_mean)
        self._ns.insert(pos, n)
        self._cumn.insert(pos, cumn)
        self._mean_cumn.insert(pos, n / 2.0)
        self._n += n

    def _add_weight(self, idx: int, mean: float, n: float) -> None:
        old_mean = self._means[idx]
        old_n = self._ns[idx]
        if old_mean == mean:
            new_mean = old_mean
        else:
            new_mean = old_mean + (n * (mean - old_mean) / (old_n + n))
        new_cumn = self._cumn[idx] + n
        new_mcumn = self._mean_cumn[idx] + n / 2.0
        new_n = old_n + n
        del self._means[idx], self._ns[idx], self._cumn[idx], self._mean_cumn[idx]
        pos = bisect_right(self._means, new_mean)
        if pos > 0 and self._means[pos - 1] == new_mean:
            # reference raises (add_exn collision) — we combine instead (§7.3.5)
            self._ns[pos - 1] += new_n
            self._cumn[pos - 1] += new_cumn
            self._mean_cumn[pos - 1] += new_mcumn
        else:
            self._means.insert(pos, new_mean)
            self._ns.insert(pos, new_n)
            self._cumn.insert(pos, new_cumn)
            self._mean_cumn.insert(pos, new_mcumn)
        self._n += n

    def _internal_digest(self, mean: float, n: float) -> None:
        s = len(self._means)
        idx = self._find_nearest(mean)
        if idx < 0:
            self._new_centroid(mean, n, 0.0)
        elif self._means[idx] == mean:
            self._add_weight(idx, mean, n)
        elif idx == 0:  # nearest is the min centroid → tail protection
            self._new_centroid(mean, n, 0.0)
        elif idx == s - 1:  # nearest is the max centroid
            self._new_centroid(mean, n, self._n)
        elif self.discrete:
            self._new_centroid(mean, n, self._cumn[idx])
        else:
            p = self._mean_cumn[idx] / self._n
            max_n = math.floor(4.0 * self._n * self.delta * p * (1.0 - p))
            if max_n - self._ns[idx] >= n:
                self._add_weight(idx, mean, n)
            else:
                self._new_centroid(mean, n, self._cumn[idx])
        self._cumulate(exact=False)

    def _rebuild(self, auto: bool, delta: float | None = None) -> None:
        """Deterministic rebuild: sorted merging pass (divergence §7.3.1)."""
        d = self.delta if delta is None else delta
        means, ns = _group_equal_means(np.asarray(self._means), np.asarray(self._ns))
        means, ns = compress_centroids(means, ns, d, self.discrete)
        self._means = [float(x) for x in means]
        self._ns = [float(x) for x in ns]
        self._cumn = [0.0] * len(self._means)
        self._mean_cumn = [0.0] * len(self._means)
        self._n = float(np.sum(ns)) if len(ns) else 0.0
        self._last_cumulate = -1.0  # force recompute
        self.compress_count += 1
        if auto:
            self.auto_compress_count += 1
        self._cumulate(exact=True)

    def add(self, data: float, n: int = 1) -> "TDigest":
        if n <= 0:
            raise ValueError("TDigest.add: n <= 0")
        self._internal_digest(float(data), float(n))
        if self.k_delta is not None and len(self._means) > self.k_delta:
            self._rebuild(auto=True)
        return self

    def add_list(self, xs: Iterable[float], n: int = 1) -> "TDigest":
        if n <= 0:
            raise ValueError("TDigest.add_list: n <= 0")
        for x in xs:
            self.add(x, n)
        return self

    def compress(self, delta: float | None = None) -> "TDigest":
        """Manual rebuild; a one-shot delta override does not alter settings."""
        self._rebuild(auto=False, delta=delta)
        return self

    # -- queries -------------------------------------------------------------

    def _arrays(self) -> tuple[np.ndarray, np.ndarray]:
        return np.asarray(self._means), np.asarray(self._ns)

    def percentile(self, p: float) -> float | None:
        if self._n == 0.0:
            return None
        self._cumulate(exact=True)
        means, ns = self._arrays()
        v = float(quantiles_of_centroids(means, ns, [p], self.discrete)[0])
        return v

    def percentiles(self, ps: Sequence[float]) -> list[float | None]:
        return [self.percentile(p) for p in ps]

    def p_rank(self, q: float) -> float | None:
        if self._n == 0.0:
            return None
        self._cumulate(exact=True)
        means, ns = self._arrays()
        v = float(cdf_of_centroids(means, ns, [q], self.discrete)[0])
        return v

    def p_ranks(self, qs: Sequence[float]) -> list[float | None]:
        return [self.p_rank(q) for q in qs]

    # -- serde / merge -------------------------------------------------------

    def to_bytes(self) -> bytes:
        return centroids_to_bytes(*self._arrays())

    @classmethod
    def from_bytes(
        cls,
        data: bytes,
        delta: float = DEFAULT_DELTA,
        k: float | None = DEFAULT_K,
        cx: float | None = DEFAULT_CX,
        discrete: bool = False,
    ) -> "TDigest":
        """Parse any concatenation of serialized digests; rebuild under fresh
        settings (reference of_string, src/tdigest.ml:360-373)."""
        td = cls(delta=delta, k=k, cx=cx, discrete=discrete)
        means, ns = bytes_to_centroids(data)
        td._load(means, ns)
        td._rebuild(auto=True)
        td.compress_count = 1
        td.auto_compress_count = 1
        return td

    def to_wire(self) -> bytes:
        """Headered serialization (magic + type + delta/discrete + version);
        ``to_bytes`` stays the raw concat-mergeable payload format."""
        return wrap_tdigest_wire(self.to_bytes(), self.delta, self.discrete)

    @classmethod
    def from_wire(
        cls,
        data: bytes,
        delta: float | None = None,
        k: float | None = DEFAULT_K,
        cx: float | None = DEFAULT_CX,
        discrete: bool | None = None,
    ) -> "TDigest":
        """Parse a headered OR legacy headerless blob.  Header settings are
        used unless explicitly overridden; headerless blobs fall back to the
        defaults (reference of_string semantics)."""
        payload, h_delta, h_discrete = parse_tdigest_wire(data)
        return cls.from_bytes(
            payload,
            delta=delta if delta is not None else (
                h_delta if h_delta is not None else DEFAULT_DELTA),
            k=k,
            cx=cx,
            discrete=discrete if discrete is not None else bool(h_discrete),
        )

    def _load(self, means: np.ndarray, ns: np.ndarray) -> None:
        self._means = [float(x) for x in means]
        self._ns = [float(x) for x in ns]
        self._cumn = [0.0] * len(self._means)
        self._mean_cumn = [0.0] * len(self._means)
        self._n = float(np.sum(ns)) if len(ns) else 0.0
        self._last_cumulate = -1.0
        self._cumulate(exact=True)

    @classmethod
    def merge(
        cls,
        tds: Sequence["TDigest"],
        delta: float = DEFAULT_DELTA,
        k: float | None = DEFAULT_K,
        cx: float | None = DEFAULT_CX,
        discrete: bool = False,
    ) -> "TDigest":
        """Union all inputs' centroids (mean → Σn) and rebuild under *fresh*
        settings — inputs' settings are not inherited, stats reset
        (reference merge, src/tdigest.ml:402-408)."""
        out = cls(delta=delta, k=k, cx=cx, discrete=discrete)
        means, ns = merge_centroid_arrays([t._arrays() for t in tds])
        out._load(means, ns)
        out._rebuild(auto=True)
        out.compress_count = 1
        out.auto_compress_count = 1
        return out


# ---------------------------------------------------------------------------
# Batched production digest (Dunning's merging-digest)
# ---------------------------------------------------------------------------


class MergingDigest(Aggregator):
    """Vectorized t-digest for Arrow-batch aggregation on Spark.

    Ingest: numpy batches are buffered; when the buffer exceeds
    ``buffer_size`` the buffer is sorted, grouped, unioned with the existing
    centroids and compressed in one deterministic pass (centroid-buffer
    batching).  No per-row Python ever runs in the hot path.

    Merging: ``merge`` is the lossless commutative-monoid union; call
    ``compress()`` (idempotent, deterministic) once at the end of a reduction
    tree — this is what makes ``merge`` exactly associative/commutative on
    serialized bytes.
    """

    __slots__ = ("delta", "discrete", "buffer_size", "max_size",
                 "_means", "_ns", "_buf_v", "_buf_w", "_buf_len",
                 "cumulates_count", "compress_count", "auto_compress_count")

    def __init__(
        self,
        delta: float = DEFAULT_DELTA,
        discrete: bool = False,
        buffer_size: int = 131072,
        max_size: int | None = None,
    ) -> None:
        self.delta = float(delta)
        self.discrete = bool(discrete)
        self.buffer_size = int(buffer_size)
        # hard size cap: compress partials when they exceed this (≈ k/δ analog);
        # a tiny delta can push k/δ past any useful bound (or overflow int()
        # at subnormal δ) — treat it as uncapped, same as δ=0 "never merge"
        if max_size is None:
            if delta > 0 and not discrete and DEFAULT_K / delta < 2**31:
                max_size = int(DEFAULT_K / delta)
            else:
                max_size = None
        self.max_size = max_size
        self._means = np.empty(0)
        self._ns = np.empty(0)
        self._buf_v: list[np.ndarray] = []
        self._buf_w: list[np.ndarray] = []
        self._buf_len = 0
        # engine counters (reference info counters, src/tdigest.ml:42-58):
        # cumulates = buffer flushes into the centroid arrays; auto = size-cap
        # compressions; compress = explicit compress() calls.  Process-local
        # (reset by deserialize); the Spark path sums them into accumulators
        # via tdigest_ops.TDigestMetrics.
        self.cumulates_count = 0
        self.compress_count = 0
        self.auto_compress_count = 0

    # -- Aggregator interface -------------------------------------------------

    @classmethod
    def zero(cls, **params) -> "MergingDigest":
        return cls(**params)

    def finish(self) -> "MergingDigest":
        return self.compress()

    def update_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        v = np.asarray(values, dtype=np.float64)
        if weights is None:
            keep = ~np.isnan(v)
            v = v[keep]
            if len(v) == 0:
                return
            w = np.ones(len(v))
        else:
            w = np.asarray(weights, dtype=np.float64)
            if len(w) != len(v):
                raise ValueError(
                    f"update_batch: {len(v)} values vs {len(w)} weights"
                )
            if np.any(w[~np.isnan(w)] <= 0.0):
                # reference parity: add ~n with n <= 0 raises
                # (src/tdigest.ml:313-314)
                raise ValueError("update_batch: weights must be positive")
            keep = ~(np.isnan(v) | np.isnan(w))  # same mask on BOTH arrays
            v, w = v[keep], w[keep]
            if len(v) == 0:
                return
        self._buf_v.append(v)
        self._buf_w.append(w)
        self._buf_len += len(v)
        if self._buf_len >= self.buffer_size:
            self._flush(compress=True)

    def _flush(self, compress: bool) -> None:
        if self._buf_len == 0 and not compress:
            return
        parts: list[tuple[np.ndarray, np.ndarray]] = []
        if len(self._means):
            parts.append((self._means, self._ns))
        if self._buf_len:
            parts.append((np.concatenate(self._buf_v), np.concatenate(self._buf_w)))
        if not parts:
            return
        means, ns = merge_centroid_arrays(parts)
        self.cumulates_count += 1
        if compress and not self.discrete and self.max_size is not None and len(means) > self.max_size:
            means, ns = compress_centroids_vec(means, ns, self.delta, self.discrete)
            self.auto_compress_count += 1
        self._means, self._ns = means, ns
        self._buf_v, self._buf_w, self._buf_len = [], [], 0

    def merge(self, other: "MergingDigest") -> "MergingDigest":
        """Lossless in-place union with another digest (or its centroids)."""
        other._flush(compress=False)
        self._flush(compress=False)
        self._means, self._ns = merge_centroid_arrays(
            [(self._means, self._ns), (other._means, other._ns)]
        )
        return self

    def merge_bytes(self, data: bytes) -> "MergingDigest":
        self._flush(compress=False)
        self._means, self._ns = merge_centroid_arrays(
            [(self._means, self._ns), bytes_to_centroids(data)]
        )
        return self

    @classmethod
    def merge_blobs(cls, acc, blobs, **params) -> "MergingDigest":
        """Merge-phase fast path: a concatenation of serialized digests is
        itself a valid digest, so a key's blobs from one Arrow batch cost
        one ``merge_bytes`` call; ``finish_merge`` compresses once."""
        acc = cls(**params) if acc is None else acc
        blob = b"".join(blobs)
        return acc.merge_bytes(blob) if blob else acc

    def finish_merge(self) -> "MergingDigest":
        return self.compress()

    def compress(self, delta: float | None = None) -> "MergingDigest":
        """Deterministic final compression (idempotent for a fixed multiset)."""
        self._flush(compress=False)
        d = self.delta if delta is None else delta
        self._means, self._ns = compress_centroids_vec(self._means, self._ns, d, self.discrete)
        self.compress_count += 1
        return self

    def serialize(self) -> bytes:
        self._flush(compress=False)
        if self.max_size is not None and len(self._means) > 4 * self.max_size:
            # hard cap for partials at scale; documented bound-level equality
            self._means, self._ns = compress_centroids_vec(
                self._means, self._ns, self.delta, self.discrete
            )
            self.auto_compress_count += 1
        return centroids_to_bytes(self._means, self._ns)

    @classmethod
    def deserialize(
        cls, data: bytes, delta: float = DEFAULT_DELTA, discrete: bool = False, **kw
    ) -> "MergingDigest":
        d = cls(delta=delta, discrete=discrete, **kw)
        d._means, d._ns = bytes_to_centroids(data)
        return d

    def to_wire(self) -> bytes:
        """Headered serialization; ``serialize`` stays the raw
        concat-mergeable payload format used by the distributed merge."""
        return wrap_tdigest_wire(self.serialize(), self.delta, self.discrete)

    @classmethod
    def from_wire(
        cls, data: bytes, delta: float | None = None,
        discrete: bool | None = None, **kw
    ) -> "MergingDigest":
        """Parse a headered OR legacy headerless blob, restoring the stored
        delta/discrete settings unless explicitly overridden."""
        payload, h_delta, h_discrete = parse_tdigest_wire(data)
        return cls.deserialize(
            payload,
            delta=delta if delta is not None else (
                h_delta if h_delta is not None else DEFAULT_DELTA),
            discrete=discrete if discrete is not None else bool(h_discrete),
            **kw,
        )

    # -- introspection / queries ----------------------------------------------

    def is_empty(self) -> bool:
        self._flush(compress=False)
        return len(self._means) == 0

    @property
    def size(self) -> int:
        self._flush(compress=False)
        return len(self._means)

    @property
    def count(self) -> float:
        self._flush(compress=False)
        return float(self._ns.sum()) if len(self._ns) else 0.0

    def centroids(self) -> list[tuple[float, float]]:
        self._flush(compress=False)
        return list(zip(self._means.tolist(), self._ns.tolist()))

    def quantile(self, ps) -> np.ndarray:
        self._flush(compress=False)
        return quantiles_of_centroids(self._means, self._ns, np.atleast_1d(ps), self.discrete)

    def cdf(self, qs) -> np.ndarray:
        self._flush(compress=False)
        return cdf_of_centroids(self._means, self._ns, np.atleast_1d(qs), self.discrete)

    def trimmed_mean(self, lo: float = 0.1, hi: float = 0.9) -> float:
        self._flush(compress=False)
        return trimmed_mean_of_centroids(self._means, self._ns, lo, hi)

    def info(self) -> dict:
        """Reference ``info`` parity (src/tdigest.ml:161-168) including the
        engine counters — the production-path analog of ``TDigest.info``.
        Counters are process-local (zero after ``deserialize``); the Spark
        path aggregates them across workers via
        ``tdigest_ops.TDigestMetrics``."""
        self._flush(compress=False)
        return {
            "count": self.count,
            "size": self.size,
            "cumulates_count": self.cumulates_count,
            "compress_count": self.compress_count,
            "auto_compress_count": self.auto_compress_count,
        }
