"""Bitwise property tests: the numpy XXH64-over-longs kernel must match
Spark's ``F.xxhash64`` exactly — it is the bridge that lets Arrow-side
numpy continue hash chains the JVM started (decontam window hashing)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.hashing import XXH64_SPARK_SEED, xxh64_long, xxh64_window_fold


def test_xxh64_long_matches_spark_single_and_chained(spark):
    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.integers(-2**63, 2**63 - 1, size=2000, dtype=np.int64),
        np.array([0, 1, -1, 2**63 - 1, -2**63, 42], dtype=np.int64),
    ])
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    rows = df.select(
        F.xxhash64("v").alias("h1"),
        F.xxhash64("v", "v").alias("h2"),
        F.xxhash64("v", "v", "v").alias("h3"),
    ).collect()
    u = vals.view(np.uint64)
    h1 = xxh64_long(u)
    h2 = xxh64_long(u, h1)
    h3 = xxh64_long(u, h2)
    for got, col in ((h1, "h1"), (h2, "h2"), (h3, "h3")):
        exp = np.array([r[col] for r in rows], dtype=np.int64).view(np.uint64)
        assert (got == exp).all()


def test_xxh64_long_scalar_and_int64_inputs():
    a = xxh64_long(np.int64(-5), np.uint64(42))
    b = xxh64_long(np.uint64(np.int64(-5).view(np.uint64)), XXH64_SPARK_SEED)
    assert a == b


@pytest.mark.parametrize("n", [2, 4, 8])
def test_window_fold_matches_spark_multiarg(spark, n):
    """The flat window fold must equal Spark's n-arg xxhash64 over each
    window of token hashes, including the short-doc fallback fold and
    empty/null documents."""
    rng = np.random.default_rng(n)
    docs = []
    for t in [0, 1, n - 1, n, n + 1, 3 * n, 57]:
        docs.append(rng.integers(-2**62, 2**62, size=t, dtype=np.int64).tolist())
    docs.append(None)  # null document -> zero windows

    # expected via Spark: per-doc, explode every window and hash multi-arg
    expected = []
    for d in docs:
        if not d:  # None or zero tokens -> the pure fold contributes nothing
            expected.append([])
            continue
        df = spark.createDataFrame([(d,)], "a array<long>")
        if len(d) >= n:
            exprs = [
                F.xxhash64(*[F.col("a")[i + k] for k in range(n)]).alias(f"w{i}")
                for i in range(len(d) - n + 1)
            ]
        else:
            exprs = [F.xxhash64(*[F.col("a")[k] for k in range(len(d))]).alias("w0")]
        row = df.select(*exprs).collect()[0]
        expected.append([np.int64(v).view(np.uint64) for v in row])

    flat = np.concatenate(
        [np.asarray(d or [], dtype=np.int64) for d in docs]
    ).view(np.uint64) if any(docs) else np.empty(0, np.uint64)
    offsets = np.concatenate([[0], np.cumsum([len(d or []) for d in docs])])
    got_vals, got_offs = xxh64_window_fold(flat, offsets, n)
    for i, exp in enumerate(expected):
        g = got_vals[got_offs[i]:got_offs[i + 1]]
        assert list(g) == list(exp), f"doc {i}"


def test_window_fold_empty_input():
    vals, offs = xxh64_window_fold(np.empty(0, np.uint64), np.array([0]), 4)
    assert len(vals) == 0 and list(offs) == [0]


# ---------------------------------------------------------------------------
# poly_window_fold — the production O(total-tokens) decontam kernel
# ---------------------------------------------------------------------------

from sketchlib.hashing import _GOLDEN, poly_window_fold  # noqa: E402

_P = int(_GOLDEN)
_M = 2 ** 64


def _brute_poly(docs, n, min_one=None):
    """Reference: window hash = sum_j v[g+j] * P^j mod 2^64, with the
    short-doc fallback (one window over T tokens) and the min_one
    empty-sum (0) window."""
    out, offs = [], [0]
    for i, d in enumerate(docs):
        dl = [] if d is None else d
        wins = []
        if len(dl) >= n:
            for g in range(len(dl) - n + 1):
                wins.append(
                    sum(dl[g + j] * pow(_P, j, _M) for j in range(n)) % _M
                )
        elif len(dl) > 0:
            wins.append(
                sum(dl[j] * pow(_P, j, _M) for j in range(len(dl))) % _M
            )
        elif d is not None and min_one is not None and min_one[i]:
            wins.append(0)
        out.extend(wins)
        offs.append(len(out))
    return np.array(out, dtype=np.uint64), np.array(offs)


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8, 13])
def test_poly_window_fold_matches_bruteforce(n):
    rng = np.random.default_rng(n)
    docs = []
    for t in [0, 1, max(n - 1, 0), n, n + 1, 3 * n + 2, 57, 0]:
        docs.append(rng.integers(0, 2**64, size=t, dtype=np.uint64).tolist())
    docs.insert(3, None)
    docs.append(None)
    lens = np.array([0 if d is None else len(d) for d in docs])
    flat = np.concatenate(
        [np.asarray(d or [], dtype=np.uint64) for d in docs]
    )
    offs = np.concatenate([[0], np.cumsum(lens)])
    min_one = np.array([d is not None for d in docs])
    for mo in (None, min_one):
        exp_v, exp_o = _brute_poly(docs, n, mo)
        got_v, got_o = poly_window_fold(flat, offs, n, min_one=mo)
        assert list(got_o) == list(exp_o)
        assert (got_v == exp_v).all()


def test_poly_window_fold_layout_matches_chain_fold():
    """Same flat layout and document conventions as the reference chain
    fold: identical window counts/offsets on identical input (hash VALUES
    differ by design — different hash space)."""
    rng = np.random.default_rng(0)
    lens = rng.integers(0, 40, size=200)
    flat = rng.integers(0, 2**64, size=int(lens.sum()), dtype=np.uint64)
    offs = np.concatenate([[0], np.cumsum(lens)])
    _, o_poly = poly_window_fold(flat, offs, 5)
    _, o_chain = xxh64_window_fold(flat, offs, 5)
    assert (o_poly == o_chain).all()


def test_poly_window_fold_position_independent():
    """Equal token windows hash equal wherever they occur — the property
    the Bloom build/probe pair relies on."""
    rng = np.random.default_rng(1)
    win = rng.integers(0, 2**64, size=6, dtype=np.uint64)
    docA = np.concatenate([rng.integers(0, 2**64, 17, dtype=np.uint64), win])
    docB = np.concatenate([win, rng.integers(0, 2**64, 9, dtype=np.uint64)])
    flat = np.concatenate([docA, docB])
    offs = np.array([0, len(docA), len(docA) + len(docB)])
    h, o = poly_window_fold(flat, offs, 6)
    assert h[o[1] - 1] == h[o[1]]  # docA's last window == docB's first


def test_poly_window_fold_excludes_cross_doc_and_null_ranges():
    rng = np.random.default_rng(2)
    flat = rng.integers(0, 2**64, size=30, dtype=np.uint64)
    # doc1 is a null cell whose Arrow offset range spans garbage [10, 20)
    offs = np.array([0, 10, 20, 30])
    lens = np.array([10, 0, 10])
    gv, go = poly_window_fold(flat, offs, 4, lens=lens)
    ev, eo = _brute_poly([flat[:10].tolist(), None, flat[20:].tolist()], 4)
    assert list(go) == list(eo) and (gv == ev).all()
    # sliced-batch offsets that do not start at zero
    gv2, go2 = poly_window_fold(flat, np.array([10, 20, 30]), 4)
    ev2, eo2 = _brute_poly([flat[10:20].tolist(), flat[20:].tolist()], 4)
    assert list(go2) == list(eo2) and (gv2 == ev2).all()


def test_poly_window_fold_concurrent_threads_match_single_threaded():
    """The kernel's reusable scratch buffers are per thread: threads
    folding different inputs at the same time get exactly the results of
    single-threaded calls (a shared buffer interleaves their hashes)."""
    import sys
    import threading

    rng = np.random.default_rng(3)
    inputs = []
    for k in range(6):  # more threads than cores, each input its own size
        lens = rng.integers(0, 80, size=1000 + 150 * k)
        flat = rng.integers(0, 2**64, size=int(lens.sum()), dtype=np.uint64)
        offs = np.concatenate([[0], np.cumsum(lens)])
        inputs.append((flat, offs, 5 + k % 4))
    expected = [poly_window_fold(*args)[0].copy() for args in inputs]
    start = threading.Barrier(len(inputs))
    calls = [0] * len(inputs)
    mismatches = [0] * len(inputs)

    def run(i):
        start.wait(timeout=60)
        for _ in range(25):
            got, _ = poly_window_fold(*inputs[i])
            mismatches[i] += not np.array_equal(got, expected[i])
            calls[i] += 1

    threads = [threading.Thread(target=run, args=(i,))
               for i in range(len(inputs))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == [25] * len(inputs)
    assert mismatches == [0] * len(inputs)
