"""The one Nearest Rank rule (``core.nearest_rank`` / ``rank_fraction``):
the discrete t-digest, oracle-mode KLL and every DuckDB oracle fragment
select the ``⌈n·a/b⌉``-th smallest value, p read as its decimal ``a/b``.

The hazard the rule removes: a float product ``n·p`` that lands a hair
above an integer rank moves the edge up by one.  numpy's and DuckDB's
``n * p`` only undershoot for the catalog's p, but a re-associated
spelling such as ``(n*0.1)*i`` overshoots (``(14*0.1)*5 ==
7.000000000000001``)."""

import inspect
import math
import re
from fractions import Fraction

import duckdb
import numpy as np
import pandas as pd
import pytest

from sketchlib import kll
from sketchlib.spark.queries import ORACLES, _rank_sql
from sketchlib.tdigest import core
from sketchlib.tdigest.core import MergingDigest, nearest_rank, rank_fraction

# group sizes where n·p is an integer for some catalog p
SIZES = [6, 14, 70, 90, 170, 490, 500, 2000]
PS = [i / 10 for i in range(1, 10)] + [0.05, 0.95, 1 / 3, 2 / 3]


def _values(n: int) -> np.ndarray:
    # ties included: the rule selects a value, not a position
    return np.random.default_rng(n).integers(0, n // 2 + 1, n).astype(float)


def _expected(x: np.ndarray, p: float) -> float:
    r = math.ceil(len(x) * Fraction(str(p)))
    return float(np.sort(x)[r - 1])


def _duck(x: np.ndarray, preds: dict[str, str]) -> dict[str, float]:
    """``min(v)`` per predicate over one group of ``x`` with DOUBLE ``cum``
    and ``total`` (the oracles' column types)."""
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": x}))
    sel = ", ".join(f"min(v) FILTER (WHERE {w}) AS {a}" for a, w in preds.items())
    row = con.execute(f"""
        SELECT {sel} FROM (
          SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS total
          FROM (SELECT v, CAST(count(*) AS DOUBLE) AS c FROM t GROUP BY v))
    """).fetchone()
    con.close()
    return dict(zip(preds, row))


def test_rank_fraction_reads_the_decimal():
    assert rank_fraction(0.95) == (19, 20)
    assert rank_fraction(0.1) == (1, 10)
    assert rank_fraction(1 / 3) == (3333333333333333, 10**16)
    assert rank_fraction(np.float64(0.05)) == (1, 20)
    assert rank_fraction(1) == (1, 1)


@pytest.mark.parametrize("n", SIZES)
def test_every_caller_selects_the_ceil_rank(n):
    x = _values(n)
    want = [_expected(x, p) for p in PS]
    d = MergingDigest(discrete=True)
    d.update_batch(x)
    assert d.quantile(PS).tolist() == want
    k = kll.KLL(k=4096)  # oracle mode: no compaction at these n
    k.update_batch(x)
    assert k.quantile(PS).tolist() == want
    got = _duck(x, {f"p{j}": _rank_sql(p) for j, p in enumerate(PS)})
    assert [got[f"p{j}"] for j in range(len(PS))] == want


@pytest.mark.parametrize("n", SIZES)
def test_decile_edge_does_not_depend_on_the_spelling(n):
    """One exact target ``⌈n·i/10⌉`` however the product is associated;
    the exact fragment picks it, and so do the float spellings
    ``(n*i)/10`` and ``n*(i/10)`` (they never overshoot)."""
    x = _values(n)
    for i in range(1, 10):
        spellings = {Fraction(n * i, 10), n * Fraction(i, 10),
                     (n * Fraction("0.1")) * i}
        assert len(spellings) == 1
        r = math.ceil(spellings.pop())
        want = float(np.sort(x)[r - 1])
        got = _duck(x, {
            "exact": _rank_sql(i / 10),
            "ni_10": f"cum >= (total * {i}) / 10",
            "n_i10": f"cum >= total * ({i} / 10)",
        })
        assert got == {"exact": want, "ni_10": want, "n_i10": want}, (n, i)


@pytest.mark.parametrize("n, i", [(14, 5), (6, 5)])
def test_old_float_rule_moves_the_edge_at_a_planted_size(n, i):
    """The old rule ``cum >= total * p`` given the re-associated product
    ``(n*0.1)*i`` overshoots the integer rank and picks the next value;
    the exact rule does not."""
    assert (n * 0.1) * i > n * i // 10
    x = np.arange(n, dtype=float)
    want = float(x[n * i // 10 - 1])
    cum = np.arange(1, n + 1, dtype=float)
    old = x[np.searchsorted(cum, (n * 0.1) * i, side="left")]
    assert old != want
    assert x[nearest_rank(cum, [i / 10])[0]] == want
    got = _duck(x, {"old": f"cum >= (total * 0.1) * {i}", "new": _rank_sql(i / 10)})
    assert got["old"] != want and got["new"] == want


def test_fractional_weights_keep_their_answer():
    """Away from the knife edge (``total·p`` not within 1e-9 of a
    cumulative weight) the exact target selects what the float product
    ``total * p`` selected before."""
    rng = np.random.default_rng(7)
    checked = 0
    for _ in range(200):
        s = int(rng.integers(1, 60))
        means = np.sort(rng.choice(10_000, s, replace=False)).astype(float)
        ns = rng.random(s) * 3 + 0.01
        cum = np.cumsum(ns)
        for p in PS + [0.0, 0.25, 0.75, 0.99, 1.0]:
            h = cum[-1] * p
            if np.min(np.abs(cum - h)) < 1e-9:
                continue
            old = means[min(np.searchsorted(cum, h, side="left"), s - 1)]
            assert core.quantiles_of_centroids(means, ns, [p], discrete=True)[0] == old
            checked += 1
    assert checked > 2000
    d = MergingDigest(discrete=True)
    d.update_batch(np.array([1.0, 2.0, 3.0, 4.0]), np.array([0.5, 1.25, 0.75, 1.5]))
    assert d.quantile([0.1, 0.25, 0.5, 0.55, 0.9]).tolist() == [1.0, 2.0, 3.0, 3.0, 4.0]


def test_exact_target():
    """A cumulative weight exactly equal to the rational ``total·a/b`` is
    selected, one ulp below it is not; an overshooting product is not
    used (``100 * 0.07 == 7.000000000000001`` would pick rank 8 for 7)."""
    assert 100 * 0.07 > 7
    x = np.arange(100, dtype=float)
    assert nearest_rank(x + 1, [0.07]).tolist() == [6]
    assert _duck(x, {"q": _rank_sql(0.07)}) == {"q": 6.0}
    # total 1.0, p = 0.3: the exact target 3/10 lies between the double
    # 0.3 (0.29999999999999998...) and the next one, 0.30000000000000004
    assert nearest_rank(np.array([0.1, 0.2, 0.30000000000000004, 1.0]), [0.3]).tolist() == [2]
    assert nearest_rank(np.array([0.1, 0.2, 0.3, 1.0]), [0.3]).tolist() == [3]
    cum = np.array([0.5, 1.5, 3.0])
    assert nearest_rank(cum, [0.5, 1 / 6, 0.0, 1.0, 1.5, -1.0]).tolist() == [1, 0, 0, 2, 2, 0]
    assert nearest_rank(cum, [np.nan, np.inf, -np.inf]).tolist() == [2, 2, 0]


# float rank comparisons: a cumulative weight against a float product
FLOAT_RANK = re.compile(
    r">=\s*\(?\s*[\w.]*(total|na|n)\b\s*\*"  # cum >= total * p, sa.cuma >= sa.na * p
    r"|ps_arr\s*\*\s*total"  # searchsorted(cum, ps_arr * total)
    r"|h\s*=\s*total\s*\*\s*ps"  # the old discrete target
)


def test_no_float_rank_comparison_is_left():
    bad = [name for name, sql in ORACLES.items() if FLOAT_RANK.search(sql)]
    assert bad == []
    assert not FLOAT_RANK.search(inspect.getsource(kll))
    assert "nearest_rank(" in inspect.getsource(kll.KLL.quantile)
    for fn in (core.nearest_rank, core._rank_target):
        assert not FLOAT_RANK.search(inspect.getsource(fn))
    # quantiles_of_centroids: the discrete branch returns before the
    # merging-mode interpolation target ``h = total * ps`` is formed
    src = inspect.getsource(core.quantiles_of_centroids)
    assert src.index("return np.asarray(means[nearest_rank(") < src.index("h = total * ps")
    # the pattern really is caught
    assert FLOAT_RANK.search("min(v) FILTER (WHERE cum >= total * 0.5)")
    assert FLOAT_RANK.search("WHERE sa.cuma >= sa.na * (b.i / 10.0)")
