"""The two-phase sketch kernel: every registered family built four ways —
``sketch_aggregate``, a one-spec ``profile_aggregate``, a salted
``tree_merge`` (fanin=2) and ``TDigestCheckpointer.run`` + ``finalize`` —
over a frame with NULL values and a NULL key.  The order-insensitive
families must agree byte-for-byte on every key (the NULL key included);
KLL and Misra-Gries, whose merges depend on arrival order, must agree on
the ingested total, which must equal the exact non-NULL count."""

import pytest

from sketchlib.cms import CMS
from sketchlib.ddsketch import DDSketch
from sketchlib.kll import KLL
from sketchlib.kmv import KMV
from sketchlib.mg import MisraGries
from sketchlib.tdigest.core import MergingDigest

N = 200

#: (kind, value column, params); s is a nullable string, x a nullable double
FAMILIES = [
    ("tdigest", "x", {"delta": 0.0}),
    ("tdigest", "x", {"discrete": True}),
    ("hll", "s", {"p": 10}),
    ("cms", "s", {"width": 64, "depth": 3}),
    ("bloom", "s", {"expected_n": 100}),
    ("kmv", "s", {"k": 64}),
    ("dd", "x", {"alpha": 0.01}),
    ("kll", "x", {"k": 16}),
    ("mg", "s", {"m": 8}),
]
ORDER_SENSITIVE = {"kll", "mg"}


def _total(kind, blob):
    """Ingested value count of one sketch (None where the family has none)."""
    if kind == "tdigest":
        return MergingDigest.deserialize(blob).count
    if kind == "cms":
        return CMS.deserialize(blob).total
    if kind == "kmv":  # exact below k: the distinct non-NULL count
        return KMV.deserialize(blob).estimate()
    cls = {"dd": DDSketch, "kll": KLL, "mg": MisraGries}.get(kind)
    return None if cls is None else cls.deserialize(blob).n


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (i,
         None if i % 3 == 0 else ("a" if i % 3 == 1 else "b"),
         None if i % 7 == 0 else f"v{i % 23}",
         None if i % 5 == 0 else float((i * 37) % 101))
        for i in range(N)
    ]
    return spark.createDataFrame(rows, "id long, g string, s string, x double").repartition(8)


def _exact(frame, kind, col):
    out = {}
    for r in frame.collect():
        v = r[col]
        if v is not None:
            out.setdefault(r["g"], []).append(v)
    if kind == "kmv":
        return {g: float(len(set(vs))) for g, vs in out.items()}
    return {g: float(len(vs)) for g, vs in out.items()}


@pytest.mark.parametrize("kind,col,params", FAMILIES,
                         ids=[f"{k}-{'-'.join(map(str, p))}" for k, _, p in FAMILIES])
def test_four_paths_agree_with_nulls(spark, frame, tmp_path, kind, col, params):
    from sketchlib.spark.checkpoint import TDigestCheckpointer
    from sketchlib.spark.plan import tree_merge_sketch
    from sketchlib.spark.sketch_ops import profile_aggregate, sketch_aggregate, sketch_partials

    direct = {r["g"]: bytes(r["sketch"])
              for r in sketch_aggregate(frame, ["g"], col, kind, params).collect()}
    spec = [{"name": "one", "col": col, "kind": kind, "params": params}]
    profiled = {r["g"]: bytes(r["sketch"])
                for r in profile_aggregate(frame, ["g"], spec).collect()}
    tree = {r["g"]: bytes(r["sketch"]) for r in tree_merge_sketch(
        sketch_partials(frame, ["g"], col, kind, params), ["g"], kind, params,
        fanin=2).collect()}
    kw = (dict(delta=params.get("delta", 0.01), discrete=params.get("discrete", False))
          if kind == "tdigest" else dict(params=params))
    ck = TDigestCheckpointer(spark, str(tmp_path / "ck"), ["g"], col, "id",
                             n_parts=4, sketch=kind, **kw)
    assert ck.run(frame) == 4
    ckpt = {r["key"]: bytes(r["digest"]) for r in ck.finalize().collect()}

    assert set(direct) == {None, "a", "b"}
    paths = {"profile": profiled, "tree": tree, "checkpoint": ckpt}
    exact = _exact(frame, kind, col)
    for g, blob in direct.items():
        want = _total(kind, blob)
        if want is not None:
            assert want == exact[g], (g, want, exact[g])
        for name, got in paths.items():
            if g not in got:
                continue  # a lost key fails below, after every value check
            if kind in ORDER_SENSITIVE:
                assert _total(kind, got[g]) == want, (name, g)
            else:
                assert got[g] == blob, (name, g)
    for name, got in paths.items():
        assert set(got) == set(direct), name
