"""DataFrame-level plumbing.  The t-digest operators below are re-exported
from ``tdigest_ops`` on first access: importing this package must not
import pandas, since every kernel worker imports it."""

_TDIGEST_OPS = (
    "tdigest_aggregate",
    "tdigest_partials",
    "tdigest_merge",
    "tdigest_quantiles_udf",
    "tdigest_cdf_udf",
    "tdigest_size_udf",
    "tdigest_count_udf",
    "tdigest_centroids_udf",
    "tdigest_compress_udf",
)


def __getattr__(name: str):
    if name not in _TDIGEST_OPS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    from sketchlib.spark import tdigest_ops

    return getattr(tdigest_ops, name)
