"""sketchlib — a PySpark-native distributed sketch / approximate-aggregation library.

Built from scratch (NOT a port) with the query capabilities of the reference
t-digest library (SGrondin/tdigest, see /root/reference), re-expressed for
Spark's execution model:

- ``sketchlib.tdigest``    — t-digest core (sequential reference-parity path +
                             vectorized merging-digest batch path), 16-byte/centroid
                             concat-mergeable wire format.
- ``sketchlib.hll``        — HyperLogLog++ (64-bit hash, sparse mode, linear counting).
- ``sketchlib.cms``        — count-min sketch.
- ``sketchlib.bloom``      — Bloom filter.
- ``sketchlib.kll``        — KLL quantile sketch.
- ``sketchlib.kmv``        — KMV / bottom-k (distinct estimate + coordinated sample).
- ``sketchlib.aggregator`` — the shared mergeable-Aggregator interface all six implement.
- ``sketchlib.spark``      — DataFrame-level plumbing: mapInPandas partials,
                             applyInPandas merges, salted/tree-merge plans,
                             checkpoint/resume, scalar query UDFs.
- ``sketchlib.data``       — deterministic Common-Crawl-style page generator +
                             the fixed html→text extraction rule.
"""

from sketchlib.tdigest.core import TDigest, MergingDigest  # noqa: F401

__version__ = "0.1.0"

import sys as _sys

# Python workers only: pyspark.daemon imports pyspark.worker before it forks
# them, and the driver never does.  Stops every later task of this worker
# from re-reading each zip on sys.path (sketchlib.spark.zipcache).
if "pyspark.worker" in _sys.modules:
    from sketchlib.spark.zipcache import install as _install_zipcache

    _install_zipcache()
