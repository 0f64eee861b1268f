"""gostatix_spark — a from-scratch PySpark-native distributed sketch library.

Re-expresses the five probabilistic structures of kwertop/gostatix
(Bloom filter, Cuckoo filter, HyperLogLog, Count-Min Sketch, Top-K) as
mergeable two-phase Spark aggregations: vectorized Arrow/numpy kernels
build per-partition partial states (``mapInArrow``), which are
shuffled by key, sorted, and folded into one sketch per key by one
``mapInArrow`` call per shuffle partition. Each
sketch kind is one entry in the registry in ``sketches.py``.
No per-row Python anywhere in the hot path.

Reference: https://github.com/kwertop/gostatix (studied at
/root/reference; semantics cited per-module as file:line). This is a
Spark-first reimplementation, not a port.
"""

__version__ = "0.1.0"
