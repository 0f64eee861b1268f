"""Similarity search over embedding columns (array<float>).

* :func:`brute_force_topk` — exact cosine top-k, 100% JVM: broadcast
  the (small) query set, dot product via ``F.zip_with`` +
  ``F.aggregate`` inside whole-stage codegen, rank with a window. The
  correctness baseline.
* :func:`lsh_topk` — the scale path: random-hyperplane (SimHash) bucket
  index; candidates = rows whose sign-signature matches the query on a
  bucket prefix (multi-probe over all prefix buckets), exact cosine
  re-rank within candidates. Recall < 1 by design; probes trade
  recall/cost.
* :func:`build_lsh_index` / :func:`lsh_topk_indexed` — the same LSH
  buckets persisted as a bucket-partitioned table, probed with static
  partition pruning.
* :func:`build_ivf_index` / :func:`ivf_topk` — an IVF index: a
  spherical-k-means quantizer, the table partitioned by centroid,
  queries probing their ``nprobe`` nearest lists.
* :func:`cosine_col` / :func:`unit_vector_col` /
  :func:`hyperplane_signature` — shared pieces.

Every search ends in the same exact re-rank (:func:`_top_k_by_cosine`):
cosine per (query, candidate), ranked per query, the first k.

At 100 TB: brute force is a single scan per query batch (no shuffle —
broadcast join + per-row expression), so it parallelizes perfectly but
costs a full scan; the LSH index turns that into a bucket-pruned scan
(partition the table by bucket and Catalyst prunes on the equi-join).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType

__all__ = ["brute_force_topk", "lsh_topk", "cosine_col", "unit_vector_col",
           "hyperplane_signature", "build_lsh_index", "lsh_topk_indexed",
           "build_ivf_index", "ivf_topk"]


def _local_sidecar_path(path: str, name: str) -> str:
    """The ``_lsh_index.json`` / ``_ivf_index.json`` sidecars go through
    driver-local ``open()`` while the parquet goes through Spark — fine
    for local paths, silently wrong for object stores (the sidecar
    would land on the driver's disk, not next to the data). Fail LOUDLY
    on a non-local scheme instead (same contract as
    ``streaming.pointer_store_for``)."""
    import os
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"index sidecar {name} needs a driver-local path, got scheme "
            f"{scheme!r} ({path!r}). The partitioned parquet layout works "
            "on any Spark filesystem, but the quantizer/signature sidecar "
            "is written with local open() — route it through the Hadoop "
            "FileSystem API (or keep the index root on file://) before "
            "pointing builds at an object store.")
    return os.path.join(path.split("://", 1)[-1], name)


def cosine_col(a, b):
    """Cosine similarity of two array<float> columns — pure JVM
    expression (zip_with product, aggregate sums)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def unit_vector_col(a):
    """L2-normalized copy of an array<float> column (array<double>).
    Normalizing each side of a similarity join ONCE turns the per-pair
    cosine into a bare dot product — the cheap way to run an O(n²) or
    candidate-verify stage without recomputing norms per pair."""
    ad = a.cast("array<double>")
    norm = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.transform(ad, lambda x: x / norm)


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan shape: broadcast(queries) nested-loop join → codegen'd cosine
    → window rank per query → filter ≤ k. Output:
    [q_id, rank, vec_id, cosine]."""
    return _top_k_by_cosine(emb.crossJoin(F.broadcast(queries)), k,
                            id_col, vec_col, q_id_col, q_vec_col)


def _top_k_by_cosine(cands: DataFrame, k: int, id_col: str, vec_col: str,
                     q_id_col: str, q_vec_col: str) -> DataFrame:
    """The exact re-rank every search path ends in: the cosine of each
    (query, candidate) row of ``cands``, ranked per query by cosine
    descending (ties by id), the first ``k``. Output:
    [q_id, rank, id, cosine]."""
    scored = cands.select(
        F.col(q_id_col), F.col(id_col),
        cosine_col(F.col(vec_col), F.col(q_vec_col)).alias("cosine"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(q_id_col, "rank", id_col, "cosine"))


def _probe_index(spark, path: str, sidecar: str, part_col: str, probes,
                 k: int, q_id_col: str, q_vec_col: str) -> DataFrame:
    """The query step of a persisted index: read its ``sidecar``
    parameters ``p``; ``probes(p)`` is the query batch with the
    ``part_col`` partition each query probes (a row per probe);
    collect the probed values over that (tiny) batch, scan only those
    partitions (a static ``part_col IN (...)`` filter: Catalyst prunes
    every other directory before listing files), broadcast-join the
    queries and re-rank exactly."""
    import json
    with open(_local_sidecar_path(path, sidecar)) as f:
        p = json.load(f)
    q = probes(p).select(q_id_col, q_vec_col, part_col)
    probed = [r[part_col] for r in q.select(part_col).distinct().collect()]
    emb = spark.read.parquet(path).where(F.col(part_col).isin(probed))
    return _top_k_by_cosine(emb.join(F.broadcast(q), part_col), k,
                            p["id_col"], p["vec_col"], q_id_col, q_vec_col)


def hyperplane_signature(df: DataFrame, vec_col: str, dim: int | None = None,
                         n_bits: int = 16, seed: int = 9,
                         out_col: str = "lsh_sig") -> DataFrame:
    """Random-hyperplane sign signature as a long column — vectorized
    numpy (one matmul per Arrow batch).

    ``dim`` may be omitted: the hyperplanes are derived from
    ``(seed, dim, n_bits)`` by a fresh seeded generator, so every
    worker/batch reconstructs the SAME planes from the vectors it sees
    — no driver-side ``.first()`` to sniff the dimension (one fewer
    Spark job per query)."""
    plane_cache: dict[int, np.ndarray] = {}
    if dim is not None:
        plane_cache[dim] = (np.random.default_rng(seed)
                            .standard_normal((dim, n_bits))
                            .astype(np.float32))

    def planes_for(d: int) -> np.ndarray:
        if d not in plane_cache:
            plane_cache[d] = (np.random.default_rng(seed)
                              .standard_normal((d, n_bits))
                              .astype(np.float32))
        return plane_cache[d]

    @F.arrow_udf(LongType())
    def sig(vs: pa.Array) -> pa.Array:
        mat = np.stack(vs.to_numpy(zero_copy_only=False)).astype(np.float32)
        bits = (mat @ planes_for(mat.shape[1])) > 0
        vals = np.zeros(len(vs), dtype=np.int64)
        for j in range(n_bits):
            vals |= bits[:, j].astype(np.int64) << j
        return pa.array(vals)

    return df.withColumn(out_col, sig(F.col(vec_col)))


def build_lsh_index(emb: DataFrame, path: str, *,
                    dim: int | None = None, n_bits: int = 12,
                    prefix_bits: int = 6, seed: int = 9,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the signature table PARTITIONED BY BUCKET so repeated
    query batches amortize the signature scan: ``lsh_topk`` recomputes
    every row's signature per call; the index computes it once, and
    :func:`lsh_topk_indexed` reads only the probed buckets (static
    partition pruning on the ``bkt`` directory column).

    Layout: ``path/bkt=<b>/part-*.parquet`` with columns
    ``[id, vec, lsh_sig]`` plus a ``_lsh_index.json`` sidecar recording
    (n_bits, prefix_bits, seed, columns) so queries can't accidentally
    probe with mismatched hyperplanes. On an object store, keep the
    sidecar in the table's metadata/properties instead."""
    import json
    # validate the sidecar scheme BEFORE the (expensive) parquet write
    sidecar = _local_sidecar_path(path, "_lsh_index.json")
    shift = n_bits - prefix_bits
    e = hyperplane_signature(emb, vec_col, dim, n_bits, seed) \
        .withColumn("bkt", F.shiftrightunsigned("lsh_sig", shift).cast("int"))
    (e.select(id_col, vec_col, "lsh_sig", "bkt")
     .write.mode("overwrite").partitionBy("bkt").parquet(path))
    with open(sidecar, "w") as f:
        json.dump({"n_bits": n_bits, "prefix_bits": prefix_bits,
                   "seed": seed, "id_col": id_col, "vec_col": vec_col}, f)


def lsh_topk_indexed(spark, path: str, queries: DataFrame, k: int = 10, *,
                     q_id_col: str = "q_id",
                     q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k against a persisted :func:`build_lsh_index`.
    The query batch's buckets are computed first (tiny job over the
    queries only), then the index scan carries a static
    ``bkt IN (...)`` partition filter — Catalyst prunes every other
    bucket directory before listing files, so the scan cost is
    O(probed buckets), not O(index). Results are identical to
    :func:`lsh_topk` with the same parameters (same seed ⇒ same
    hyperplanes ⇒ same buckets ⇒ same exact re-rank)."""
    def probes(p: dict) -> DataFrame:
        return hyperplane_signature(
            queries, q_vec_col, None, p["n_bits"], p["seed"]).withColumn(
            "bkt", F.shiftrightunsigned(
                "lsh_sig", p["n_bits"] - p["prefix_bits"]).cast("int"))

    return _probe_index(spark, path, "_lsh_index.json", "bkt", probes, k,
                        q_id_col, q_vec_col)


def _spherical_kmeans(X: np.ndarray, k: int, iters: int = 12,
                      seed: int = 42) -> np.ndarray:
    """Driver-side spherical k-means (cosine distance) on a TRAINING
    SAMPLE of unit vectors — the IVF coarse quantizer. k-means++ init,
    fixed iteration count, fully deterministic under ``seed``. This is
    how IVF trains in practice: the quantizer fits on ≤ ~10⁵ sampled
    vectors regardless of corpus size; only the ASSIGNMENT pass is
    data-sized (and that runs distributed)."""
    rng = np.random.default_rng(seed)
    n = len(X)
    k = min(k, n)
    C = np.empty((k, X.shape[1]), dtype=np.float64)
    C[0] = X[rng.integers(n)]
    d2 = np.maximum(0.0, 1.0 - X @ C[0])
    for j in range(1, k):
        tot = d2.sum()
        idx = rng.choice(n, p=d2 / tot) if tot > 0 else rng.integers(n)
        C[j] = X[idx]
        d2 = np.minimum(d2, np.maximum(0.0, 1.0 - X @ C[j]))
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                v = members.sum(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    C[j] = v / norm
    return C.astype(np.float32)


def _ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """array<float> vec → top-``nprobe`` centroid ids by cosine — one
    normalize + matmul + argpartition per Arrow batch."""
    from pyspark.sql.types import ArrayType, IntegerType
    C = centroids  # captured; shipped once per task via closure pickle

    @F.arrow_udf(ArrayType(IntegerType()))
    def assign(vs: pa.Array) -> pa.Array:
        X = np.stack(vs.to_numpy(zero_copy_only=False)).astype(np.float32)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        sims = X @ C.T
        p = min(nprobe, C.shape[0])
        part = np.argpartition(-sims, p - 1, axis=1)[:, :p]
        row_sims = np.take_along_axis(sims, part, axis=1)
        order = np.argsort(-row_sims, axis=1)
        top = np.take_along_axis(part, order, axis=1).astype(np.int32)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(len(top) + 1, dtype=np.int32) * p),
            pa.array(top.ravel()))

    return assign


def build_ivf_index(emb: DataFrame, path: str, *, n_centroids: int = 64,
                    train_rows: int = 20000, kmeans_iters: int = 12,
                    seed: int = 42, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """IVF (inverted-file) ANN index — the second scale path next to
    LSH: a spherical-k-means coarse quantizer trained on a
    deterministic sample, every vector assigned to its nearest
    centroid (one matmul per Arrow batch, distributed), the table
    persisted PARTITIONED BY centroid id. Queries probe only their
    ``nprobe`` nearest centroids' partitions (static ``cid IN (...)``
    pruning) and re-rank exactly within them — scan cost
    O(probed lists), recall controlled by ``nprobe``.

    Layout: ``path/cid=<c>/part-*.parquet`` with ``[id, vec, cid]``
    plus an ``_ivf_index.json`` sidecar pinning the centroid matrix
    and params so probes can't run against a mismatched quantizer
    (same pattern as ``build_lsh_index``). The training sample is the
    ``train_rows`` smallest ``xxhash64(id)`` values —
    TakeOrderedAndProject, deterministic, no global sort."""
    import json
    # validate the sidecar scheme BEFORE training + the parquet write
    sidecar = _local_sidecar_path(path, "_ivf_index.json")
    sample = (emb.select(vec_col)
              .orderBy(F.xxhash64(F.col(id_col)))
              .limit(train_rows).collect())
    X = np.stack([np.asarray(r[0], dtype=np.float32) for r in sample])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    C = _spherical_kmeans(X, n_centroids, iters=kmeans_iters, seed=seed)
    assign = _ivf_assign_udf(C, nprobe=1)
    e = emb.withColumn("cid", assign(F.col(vec_col)).getItem(0))
    # shuffle-align rows to their centroid before the partitioned
    # write: without it every input partition writes a file into every
    # cid dir (partitions × lists tiny files); with it each list gets
    # O(1) well-sized files — the layout the probe-side pruning wants
    (e.select(id_col, vec_col, "cid").repartition(F.col("cid"))
     .write.mode("overwrite").partitionBy("cid").parquet(path))
    with open(sidecar, "w") as f:
        json.dump({"n_centroids": int(C.shape[0]), "dim": int(C.shape[1]),
                   "seed": seed, "id_col": id_col, "vec_col": vec_col,
                   "centroids": C.astype(float).tolist()}, f)


def ivf_topk(spark, path: str, queries: DataFrame, k: int = 10, *,
             nprobe: int = 4, q_id_col: str = "q_id",
             q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k against a persisted :func:`build_ivf_index`:
    each query's ``nprobe`` nearest centroids are computed over the
    (tiny) query batch, the index scan carries a static
    ``cid IN (...)`` partition filter, and the exact cosine re-rank
    runs only within the probed inverted lists. With
    ``nprobe = n_centroids`` the result equals
    :func:`brute_force_topk` exactly (every list probed); smaller
    ``nprobe`` trades recall for scan cost. Output:
    [q_id, rank, id, cosine]."""
    def probes(p: dict) -> DataFrame:
        assign = _ivf_assign_udf(np.asarray(p["centroids"], dtype=np.float32),
                                 nprobe=min(nprobe, p["n_centroids"]))
        return queries.withColumn("cid", F.explode(assign(F.col(q_vec_col))))

    return _probe_index(spark, path, "_ivf_index.json", "cid", probes, k,
                        q_id_col, q_vec_col)


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10, *,
             dim: int | None = None, n_bits: int = 12, prefix_bits: int = 6,
             seed: int = 9,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k: equi-join on the top ``prefix_bits`` of the
    hyperplane signature (the bucket), exact cosine re-rank within the
    bucket. Output schema matches :func:`brute_force_topk`."""
    shift = n_bits - prefix_bits
    e = hyperplane_signature(emb, vec_col, dim, n_bits, seed) \
        .withColumn("_bkt", F.shiftrightunsigned("lsh_sig", shift))
    q = hyperplane_signature(queries, q_vec_col, dim, n_bits, seed) \
        .withColumn("_bkt", F.shiftrightunsigned("lsh_sig", shift))
    cands = e.join(F.broadcast(q.select(q_id_col, q_vec_col, "_bkt")), "_bkt")
    return _top_k_by_cosine(cands, k, id_col, vec_col, q_id_col, q_vec_col)
