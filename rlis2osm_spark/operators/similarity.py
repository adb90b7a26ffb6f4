"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk`` — exact cosine top-k, pure native expressions; the
  correctness baseline and the right answer when the probe set is small
  (broadcast probes, one pass over the base, per-probe window top-k).
- ``lsh_ann_topk`` — the scale path: random-hyperplane LSH buckets as the
  candidate generator (signature = sign bits of P pseudo-random
  projections, folded to a bucket id), exact cosine re-rank inside the
  bucket. Recall/latency trades via ``n_planes`` (fewer planes -> bigger
  buckets -> higher recall, more compute). One signature kernel,
  ``lsh_table_buckets_udf``, serves every LSH caller (ANN and
  ``cosine_neardup_pairs``): a numpy matmul per Arrow batch against
  hyperplanes drawn from a seeded LCG, so signatures are deterministic and
  identical on every executor.
- ``ivf_ann_topk`` — k-means cells as the candidate generator, the same
  exact re-rank (``rerank_topk``).

At 100 TB the base table is bucketed by ``bucket`` (Iceberg bucket
transform), so a probe touches one bucket's files only — ANN becomes
partition pruning.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LSH_SEED = 1234567  # LCG seed of table 0's hyperplanes
IVF_ITERS = 5       # Lloyd rounds when the IVF path trains its own centroids
NEARDUP_THRESHOLD = 0.9  # cosine a near-dup pair must reach
NEARDUP_TABLES = 6       # OR-construction tables of cosine_neardup_pairs
NEARDUP_PLANES = 6       # hyperplanes per table


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def brute_force_topk(base: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of (vec_id, embedding) rows: broadcast the probe
    set, scan the base once."""
    b = base.select(F.col("vec_id").alias("neighbor_id"),
                    as_double_vec(F.col("embedding")).alias("bv"))
    p = probes.select(F.col("vec_id").alias("probe_id"),
                      as_double_vec(F.col("embedding")).alias("pv"))
    pairs = b.crossJoin(F.broadcast(p)).filter(
        F.col("probe_id") != F.col("neighbor_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("cos", cosine(F.col("pv"), F.col("bv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos", "rank")
    )


def _lcg_weights(plane: int, dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^dim."""
    out = []
    state = (seed + plane * 2654435761) % (1 << 31)
    for _ in range(dim):
        state = (state * 1103515245 + 12345) % (1 << 31)
        out.append(state / float(1 << 30) - 1.0)
    return out


def lsh_table_buckets_udf(dim: int, n_planes: int, n_tables: int):
    """Random-hyperplane signatures -> one LSH bucket id per table
    (``array<long>``), all ``n_tables`` in ONE numpy matmul per Arrow
    batch. Table t uses ``n_planes`` LCG hyperplanes seeded
    ``LSH_SEED + t * 99991``; bit p of a bucket is set when the projection on
    plane p is positive. Weights live in the closure, not the plan, so the
    plan stays the same size at any ``dim``."""
    import numpy as np
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, LongType

    W = np.array(
        [_lcg_weights(p, dim, LSH_SEED + t * 99991)
         for t in range(n_tables) for p in range(n_planes)],
        dtype=np.float64).T  # (dim, n_tables*n_planes)
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    @arrow_udf(ArrayType(LongType()))
    def buckets(vecs: pa.Array) -> pa.Array:
        # null / wrong-length vectors get all-zero buckets instead of a
        # ragged-ndarray ValueError (review r3)
        good = pc.fill_null(pc.equal(pc.list_value_length(vecs), dim), False)
        out = np.zeros((len(vecs), n_tables), dtype=np.int64)
        if pc.any(good).as_py():
            x = vecs.filter(good).flatten().to_numpy(zero_copy_only=False)
            proj = (x.astype(np.float64).reshape(-1, dim) @ W) > 0
            out[good.to_numpy(zero_copy_only=False)] = (
                proj.reshape(-1, n_tables, n_planes) @ powers)
        offsets = np.arange(0, out.size + 1, n_tables, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, out.ravel())

    return buckets


def lsh_ann_candidates(
    base: DataFrame,
    probes: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """LSH candidate pairs (probe_id, neighbor_id, pv, bv, bucket) of
    (vec_id, embedding) rows — possibly with per-pair duplicates across
    tables; feed ``rerank_topk``. Signatures come from
    ``lsh_table_buckets_udf``; ``posexplode`` turns each side's bucket
    array into (tbl, bucket) join keys."""
    b = base.select(F.col("vec_id").alias("neighbor_id"),
                    as_double_vec(F.col("embedding")).alias("bv"))
    p = probes.select(F.col("vec_id").alias("probe_id"),
                      as_double_vec(F.col("embedding")).alias("pv"))
    bu = lsh_table_buckets_udf(dim, n_planes, n_tables)
    b = b.select(
        "neighbor_id", "bv",
        F.posexplode(bu(F.col("bv"))).alias("tbl", "bucket"))
    p = p.select(
        "probe_id", "pv",
        F.posexplode(bu(F.col("pv"))).alias("tbl", "bucket"))

    return p.join(b, ["tbl", "bucket"]).filter(
        F.col("probe_id") != F.col("neighbor_id")
    ).select("probe_id", "neighbor_id", "pv", "bv", "bucket")


def rerank_topk(cands: DataFrame, k: int,
                extra_keys: tuple[str, ...] = (),
                dedup: bool = True) -> DataFrame:
    """Shared exact-cosine re-rank over candidate pairs: ONE probe-keyed
    dedup exchange (bucket kept deterministically as the min over
    colliding tables/cells — pv/bv are identical per key) + ONE rank
    window. ``extra_keys`` (e.g. a method tag) lets several candidate
    generators share this single exchange set instead of each paying
    their own (r4, VERDICT r3 #2 bench hygiene)."""
    keys = [*extra_keys, "probe_id", "neighbor_id"]
    if dedup:
        cands = (
            cands.groupBy(*keys)
            .agg(F.min("bucket").alias("bucket"),
                 F.first("pv").alias("pv"), F.first("bv").alias("bv"))
        )
    w = Window.partitionBy(*extra_keys, "probe_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.withColumn("cos", cosine(F.col("pv"), F.col("bv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*extra_keys, "probe_id", "neighbor_id", "cos", "rank",
                "bucket")
    )


def lsh_ann_topk(
    base: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 1,
) -> DataFrame:
    """ANN: bucket equi-join candidates, exact cosine re-rank.

    ``n_tables > 1`` turns on the OR-construction (same pattern as
    ``cosine_neardup_pairs``): a candidate is any base vector sharing a
    bucket in ANY table, recall ~ 1 - (1 - p^n_planes)^n_tables. The table
    id is exploded into the join key — still ONE equi-join, and the
    candidate set is deduped with a single probe-keyed exchange before the
    rank window (``rerank_topk``)."""
    cands = lsh_ann_candidates(base, probes, dim, n_planes, n_tables)
    return rerank_topk(cands, k, dedup=n_tables > 1)


def _dist2(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def centroid_frame(spark, cents: list[list[float]]) -> DataFrame:
    """``(cid int, c array<double>)``, one row per centroid. An Arrow table
    becomes a local relation; a list of rows would become an RDD that runs
    one Python task per core on every action over it."""
    return spark.createDataFrame(
        pa.table({"cid": pa.array(range(len(cents)), pa.int32()),
                  "c": pa.array(cents, pa.list_(pa.float64()))}),
        "cid int, c array<double>")


def ivf_train_centroids(
    base: DataFrame,
    dim: int,
    k_centroids: int,
    n_iter: int,
) -> list[list[float]]:
    """Lloyd's k-means over (vec_id, embedding) rows in DataFrame jobs —
    the IVF coarse quantizer.

    Every heavy step is distributed (assignment = rows x k broadcast join
    with native dot products; update = posexplode + groupBy mean); only the
    k*dim centroid state crosses to the driver each round — the same
    "small convergence state" pattern as the CC signature. Deterministic:
    init picks the k rows with the smallest xxhash64(id). Train on a
    sampled base at 100 TB (pass ``base.sample(...)`` / a hash band —
    centroid quality needs only ~1000 points per centroid).
    """
    b = base.select(F.col("vec_id").alias("_id"),
                    as_double_vec(F.col("embedding")).alias("v"))
    init = (b.withColumn("_h", F.xxhash64(F.col("_id")))
            .orderBy("_h").limit(k_centroids))
    cents = [list(r.v) for r in init.collect()]
    spark = base.sparkSession
    for _ in range(n_iter):
        cdf = centroid_frame(spark, cents)
        assigned = (
            b.crossJoin(F.broadcast(cdf))
            .withColumn("d2", _dist2(F.col("v"), F.col("c")))
            .groupBy("_id")
            .agg(F.min_by(F.struct("cid", "d2"), F.struct("d2", "cid"))
                 .alias("best"),
                 F.first("v").alias("v"))
            .select(F.col("best.cid").alias("cid"), "v")
        )
        sums = (
            assigned.select("cid", F.posexplode("v").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()  # k*dim rows of centroid state — tiny by design
        )
        new = [list(c) for c in cents]  # empty clusters keep their centroid
        for r in sums:
            new[r.cid][r.i] = r.s / r.n
        cents = new
    return cents


def ivf_ann_candidates(
    base: DataFrame,
    probes: DataFrame,
    dim: int,
    k_centroids: int,
    n_probe: int,
    centroids: list[list[float]] | None,
) -> DataFrame:
    """IVF candidate pairs (probe_id, neighbor_id, pv, bv, bucket) of
    (vec_id, embedding) rows — a pair may repeat across probed cells; feed
    ``rerank_topk``. Without ``centroids`` it trains its own
    (``IVF_ITERS`` rounds)."""
    cents = centroids if centroids is not None else ivf_train_centroids(
        base, dim, k_centroids, IVF_ITERS)
    cdf = centroid_frame(base.sparkSession, cents)

    b = base.select(F.col("vec_id").alias("neighbor_id"),
                    as_double_vec(F.col("embedding")).alias("bv"))
    b_cell = (
        b.crossJoin(F.broadcast(cdf))
        .withColumn("d2", _dist2(F.col("bv"), F.col("c")))
        .groupBy("neighbor_id")
        .agg(F.min_by(F.struct("cid", "d2"), F.struct("d2", "cid")).alias("best"),
             F.first("bv").alias("bv"))
        .select("neighbor_id", "bv", F.col("best.cid").alias("bucket"))
    )
    p = probes.select(F.col("vec_id").alias("probe_id"),
                      as_double_vec(F.col("embedding")).alias("pv"))
    wp = Window.partitionBy("probe_id").orderBy(F.asc("d2"), F.asc("cid"))
    p_cells = (
        p.crossJoin(F.broadcast(cdf))
        .withColumn("d2", _dist2(F.col("pv"), F.col("c")))
        .withColumn("crank", F.row_number().over(wp))
        .filter(F.col("crank") <= n_probe)
        .select("probe_id", "pv", F.col("cid").alias("bucket"))
    )

    return p_cells.join(b_cell, "bucket").filter(
        F.col("probe_id") != F.col("neighbor_id")
    ).select("probe_id", "neighbor_id", "pv", "bv", "bucket")


def ivf_ann_topk(
    base: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    k_centroids: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: k-means cells as the candidate generator (VERDICT r1 #10).

    Base vectors live in their nearest centroid's cell (at 100 TB: the
    Iceberg bucket/partition key -> a probe prunes to ``n_probe`` cells'
    files); probes search their ``n_probe`` nearest cells and re-rank by
    exact cosine (``rerank_topk`` — one probe-keyed dedup exchange keeps
    min(bucket) deterministically, ADVICE r2). Raising ``n_probe`` trades
    latency for recall — the knob LSH lacks (its buckets are fixed by the
    plane count).
    """
    cands = ivf_ann_candidates(base, probes, dim, k_centroids, n_probe,
                               centroids)
    return rerank_topk(cands, k)


def cosine_neardup_pairs(
    df: DataFrame,
    dim: int,
    max_bucket: int | None = None,
):
    """Embedding-cosine near-duplicate pairs (dedup family, build brief) of
    (vec_id, embedding) rows: every pair with cosine at least
    ``NEARDUP_THRESHOLD``, as (doc_a, doc_b, cos) with doc_a < doc_b.
    Returns a DataFrame, or ``(DataFrame, Observation)`` when ``max_bucket``
    is set.

    OR-construction over ``NEARDUP_TABLES`` independent random-hyperplane
    signatures of ``NEARDUP_PLANES`` planes: a true near-dup pair
    (cos -> 1) agrees on all planes of SOME table with probability
    ~1 - (1 - p^planes)^tables, p = 1 - theta/pi. Each vector's buckets
    are computed once; ONE aggregate on (table, bucket) gathers each
    bucket's members sorted by id, the candidate pairs are emitted from
    those lists natively, and the exact cosine verifies. Never all-pairs;
    the verify set is tiny.

    ``max_bucket`` is the hot-bucket skew guard (same contract as
    minhash's): a bucket holding a dense cluster is an O(n^2) reducer, so
    buckets wider than the cap are dropped from candidate generation —
    loudly, via the returned ``(pairs, Observation)`` with
    ``hot_bucket_rows``. Recall is preserved for any pair that also shares
    a non-hot bucket in another table (the OR-construction's job).
    """
    buckets = lsh_table_buckets_udf(dim, NEARDUP_PLANES, NEARDUP_TABLES)
    tagged = df.select(
        F.col("vec_id").alias("_id"),
        as_double_vec(F.col("embedding")).alias("v")).select(
        F.struct("_id", "v").alias("m"),
        F.posexplode(buckets(F.col("v"))).alias("tbl", "bucket"))
    groups = tagged.groupBy("tbl", "bucket").agg(
        F.array_sort(F.collect_list("m")).alias("ms")).select(
        "ms", F.size("ms").alias("n"))
    obs = None
    if max_bucket is not None:
        from pyspark.sql import Observation

        obs = Observation("neardup_hot_buckets")
        groups = groups.observe(
            obs,
            F.sum(F.when(F.col("n") > max_bucket, F.col("n"))
                  .otherwise(0).cast("long")).alias("hot_bucket_rows")
        ).filter(F.col("n") <= max_bucket)
    # members i < j of each sorted list: the later ones paired with each
    pairs_of = F.flatten(F.transform(
        "ms", lambda a, i: F.transform(
            F.slice("ms", i + 2, F.col("n") - i - 1),
            lambda b: F.struct(a["_id"].alias("doc_a"),
                               b["_id"].alias("doc_b"),
                               a["v"].alias("va"), b["v"].alias("vb")))))
    cands = (
        groups.filter(F.col("n") > 1)
        .select(F.explode(pairs_of).alias("p")).select("p.*")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = (
        cands.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= NEARDUP_THRESHOLD)
        .select("doc_a", "doc_b", "cos")
    )
    return pairs if obs is None else (pairs, obs)
