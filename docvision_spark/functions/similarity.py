"""Similarity search over an embedding column (array<float>).

 - brute-force cosine top-k: the exact baseline. Expression-only dot/norm
   via zip_with + aggregate (JVM, codegen) — no Python. At 100 TB this is a
   single scan + a k-row top-k (TakeOrderedAndProject), no shuffle of the
   full table.
 - LSH-bucketed ANN: random-hyperplane signatures (deterministic planes
   derived from xxhash64 of (plane, dim)) -> candidates share a signature
   prefix bucket -> exact re-rank within buckets. The scale path: the
   bucket join replaces the full scan per query with a partition-pruned
   lookup when bucketed at write time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit(a: Column) -> Column:
    """a / ||a|| with the norm bound ONCE (a captured norm expression would
    re-evaluate the whole fold per element — see dedup.let_)."""
    from docvision_spark.functions.dedup import let_

    return let_(norm(a), lambda nv: F.transform(a, lambda x: x / nv))


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding",
                      out_col: str = "u") -> DataFrame:
    """Pre-normalize vectors so pairwise cosine becomes a single dot fold —
    at n^2 pair counts this is 3x fewer O(dim) folds plus norms computed
    once per ROW instead of once per PAIR."""
    return df.withColumn(out_col, unit(F.col(vec_col).cast("array<double>")))


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector. Deterministic order:
    score desc, id asc."""
    from docvision_spark.functions.dedup import parallelize_input

    q = F.array(*[F.lit(float(v)).cast("double") for v in query_vec])
    v = F.col(vec_col).cast("array<double>")
    # the embeddings table often scans as ONE split (single file, single
    # row group) — the cosine fold is interpreted HOF work, so parallelize
    # before scoring (no-op on a properly-partitioned table)
    scored = parallelize_input(emb.select(id_col, vec_col)).select(
        F.col(id_col),
        cosine(v, q).alias("score"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
              .limit(k)
    )


# ------------------------------------------------------------------- LSH --

def hyperplane_signature(vec_col: Column, n_planes: int = 16, dim: int = 64) -> Column:
    """Sign-bit signature: bit p = 1 iff sum_d vec[d]*plane(p,d) > 0, where
    plane(p,d) = +1 if xxhash64(p, d) is even else -1. Expression-only."""
    v = vec_col.cast("array<double>")
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.array(*[
                    F.when(F.xxhash64(F.lit(p), F.lit(d)).bitwiseAND(F.lit(1)) == 0,
                           F.lit(1.0)).otherwise(F.lit(-1.0))
                    for d in range(dim)
                ]),
                lambda x, s: x * s,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


# The LSH index layout: signature planes, partition prefix bits and the
# probe's Hamming radius. A table is always probed with the settings it
# was written with.
LSH_INDEX_PLANES = 12
LSH_INDEX_PREFIX_BITS = 6
LSH_INDEX_PROBE_HAMMING = 2


def lsh_index_write(
    emb: DataFrame, path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Write-time LSH signature table: (id, sig, vec) partitioned on the low
    LSH_INDEX_PREFIX_BITS bits of the hyperplane signature.

    This is what makes ANN lookup a PARTITION-PRUNED scan instead of a
    full-table signature recompute: a query within Hamming h of a stored
    signature necessarily lands in a prefix within Hamming h of the query's
    prefix, so a probe touches only sum_{i<=h} C(6, i) of the 2^6
    partitions (22/64 at h=2) and reads the 8-byte sig column before any
    vector math.
    """
    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    mask = (1 << LSH_INDEX_PREFIX_BITS) - 1
    signed = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        hyperplane_signature(F.col(vec_col), LSH_INDEX_PLANES, dim).alias("sig"),
    ).withColumn("sig_prefix", F.col("sig").bitwiseAND(F.lit(mask)).cast("int"))
    (signed.repartition("sig_prefix")
           .write.mode("overwrite").partitionBy("sig_prefix").parquet(path))


def lsh_index_topk(
    spark, path: str, query_vec: list[float], k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe a lsh_index_write table: enumerate the prefix Hamming ball on
    the driver (tiny: <=22 values), partition-prune the scan with an IN
    filter, verify full-signature Hamming, exact-cosine re-rank."""
    from itertools import combinations

    dim = len(query_vec)
    qdf = spark.createDataFrame([(query_vec,)], "qv array<double>")
    qsig = qdf.select(
        hyperplane_signature(F.col("qv"), LSH_INDEX_PLANES, dim).alias("s")
    ).collect()[0]["s"]
    qpre = qsig & ((1 << LSH_INDEX_PREFIX_BITS) - 1)
    probes = []
    for h in range(LSH_INDEX_PROBE_HAMMING + 1):
        for bits in combinations(range(LSH_INDEX_PREFIX_BITS), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.append(qpre ^ flip)

    idx = spark.read.parquet(path)
    cand = (
        idx.filter(F.col("sig_prefix").isin(probes))   # partition pruning
           .filter(F.bit_count(F.col("sig").bitwiseXOR(
               F.lit(qsig).cast("long"))) <= LSH_INDEX_PROBE_HAMMING)
    )
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    q = F.array(*[F.lit(float(v)).cast("double") for v in query_vec])
    return (
        cand.select("vec_id", cosine(F.col("vec"), q).alias("score"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(k)
    )


def embedding_dup_pairs_lsh(
    emb: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 16, bands: int = 4, max_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: hyperplane-signature band
    self-join + exact cosine verification on candidates only.

    Collision math: P(bit agrees) = 1 - theta/pi; at cos=0.9 (theta≈26°)
    a 4-bit band matches with p≈0.54, any of 4 bands ≈ 96% recall. The
    all-pairs O(n^2) version (queries.s04) is the oracle twin at test scale;
    THIS is the shape that survives 10^12 rows — the join keys are 4
    shuffle-cheap ints and verification touches only bucket collisions.
    """
    from docvision_spark.functions.dedup import band_bucket_pairs

    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    r = n_planes // bands
    signed = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("id"), "u",
        hyperplane_signature(F.col(vec_col), n_planes, dim).alias("sig"))

    banded = signed.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sig", r * b).bitwiseAND(F.lit((1 << r) - 1)).alias("bkey"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bkey")
    cand = band_bucket_pairs(banded, max_bucket)
    units = signed.select("id", "u")
    cand = (
        cand.join(units.select(F.col("id").alias("id_a"), F.col("u").alias("u_a")), "id_a")
            .join(units.select(F.col("id").alias("id_b"), F.col("u").alias("u_b")), "id_b")
            .withColumn("cos", dot(F.col("u_a"), F.col("u_b")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos_r"))
    )
    return cand


# ------------------------------------------------------------------- IVF --

def ivf_build(
    emb: DataFrame, n_centroids: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic IVF index: k-means-lite with seeds chosen by hash order
    (no RNG), Lloyd iterations as broadcast-join assign + per-dim explode
    means. Returns (assignments df [id, cid, u], centroid list).

    Scale shape: assignment is a broadcast nested-loop over n_centroids
    (small), the update is one shuffle keyed by (cid, dim). At write time
    the table is partitioned by cid -> queries probe only nprobe partitions.
    """
    spark = emb.sparkSession
    base = with_unit_vectors(emb, vec_col).select(
        F.col(id_col).alias("id"), "u").cache()

    # deterministic seeds: lowest xxhash64(id)
    seeds = [(i, [float(x) for x in r["u"]]) for i, r in enumerate(
        base.orderBy(F.xxhash64(F.col("id").cast("string")), "id")
            .limit(n_centroids).collect())]
    cents = seeds
    for _ in range(iters):
        cdf = F.broadcast(spark.createDataFrame(
            [(cid, vec) for cid, vec in cents], "cid int, c array<double>"))
        assign = (
            base.crossJoin(cdf)
                .withColumn("score", dot(F.col("u"), F.col("c")))
                .groupBy("id")
                .agg(F.max_by("cid", F.struct("score", (-F.col("cid")).alias("tb")))
                      .alias("cid"))
        )
        # per-dimension means via posexplode (ties/order deterministic)
        means = (
            assign.join(base, "id")
                  .select("cid", F.posexplode("u").alias("d", "x"))
                  # round the float mean so partial-agg order can never
                  # drift centroids between otherwise-identical runs
                  .groupBy("cid", "d").agg(F.round(F.avg("x"), 9).alias("m"))
                  .groupBy("cid")
                  .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
                  .select("cid", F.transform("dm", lambda s: s["m"]).alias("c"))
        )
        cents = [(r["cid"], [float(x) for x in r["c"]])
                 for r in means.orderBy("cid").collect()]

    cdf = F.broadcast(spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cid int, c array<double>"))
    assigned = (
        base.crossJoin(cdf)
            .withColumn("score", dot(F.col("u"), F.col("c")))
            .groupBy("id")
            .agg(F.max_by("cid", F.struct("score", (-F.col("cid")).alias("tb")))
                  .alias("cid"))
            .join(base, "id")
    )
    # the cache only pays for the Lloyd-iteration collects above; release it
    # so repeated builds in one session don't accumulate storage. `assigned`
    # stays correct (recomputes base lazily if evaluated later).
    base.unpersist()
    return assigned, cents


def ivf_topk(
    assigned: DataFrame, cents: list[tuple[int, list[float]]],
    query_vec: list[float], k: int = 10, nprobe: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe the nprobe closest centroids, exact-rank within them."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    qu = [x / qn for x in query_vec]
    scored_cents = sorted(
        ((sum(a * b for a, b in zip(qu, c)), cid) for cid, c in cents),
        reverse=True)
    probe = [cid for _s, cid in scored_cents[:nprobe]]
    q = F.array(*[F.lit(float(v)).cast("double") for v in qu])
    cand = assigned.filter(F.col("cid").isin(probe))
    if exclude_id is not None:
        cand = cand.filter(F.col("id") != exclude_id)
    return (
        cand.select(F.col("id").alias("vec_id"), dot(F.col("u"), q).alias("score"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(k)
    )


def knn_join_sample(
    emb: DataFrame, n_queries: int = 20, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact kNN for the first n_queries ids (deterministic sample): broadcast
    the small query side against the full table — the broadcast-join shape
    that survives a 1000-executor scale-up."""
    from docvision_spark.functions.dedup import parallelize_input

    queries = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec"))
    # n_queries * n cosine folds run where the base scan runs — a single-
    # split table would serialize the whole kNN on one core
    base = parallelize_input(emb.select(id_col, vec_col)).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    from pyspark.sql.window import Window
    scored = (
        base.crossJoin(F.broadcast(queries))
            .filter(F.col(id_col) != F.col("q_id"))
            .withColumn("score", cosine(F.col("v"), F.col("q_vec")))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col(id_col).asc())))
            .filter(F.col("rank") <= k)
            .select("q_id", F.col(id_col).alias("nn_id"), "rank",
                    F.round("score", 4).alias("score"))
    )
    return scored
