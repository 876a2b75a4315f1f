"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
set against the corpus and evaluate cosine entirely with built-in array
expressions (zip_with/aggregate) — JVM-side, no UDF, codegen'd.

Scale path (100 TB corpus): IVF-style partition pruning — assign every vector
to its nearest centroid once (broadcast centroids), partition the corpus by
cell, and probe only the nprobe nearest cells per query. Recall is tunable
via nprobe; the cell assignment is itself a broadcast-join + argmin, no
shuffle of the corpus beyond the initial partitioning write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..hints import shuffle_partitions, spread


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB's list fold order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def as_double(a: Column) -> Column:
    """Float embeddings are widened once before arithmetic so both engines
    compute in float64 (float32 accumulation diverges)."""
    return a.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (excluding self).

    queries must be broadcast-sized; the corpus is scanned once, no shuffle
    until the per-query top-k (window over query_id — cardinality = |queries|,
    so repartition by query_id is balanced).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
    )
    # spread(): the per-row |queries| x dim cosine folds otherwise run on
    # the single-row-group scan's one working task (guide §2.5; no-op at
    # corpus sizes whose scan already parallelizes)
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs(
    corpus: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (all-pairs; the verification
    baseline). O(n²) — at 100 TB run it only within LSH buckets (below)."""
    a = corpus.select(F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def rhp_planes(n_tables: int = 8, bits_per_table: int = 4, dim: int = 64, seed: int = 7):
    """Deterministic ±1 hyperplanes shared by the Spark plan and the DuckDB
    oracle (both compute buckets from this same constant, so the LSH pipeline
    itself is value-checked end-to-end)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(n_tables * bits_per_table, dim))


def rhp_buckets(
    corpus: DataFrame,
    n_tables: int = 8,
    bits_per_table: int = 4,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: (id, table_idx, bucket) — one row per table.

    Planes are deterministic ±1 matrices from a seeded PRNG (sign-random
    projections); bucket = the bits_per_table sign bits packed into a long.
    Cosine-similar vectors agree on each bit with prob 1 - θ/π, so bucket
    collision concentrates candidates; at scale, pairs are generated within
    (table, bucket) groups only.
    """
    planes = rhp_planes(n_tables, bits_per_table, dim, seed)
    # One packed array<array<double>> literal + higher-order functions keeps
    # the whole projection a single small expression tree (the per-plane
    # literal-array form produced a pathological codegen unit: 64 separate
    # 64-literal dot products -> ~10 s just to plan/compile at sf0.01).
    # one F.expr for the whole nested literal: PySpark's F.lit recurses into
    # lists element-by-element (one py4j round-trip each — ~3.5 s of driver
    # time for 32×64 planes), so serialize to a single SQL string instead
    planes_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(f"{float(x)}D" for x in row) for row in planes
    )
    planes_lit = F.expr(planes_sql)
    # bit weights within a table: [1, 2, 4, ...] (bit b contributes bit<<b)
    weights = F.expr(
        "array(%s)" % ",".join(f"{1 << b}L" for b in range(bits_per_table))
    )
    # NOT spread(): the explicit group-key repartitions inside
    # rhp_candidate_pairs distribute everything downstream of the
    # projection, and the r15 interleaved A/B measured the extra vector
    # shuffle as a mild loss (dedup_embed_cosine +0.13 s,
    # lsh_cosine_candidates +0.12 s, embed_hard_negatives ±0)
    v = corpus.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("vec")
    )
    # same sequential-fold dot product as before, so sign bits (and therefore
    # buckets and downstream candidate pairs) are bit-identical to the old plan
    bits = F.transform(
        planes_lit, lambda plane: (dot(F.col("vec"), plane) > 0).cast("long")
    )
    packed = v.select("id", bits.alias("bits"))
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.aggregate(
            F.zip_with(
                F.slice(F.col("bits"), t * bits_per_table + 1, bits_per_table),
                weights,
                lambda bit, w: bit * w,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return packed.select("id", F.posexplode(buckets).alias("table_idx", "bucket"))


def rhp_candidate_pairs(buckets: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Distinct candidate pairs from any shared (table, bucket).

    Pairs are generated per-bucket from the sorted member list (groupBy +
    collect_set, then an in-array pair expansion) — one shuffle total,
    computing the bucket projection once, instead of a self-join that
    evaluates it twice and shuffles both sides.

    ``max_bucket_size`` is the hot-bucket cap: a degenerate bucket (e.g. many
    near-empty or identical-prefix documents hashing together) would expand
    to O(size²) pairs; buckets above the cap are dropped entirely (every LSH
    table gives the pair another chance to collide in a healthier bucket, so
    recall degrades gracefully while the quadratic blowup is bounded).
    """
    from .dedup import bucket_pair_expansion

    # Both exchanges in this pipeline are EXPLICIT group-key
    # REPARTITION_BY_NUMs whose downstream aggregate reuses the user
    # exchange (same clustering -> no extra shuffle vs the implicit
    # groupBy/distinct exchanges they replace).  Why (guide §2.2/§2.4):
    # AQE coalesces post-shuffle partitions by BYTES, and with few tables x
    # few bits the member lists (n_tables * 2^bits = 128 groups here) and
    # the pair stream (~13 MB) both coalesce to ONE task — serializing the
    # collect_set merge, the O(size^2) in-array pair expansion, and every
    # consumer that fuses into the dedup stage (dedup_embed_cosine's
    # per-pair cosine fold, embed_hard_negatives' scoring).  A user
    # repartition is never coalesced, so each stage keeps full parallelism;
    # partial aggregation loses nothing because ids are already distinct
    # per (table, bucket) — a map-side collect_set would shuffle the same
    # bytes.  Interleaved A/B at sf0.1: dedup_embed_cosine 2.1 s -> 1.1 s,
    # matching a global 16k coalesce-floor's best without that floor's
    # +17-35% tiny-task cost to the minhash family (r15, session.py).
    n_parts = shuffle_partitions(buckets.sparkSession)
    members = (
        buckets.repartition(n_parts, "table_idx", "bucket")
        .groupBy("table_idx", "bucket")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
    )
    if max_bucket_size is not None:
        members = members.filter(F.size("ids") <= max_bucket_size)
    return (
        members.select(F.explode(bucket_pair_expansion(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .repartition(n_parts, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def assign_cells(vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """IVF cell assignment: nearest centroid per vector (broadcast + argmin)."""
    c = centroids.select(F.col("cell_id"), as_double(F.col(vec_col)).alias("centroid"))
    v = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("vec"))
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col,
        "vec",
        "cell_id",
        cosine(F.col("vec"), F.col("centroid")).alias("sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cell_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select(
        id_col, "vec", "cell_id"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: search only the nprobe nearest cells per query.

    At fixture scale this is exercised end-to-end; at 100 TB the corpus side
    of the join is partition-pruned because it is stored partitioned by
    cell_id (the equi-join key), so each query touches nprobe partitions.
    """
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col).withColumnsRenamed(
        {id_col: "neighbor_id", "vec": "cvec"}
    )
    c = centroids.select("cell_id", as_double(F.col(vec_col)).alias("centroid"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec"))
    q_cells = (
        q.crossJoin(F.broadcast(c))
        .select("query_id", "qvec", "cell_id", cosine(F.col("qvec"), F.col("centroid")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell_id"))
    probes = q_cells.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= nprobe).select(
        "query_id", "qvec", "cell_id"
    )
    scored = (
        corpus_cells.join(F.broadcast(probes), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(wk).cast("bigint")).filter(
        F.col("rank") <= k
    )
