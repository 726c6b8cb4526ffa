"""Similarity search over embedding columns.

- brute-force cosine top-k: the correctness baseline. The query set is
  broadcast (small side) against the corpus scan; per-query top-k via
  window. O(|Q|·N) work but one scan, no shuffle of the corpus.
- hyperplane-sign LSH buckets: the scale path. Deterministic INTEGER
  plane weights w[i][j] = ((i*37 + j*101) % 19) - 9 keep the arithmetic
  exactly reproducible in ANSI SQL (DuckDB oracle parity) — at real
  scale these would be seeded gaussian planes.
- IVF-flat (knn_ivf): a coarse quantizer shipped as broadcast DATA
  (one packed centroid row), map-only cell assignment, nprobe probing
  and a broadcast cell equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from informers_spark.functions.similarity import cosine
from informers_spark.operators.dedup import spread_scan


def _expr_vec(vals) -> Column:
    """array<double> literal parsed JVM-side from ONE SQL string: F.lit(list)
    converts element-by-element over py4j (~0.8 ms/element — 1.6 s of DRIVER
    time for a 32x64 plane matrix, paid per query construction), F.expr
    parses the identical literal in ~2 ms. Python float repr round-trips,
    so values are bit-identical to the F.lit form. Only the integer plane
    weights are rendered this way, so every element is finite."""
    return F.expr("array(" + ",".join(_d(x) for x in vals) + ")")


def _d(x) -> str:
    return f"{float(x)}D"


def _expr_matrix(rows) -> Column:
    """array<array<double>> literal, same rationale as _expr_vec."""
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(_d(x) for x in r) + ")" for r in rows)
        + ")"
    )


def plane_weights(n_planes: int, dim: int) -> list[list[int]]:
    return [[((i * 37 + j * 101) % 19) - 9 for j in range(dim)] for i in range(n_planes)]


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """LSH bucket id: bit i = (Σ_j w[i][j]·v[j] > 0)."""
    w = plane_weights(n_planes, dim)
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        dot_i = F.aggregate(
            F.zip_with(
                vec,
                _expr_vec(w[i]),  # JVM-parsed literal (see _expr_vec)
                lambda v, p: v.cast("double") * p,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot_i > 0, F.lit(2**i)).otherwise(F.lit(0)).cast("long")
    return bucket


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self-matches
    excluded). → (query_id, neighbor_id, rank, cos_sim). The query side
    is broadcast; ties broken by neighbor id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def banded_buckets(
    vec: Column, bands: int = 4, planes_per_band: int = 8, dim: int = 64
) -> Column:
    """Multi-table (banded) hyperplane LSH: band t hashes with planes
    [t·r, (t+1)·r) — OR-amplification, so near-neighbors that disagree on
    one plane of one table still collide in another. Band 0 with r=8 is
    bit-identical to hyperplane_bucket(vec, 8) (same global plane weights).
    → array<struct<band:int, key:bigint>>; explode to block on
    (band, key).

    Construction shape: the whole plane matrix ships as ONE nested array
    literal and the per-plane dots/sign bits are built with transform/
    zip_with/aggregate lambdas — a handful of py4j round-trips instead of
    one aggregate(zip_with(...)) tree per plane (the old per-plane build
    cost 3.5s of DRIVER time per call at bands*r=32; evaluation is
    unchanged and value-identical, same left-fold order as the SQL
    oracle)."""
    w = _expr_matrix(plane_weights(bands * planes_per_band, dim))
    dots = F.transform(
        w,
        lambda p: F.aggregate(
            F.zip_with(vec, p, lambda v, x: v.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    bits = F.transform(
        dots, lambda d: F.when(d > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    pow2 = F.expr(
        "array(" + ",".join(f"{1 << i}L" for i in range(planes_per_band)) + ")"
    )
    entries = [
        F.struct(
            F.lit(t).cast("int").alias("band"),
            F.aggregate(
                F.zip_with(
                    F.slice(bits, t * planes_per_band + 1, planes_per_band),
                    pow2,
                    lambda b, p: b * p.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("key"),
        )
        for t in range(bands)
    ]
    return F.array(*entries)


def _banded_blocks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    bands: int,
    planes_per_band: int,
    spread: bool,
) -> DataFrame:
    """(id, band, key) banded blocking table, unguarded: the caller caps
    hot cells (dedup._banded_self_join for a self-join, knn_lsh's
    drop_oversized_buckets on its corpus side).

    spread=True is the corpus side: the banded-bucket expressions are the
    heavy part, so a coarse scan is spread to every core, and the table
    is materialized ONCE — the guard's count branch, its anti-join side
    and the downstream join side(s) all consume it; without a checkpoint
    the bands×planes aggregate expressions re-run per branch (measured 4x
    on the embedding_neardup self-join). Three small columns. The
    broadcast query side passes spread=False and stays put."""
    if spread:
        df = spread_scan(df)
    blocks = df.select(
        F.col(id_col).alias(out_id),
        F.explode(banded_buckets(F.col(vec_col), bands, planes_per_band)).alias("bk"),
    ).select(out_id, "bk.band", "bk.key")
    return blocks.localCheckpoint() if spread else blocks


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bands: int = 4,
    planes_per_band: int = 8,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k with banded (multi-probe) LSH: candidates =
    corpus rows sharing ANY band's bucket with the query (equi-join on
    (band, key), never a cross join), deduped, then cosine-scored.
    OR-amplification over `bands` tables fixes the single-table recall
    collapse. This is a broadcast probe, not a self-join, so max_bucket
    caps hot corpus cells with drop_oversized_buckets directly."""
    from informers_spark.operators.dedup import drop_oversized_buckets

    c = _banded_blocks(corpus, id_col, vec_col, "neighbor_id", bands, planes_per_band, spread=True)
    if max_bucket:
        c = drop_oversized_buckets(c, ["band", "key"], max_bucket)
    q = _banded_blocks(queries, id_col, vec_col, "query_id", bands, planes_per_band, spread=False)
    cand = (
        c.join(F.broadcast(q), ["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid: posexplode → per-(group, dim) mean → re-assemble.
    Map-side partial aggregation makes this one shuffle of (group, dim)
    keys — scales to any corpus size. → (label, dim, mean_val)."""
    return (
        df.select(F.col(group_col).alias("label"), F.posexplode(F.col(vec_col)).alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
    )


def centroid_vectors(df: DataFrame) -> DataFrame:
    """Assemble the per-label mean centroids (ann.centroids long format)
    into a (label:int, vec:array<double>) DataFrame — the quantizer shape
    knn_ivf broadcasts. Stays distributed: no collect."""
    return (
        centroids(df)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("dv"))
        .select(F.col("label").cast("int").alias("label"), F.col("dv.mean_val").alias("vec"))
    )


def _ivf_cells_from_packed(vec: Column, cents: Column, nprobe: int) -> Column:
    """Top-nprobe cell labels for `vec` against a packed
    array<struct<label,vec>> centroid column. Ties break to the smaller
    cell label (struct sort on (cos DESC, -label DESC)).
    → array<int> of cell labels, best first."""
    scored = F.transform(
        cents,
        lambda s: F.struct(
            cosine(vec, s["vec"]).alias("cos"),
            (-s["label"]).cast("int").alias("neg"),
        ),
    )
    top = F.slice(F.sort_array(scored, asc=False), 1, nprobe)
    return F.transform(top, lambda s: -s["neg"])


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k (the brief's named scale-path variant
    next to banded LSH): corpus vectors live in ONE cell each (nearest
    centroid); each query probes its nprobe nearest cells and scores
    only those cells' members. Candidate generation is an equi-join on
    the cell id — never a cross join — with the query side broadcast;
    a (query, corpus) pair can collide in at most one cell, so no
    distinct is needed before scoring. `centroids_df` is the trained
    coarse quantizer as (label:int, vec:array<double>) rows; here the
    per-label means (centroid_vectors) stand in deterministically.

    The centroid set is packed into ONE row holding an
    array<struct<label,vec>> and attached to each side with a broadcast
    nested-loop join (1-row inner side → exactly one output row per
    input row): cell assignment stays map-only — no shuffle of the
    corpus, no driver-side collect of the centroids, and no plan
    literals, so the serialized plan does not grow with K.

    K-growth caveat: the packed row is K·dim doubles shipped once per
    executor, and every vector scores all K centroids — fine at K≲1e3,
    but at the K≈4√N≈65k a 100-TB IVF needs that is a ~33 MB broadcast
    row (dim=64) and O(K·dim) work per vector; past that, assign cells with a
    two-level (coarse-of-coarse) quantizer instead.
    → (query_id, neighbor_id, rank, cos_sim)."""
    packed = F.broadcast(
        centroids_df.agg(
            F.array_sort(F.collect_list(F.struct("label", "vec"))).alias("_cents")
        )
    )
    c = (
        spread_scan(corpus)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .crossJoin(packed)
        .withColumn("cell", _ivf_cells_from_packed(F.col("cv"), F.col("_cents"), 1)[0])
        .drop("_cents")
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .crossJoin(packed)
        .withColumn(
            "cell", F.explode(_ivf_cells_from_packed(F.col("qv"), F.col("_cents"), nprobe))
        )
        .drop("_cents")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )
