"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: query set x corpus cross
  join with JVM-side `aggregate`/`zip_with` dot products. The baseline, and
  the correctness oracle for the approximate path. O(|Q| * |C|): fine for
  small query sets at any corpus size (it is one pass over the corpus per
  query batch), wrong tool for all-pairs.
- :func:`lsh_ann_topk` — random-hyperplane LSH: deterministic rational
  hyperplanes, sign-bit bucket key, candidates restricted to the query's
  bucket (+ optional multi-probe by flipping one bit), exact re-rank inside
  the bucket. The scale path: bucket join instead of cross join.

All float math is forced to double with left-fold accumulation so Spark and
the DuckDB oracle produce bit-identical sums (then rounded for ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from webgraph_rs_spark.session import local_table

N_PLANES = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, cos_sim, rnk), deterministic ties by
    (rounded sim desc, neighbor id asc)."""
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sims = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("long"))
    )


def _plane_component(j: int, i) -> F.Column:
    """Deterministic rational hyperplane component w[j][i] in [-1, 1):
    ((1103515245 * (j + 1) + 12345 * (i + 1)) % 1000 - 500) / 500 —
    integer arithmetic, exact in every engine."""
    base = 1103515245 * (j + 1)  # python int -> long literal (no int32 overflow)
    return (
        ((F.lit(base).cast("long") + F.lit(12345).cast("long") * (i + F.lit(1)))
         % 1000 - 500)
        / 500.0
    )


def lsh_buckets(
    emb: DataFrame,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket): sign-bit key over deterministic random hyperplanes.

    dot_j(v) = sum_i v[i] * w[j][i]; bit_j = 1 if dot_j >= 0;
    bucket = sum bit_j << j. JVM-side only (aggregate over zip of the vector
    with index positions)."""
    v = F.col(vec_col)
    idx = F.sequence(F.lit(0), F.size(v) - 1)
    bucket = None
    for j in range(n_planes):
        dot_j = F.aggregate(
            F.zip_with(
                v,
                idx,
                lambda x, i: x.cast("double") * _plane_component(j, i),
            ),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        bit = F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select(F.col(id_col), bucket.cast("long").alias("bucket"))


def lsh_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = N_PLANES,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates from the query's LSH bucket (plus, with
    ``multiprobe``, every bucket at hamming distance 1 — the standard
    recall/cost knob), exact cosine re-rank within. Output like cosine_topk
    (may differ from exact — that gap IS the approximation; tests measure
    recall)."""
    b = lsh_buckets(emb, n_planes, id_col, vec_col)
    withb = emb.join(b, id_col)
    q = withb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("bucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("long")
                for j in range(n_planes)
            ],
        )
        q = q.select(
            "query_id", "qv", F.explode(probes).alias("bucket")
        )
    c = withb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("bucket"),
    )
    sims = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("long"))
    )


def lsh_band_keys(
    emb: DataFrame,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, key): banded random-hyperplane keys, exploded one row per
    band. ``n_planes`` sign bits are split into ``n_bands`` contiguous bands
    of ``n_planes // n_bands`` bits; ``key`` packs the bits of one band.
    Two vectors are near-dup CANDIDATES iff they agree on at least one band
    (the same OR-of-ANDs amplification :func:`minhash_lsh_pairs` uses for
    Jaccard): per-plane agreement p = 1 - angle/pi, so candidate recall is
    1 - (1 - p^r)^n_bands — at cos 0.95 with 4x4 bands that is ~0.985,
    versus ~0.43 for a single 8-plane all-bits bucket."""
    if n_planes % n_bands:
        raise ValueError("n_planes must be a multiple of n_bands")
    rows = n_planes // n_bands
    v = F.col(vec_col)
    idx = F.sequence(F.lit(0), F.size(v) - 1)

    def _mul(j):
        # closure factory: zip_with requires an exactly-2-arg lambda
        return lambda x, i: x.cast("double") * _plane_component(j, i)

    band_cols = []
    for t in range(n_bands):
        key = None
        for r in range(rows):
            j = t * rows + r
            dot_j = F.aggregate(
                F.zip_with(v, idx, _mul(j)),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
            bit = F.when(dot_j >= 0, F.lit(1 << r)).otherwise(F.lit(0))
            key = bit if key is None else key + bit
        band_cols.append(
            F.struct(F.lit(t).cast("long").alias("band"), key.cast("long").alias("key"))
        )
    return emb.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs embedding near-duplicates: (a, b, cos_sim) with a < b and
    cosine >= threshold; candidates are pairs sharing at least one LSH BAND
    (see :func:`lsh_band_keys`), then verified with the exact cosine.

    The dedup-by-embedding primitive of a training-data pipeline: never
    all-pairs — the quadratic term is within-(band,key) groups only, and the
    banded OR-construction keeps recall high at the threshold boundary
    (~0.985 at cos 0.95 with the 16-plane/4-band default, vs ~0.43 for the
    old single all-bits bucket). Verification is exact, so precision is 1.
    """
    bk = lsh_band_keys(emb, n_planes, n_bands, id_col, vec_col)
    l = bk.select(F.col(id_col).alias("a"), "band", "key")
    r = bk.select(F.col(id_col).alias("b"), "band", "key")
    cand = (
        l.join(r, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()  # a pair may collide in several bands — verify once
    )
    ea = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    eb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(ea, "a")
        .join(eb, "b")
        .select(
            "a",
            "b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --------------------------------------------------------------- IVF index

IVF_CELLS = 16


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, centroid): deterministic seed centroids — the ``n_cells``
    corpus vectors with the smallest ids. A k-means refinement would drop in
    here unchanged (the index layout below only needs SOME centroid table);
    seeded selection keeps the whole index reproducible and oracle-checkable.
    """
    return (
        emb.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("seed_id"), F.col(vec_col).alias("centroid")
        )
        .withColumn(
            "cell",
            F.row_number()
            .over(W.orderBy("seed_id"))
            .cast("long")
            - 1,
        )
        .select("cell", "seed_id", "centroid")
    )


def ivf_kmeans_centroids(
    emb: DataFrame,
    n_cells: int = IVF_CELLS,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, centroid): Lloyd-refined centroids, seeded from
    :func:`ivf_centroids`. Each iteration is two DataFrame jobs — a
    broadcast map-side assignment (no shuffle on the corpus) and a
    groupBy(cell, dim) mean — so the per-iteration cost is one corpus
    scan regardless of corpus size. The centroid table itself is the
    model parameter (n_cells x dim, tiny by construction), so pulling it
    to the driver between iterations is the honest plan — exactly what
    any IVF trainer does; the corpus never leaves the executors. Empty
    cells keep their previous centroid.
    """
    cts = ivf_centroids(emb, n_cells, id_col, vec_col).select(
        "cell", "centroid"
    )
    spark = emb.sparkSession
    for _ in range(iters):
        assign = ivf_assign(emb, cts, n_cells, id_col, vec_col)
        pe = emb.join(assign, id_col).select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        means = (
            pe.groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cell",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("nc"),
            )
        )
        rows = (
            cts.join(means, "cell", "left")
            .select(
                "cell", F.coalesce("nc", F.col("centroid")).alias("centroid")
            )
            .collect()
        )
        cts = local_table(
            spark,
            [(int(r["cell"]), [float(x) for x in r["centroid"]]) for r in rows],
            "cell long, centroid array<double>",
        )
    return cts


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest-centroid (max cosine) assignment — the inverted
    file. Centroids BROADCAST (they are tiny by construction at any corpus
    size), so assignment is one map-side pass over the corpus: O(n * cells)
    flops, no shuffle. Ties break to the lower cell id."""
    cts = centroids if centroids is not None else ivf_centroids(
        emb, n_cells, id_col, vec_col
    )
    scored = emb.crossJoin(
        F.broadcast(cts.select("cell", "centroid"))
    ).select(
        F.col(id_col),
        "cell",
        F.round(
            _dot(F.col(vec_col), F.col("centroid"))
            / (_norm(F.col(vec_col)) * _norm(F.col("centroid"))),
            6,
        ).alias("sim"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("cell"))
    )


def ivf_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe`` highest-
    cosine cells and re-ranks exactly within them (output shape of
    :func:`cosine_topk`). The 100 TB shape: centroid scoring is broadcast
    map-side; the candidate join hits only probed cells of the inverted
    file (cells are the natural partition key for the corpus at rest).
    ``centroids`` plugs in any (cell, centroid) table — e.g. the
    k-means-refined :func:`ivf_kmeans_centroids`; default is the
    deterministic seed table."""
    cts = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_cells, id_col, vec_col)
    )
    assign = ivf_assign(emb, cts, n_cells, id_col, vec_col)
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qcells = q.crossJoin(F.broadcast(cts.select("cell", "centroid"))).select(
        "query_id",
        "qv",
        "cell",
        F.round(
            _dot(F.col("qv"), F.col("centroid"))
            / (_norm(F.col("qv")) * _norm(F.col("centroid"))),
            6,
        ).alias("sim"),
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cell").asc()
    )
    probes = (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    c = emb.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    sims = (
        probes.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("long"))
    )
