"""Embedding similarity workload on the ``embeddings`` table
(array<float> × 64), with DuckDB list-function oracle twins.

Both sides accumulate dot products sequentially in double
(F.aggregate / list_reduce), so the floating-point result is
bit-identical before the final rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphdb_spark.datamodel import local_df
from graphdb_spark.operators import similarity as S
from graphdb_spark.sources.tpch import load_tables

QUERY_IDS = [0, 1, 2, 3, 4]
DIM = 64

# DuckDB sequential double ops over a list column
_SQ_SUM = (
    "list_reduce(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " (a, b) -> a + b)"
)
_DOT = (
    "list_reduce(list_transform(range(1, {dim} + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _emb(spark, sf_dir):
    return load_tables(spark, sf_dir)["embeddings"]


def emb_norms(spark, sf_dir):
    """L2 norms + per-label stats — the basic vector-column plumbing."""
    e = _emb(spark, sf_dir)
    norms = e.select(
        "vec_id",
        "label",
        F.round(S._norm(F.col("embedding")), 6).alias("l2_norm"),
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l2_norm"), 6).alias("min_norm"),
            F.round(F.max("l2_norm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


EMB_NORMS_SQL = f"""
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(MIN(l2_norm), 6) AS min_norm,
  ROUND(MAX(l2_norm), 6) AS max_norm
FROM (
  SELECT label, ROUND(sqrt({_SQ_SUM.format(v='embedding')}), 6) AS l2_norm
  FROM embeddings
) GROUP BY label ORDER BY label
"""


def ann_bruteforce_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for 5 query vectors (broadcast
    queries × full scan — the ANN correctness baseline)."""
    e = _emb(spark, sf_dir)
    return S.cosine_topk(e, QUERY_IDS, k=5).orderBy("query_id", "rn")


ANN_BRUTE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROUND({_DOT.format(a='q.qvec', b='e.embedding', dim=DIM)}
      / (sqrt({_SQ_SUM.format(v='q.qvec')}) * sqrt({_SQ_SUM.format(v='e.embedding')})), 6)
      AS cos_sim
  FROM q CROSS JOIN embeddings e
  WHERE q.query_id != e.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id, cos_sim
FROM ranked WHERE rn <= 5 ORDER BY query_id, rn
"""


def ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed cosine top-5 — the scale path: exact
    scoring only within matching sign-buckets."""
    e = _emb(spark, sf_dir)
    return S.lsh_bucket_topk(e, QUERY_IDS, k=5, n_planes=8, dim=DIM).orderBy(
        "query_id", "rn"
    )


def _lsh_sql() -> str:
    planes = S.hyperplanes(DIM, 8)
    plane_lits = [
        "[" + ", ".join(f"{c:.1f}" for c in row) + "]" for row in planes
    ]
    bits = " + ".join(
        f"(CASE WHEN {_DOT.format(a='embedding', b=plane_lits[p], dim=DIM)} >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p in range(8)
    )
    return f"""
WITH emb AS (
  SELECT vec_id AS vid, embedding AS vec,
    CAST(({bits}) AS BIGINT) AS bucket
  FROM embeddings
), q AS (
  SELECT vid AS query_id, vec AS qvec, bucket AS qbucket FROM emb
  WHERE vid IN ({", ".join(map(str, QUERY_IDS))})
), scored AS (
  SELECT q.query_id, e.vid AS neighbor_id,
    ROUND({_DOT.format(a='q.qvec', b='e.vec', dim=DIM)}
      / (sqrt({_SQ_SUM.format(v='q.qvec')}) * sqrt({_SQ_SUM.format(v='e.vec')})), 6)
      AS cos_sim
  FROM q JOIN emb e ON q.qbucket = e.bucket
  WHERE q.query_id != e.vid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id, cos_sim
FROM ranked WHERE rn <= 5 ORDER BY query_id, rn
"""


def emb_centroid_dist(spark, sf_dir):
    """Per-label centroid distance stats: groupBy label avg over vector
    components (posexplode + groupBy — partial-agg friendly), then each
    vector's distance to its label centroid, aggregated."""
    e = _emb(spark, sf_dir)
    comp = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    )
    cent = comp.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")) / F.count(F.lit(1))
        ).cast("double").alias("c")
    )
    dist = (
        comp.join(cent, ["label", "i"])
        .withColumn(
            "d2",
            (F.col("x").cast("double") - F.col("c"))
            * (F.col("x").cast("double") - F.col("c")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum(F.col("d2").cast("decimal(38,18)")).cast("double")), 6
            ).alias("dist")
        )
    )
    return (
        dist.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("dist"), 6).alias("min_dist"),
            F.round(F.max("dist"), 6).alias("max_dist"),
        )
        .orderBy("label")
    )


EMB_CENTROID_SQL = """
WITH comp AS (
  SELECT vec_id, label, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
  SELECT label, i,
    CAST(SUM(CAST(x AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE) AS c
  FROM comp GROUP BY label, i
), dist AS (
  SELECT vec_id, comp.label,
    ROUND(sqrt(CAST(SUM(CAST((x - c) * (x - c) AS DECIMAL(38,18))) AS DOUBLE)), 6) AS dist
  FROM comp JOIN cent ON comp.label = cent.label AND comp.i = cent.i
  GROUP BY vec_id, comp.label
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(MIN(dist), 6) AS min_dist, ROUND(MAX(dist), 6) AS max_dist
FROM dist GROUP BY label ORDER BY label
"""


def ann_ivf_topk(spark, sf_dir):
    """IVF-cell ANN top-5: coarse-quantize to 16 centroid cells, probe
    the 2 nearest cells per query, exact cosine within them."""
    e = _emb(spark, sf_dir)
    return S.ivf_topk(e, QUERY_IDS, k=5, n_cells=16, n_probe=2).orderBy(
        "query_id", "rn"
    )


_IVF_COS = (
    "ROUND({dot} / (sqrt({qa}) * sqrt({qb})), 6)"
)


def _ivf_sql(n_cells: int = 16, n_probe: int = 2) -> str:
    cos_cell = _IVF_COS.format(
        dot=_DOT.format(a="e.vec", b="c.cvec", dim=DIM),
        qa=_SQ_SUM.format(v="e.vec"),
        qb=_SQ_SUM.format(v="c.cvec"),
    )
    cos_cand = _IVF_COS.format(
        dot=_DOT.format(a="p.qvec", b="a.vec", dim=DIM),
        qa=_SQ_SUM.format(v="p.qvec"),
        qb=_SQ_SUM.format(v="a.vec"),
    )
    return f"""
WITH emb AS (
  SELECT vec_id AS vid, embedding AS vec FROM embeddings
), cents AS (
  SELECT vid AS cid, vec AS cvec FROM emb WHERE vid < {n_cells}
), scored_cells AS (
  SELECT e.vid, e.vec, c.cid, {cos_cell} AS ccos
  FROM emb e CROSS JOIN cents c
), ranked_cells AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
            ORDER BY ccos DESC, cid ASC) AS arn
  FROM scored_cells
), assign AS (
  SELECT vid, vec, cid FROM ranked_cells WHERE arn = 1
), probes AS (
  SELECT vid AS query_id, vec AS qvec, cid AS pcid
  FROM ranked_cells
  WHERE arn <= {n_probe} AND vid IN ({", ".join(map(str, QUERY_IDS))})
), cand AS (
  SELECT p.query_id, a.vid AS neighbor_id, {cos_cand} AS cos_sim
  FROM probes p JOIN assign a ON p.pcid = a.cid
  WHERE p.query_id != a.vid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM cand
)
SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id, cos_sim
FROM ranked WHERE rn <= 5 ORDER BY query_id, rn
"""


#: hot-bucket cap for the gate/bench workload — the sf10 synth set
#: (100-way clone replication) turns every LSH bucket into a clone
#: attack; 200 is inert at gate SF (max sf0.01 bucket is far smaller)
#: and the SQL oracle below replays the SAME star-link semantics, so
#: the cap itself is hash-verified, not just asserted.
NEARDUP_BUCKET_CAP = 200


def emb_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (banded hyperplane-LSH
    candidates, exact cosine >= 0.35) — the vector twin of
    dedup_minhash_lsh, ordered for determinism. bucket_cap=200 star
    links oversized buckets (VERDICT r6 scale fix); the oracle replays
    identical capped semantics."""
    e = _emb(spark, sf_dir)
    return S.cosine_neardup_pairs(
        e, threshold=0.35, n_bands=2, band_planes=6, dim=DIM,
        bucket_cap=NEARDUP_BUCKET_CAP,
    ).orderBy("id_a", "id_b")


def _neardup_sql(threshold: float = 0.35, n_bands: int = 2,
                 band_planes: int = 6,
                 bucket_cap: int | None = NEARDUP_BUCKET_CAP) -> str:
    planes = S.hyperplanes(DIM, n_bands * band_planes)
    plane_lits = [
        "[" + ", ".join(f"{c:.1f}" for c in row) + "]" for row in planes
    ]

    def bits(band: int) -> str:
        return " + ".join(
            f"(CASE WHEN {_DOT.format(a='embedding', b=plane_lits[band * band_planes + i], dim=DIM)} >= 0 "
            f"THEN {2 ** i} ELSE 0 END)"
            for i in range(band_planes)
        )

    band_rows = " UNION ALL ".join(
        f"SELECT vec_id AS vid, {b} AS band, "
        f"CAST(({bits(b)}) AS BIGINT) AS bucket FROM embeddings"
        for b in range(n_bands)
    )
    if bucket_cap is not None:
        cand = f"""sized AS (
  SELECT vid, band, bucket,
         COUNT(*) OVER (PARTITION BY band, bucket) AS bsz,
         MIN(vid)  OVER (PARTITION BY band, bucket) AS bmin
  FROM keyed
), small AS (
  SELECT vid, band, bucket FROM sized WHERE bsz <= {bucket_cap}
), star AS (
  SELECT bmin AS id_a, vid AS id_b FROM sized
  WHERE bsz > {bucket_cap} AND vid != bmin
), allp AS (
  SELECT a.vid AS id_a, b.vid AS id_b
  FROM small a JOIN small b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vid < b.vid
), cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT id_a, id_b FROM allp UNION ALL SELECT id_a, id_b FROM star
  )
)"""
    else:
        cand = """cand AS (
  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vid < b.vid
)"""
    return f"""
WITH keyed AS (
  {band_rows}
), {cand}, scored AS (
  SELECT c.id_a, c.id_b,
    ROUND({_DOT.format(a='ea.embedding', b='eb.embedding', dim=DIM)}
      / (sqrt({_SQ_SUM.format(v='ea.embedding')}) * sqrt({_SQ_SUM.format(v='eb.embedding')})), 6)
      AS cos_sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cos_sim FROM scored
WHERE cos_sim >= {threshold} ORDER BY id_a, id_b
"""



def semantic_dedup(spark, sf_dir):
    """SemDeDup over the embedding corpus: 16 deterministic centroid
    cells, drop any vector with a lower-id cell-mate at cosine >= 0.35
    (operators/similarity.semantic_dedup). One (vec_id, cid, keep) row
    per vector."""
    e = _emb(spark, sf_dir)
    return S.semantic_dedup(
        e, n_cells=16, threshold=0.35, centroid_mode="deterministic"
    ).orderBy("vec_id")


def _semantic_dedup_sql(n_cells: int = 16, threshold: float = 0.35) -> str:
    cos_cell = _IVF_COS.format(
        dot=_DOT.format(a="e.vec", b="c.cvec", dim=DIM),
        qa=_SQ_SUM.format(v="e.vec"),
        qb=_SQ_SUM.format(v="c.cvec"),
    )
    cos_pair = _IVF_COS.format(
        dot=_DOT.format(a="a.vec", b="b.vec", dim=DIM),
        qa=_SQ_SUM.format(v="a.vec"),
        qb=_SQ_SUM.format(v="b.vec"),
    )
    return f"""
WITH emb AS (
  SELECT vec_id AS vid, embedding AS vec FROM embeddings
), cents AS (
  SELECT vid AS cid, vec AS cvec FROM emb WHERE vid < {n_cells}
), scored_cells AS (
  SELECT e.vid, e.vec, c.cid, {cos_cell} AS ccos
  FROM emb e CROSS JOIN cents c
), ranked_cells AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
            ORDER BY ccos DESC, cid ASC) AS arn
  FROM scored_cells
), assign AS (
  SELECT vid, vec, cid FROM ranked_cells WHERE arn = 1
), dropped AS (
  SELECT DISTINCT b.vid
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vid < b.vid
  WHERE {cos_pair} >= {threshold}
)
SELECT a.vid AS vec_id, a.cid,
       CAST(CASE WHEN d.vid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM assign a LEFT JOIN dropped d ON a.vid = d.vid
ORDER BY vec_id
"""


QUERIES = {
    "ann_ivf_topk": (ann_ivf_topk, _ivf_sql()),
    "emb_cosine_neardup": (emb_cosine_neardup, _neardup_sql()),
    "emb_norms": (emb_norms, EMB_NORMS_SQL),
    "ann_bruteforce_topk": (ann_bruteforce_topk, ANN_BRUTE_SQL),
    "ann_lsh_topk": (ann_lsh_topk, _lsh_sql()),
    "emb_centroid_dist": (emb_centroid_dist, EMB_CENTROID_SQL),
    "semantic_dedup": (semantic_dedup, _semantic_dedup_sql()),
}


# --------------------------------------------------- ANN recall eval

ANN_RECALL_K = 10


def ann_recall_eval(spark, sf_dir):
    """Recall@10 of the two approximate-ANN paths (hyperplane-LSH and
    IVF cell-probe) against the exact brute-force top-10 — the
    measure-don't-guess query an ANN deployment runs before trusting
    an index at scale. One row per variant: (variant, n_hits,
    recall_at_10), hits = |approx top-10 ∩ exact top-10| summed over
    the 5 probe queries.

    Scale shape: the exact side is |queries| x N (5 here; a recall
    AUDIT always runs on a small probe sample, never the full query
    log), each approx side is its own bucket/cell-bounded plan, and
    the intersection joins are on 50-row results."""
    e = _emb(spark, sf_dir)
    k = ANN_RECALL_K
    exact = S.cosine_topk(e, QUERY_IDS, k=k).select(
        "query_id", "neighbor_id"
    )
    variants = [
        ("ivf", S.ivf_topk(e, QUERY_IDS, k=k, n_cells=16, n_probe=2)),
        ("lsh", S.lsh_bucket_topk(e, QUERY_IDS, k=k, n_planes=8, dim=DIM)),
    ]
    denom = len(QUERY_IDS) * k
    outs = []
    for name, df in variants:
        hits = (
            df.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        )
        outs.append(
            hits.select(
                F.lit(name).alias("variant"),
                "n_hits",
                F.round(F.col("n_hits").cast("double") / denom, 6).alias(
                    "recall_at_10"
                ),
            )
        )
    return outs[0].unionAll(outs[1]).orderBy("variant")


def _recall_sql(k: int = ANN_RECALL_K, n_cells: int = 16,
                n_probe: int = 2, n_planes: int = 8) -> str:
    """DuckDB twin: replays the same three top-k pipelines (brute /
    LSH / IVF, identical constants) and intersects neighbor sets."""
    ids = ", ".join(map(str, QUERY_IDS))
    denom = len(QUERY_IDS) * k
    cos = (
        "ROUND({dot} / (sqrt({qa}) * sqrt({qb})), 6)"
    )
    # exact brute-force top-k
    ex_cos = cos.format(
        dot=_DOT.format(a="q.qvec", b="e.embedding", dim=DIM),
        qa=_SQ_SUM.format(v="q.qvec"),
        qb=_SQ_SUM.format(v="e.embedding"),
    )
    # LSH buckets (same hyperplanes as similarity.hyperplanes)
    planes = S.hyperplanes(DIM, n_planes)
    plane_lits = [
        "[" + ", ".join(f"{c:.1f}" for c in row) + "]" for row in planes
    ]
    bits = " + ".join(
        f"(CASE WHEN {_DOT.format(a='embedding', b=plane_lits[p], dim=DIM)} >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    lsh_cos = cos.format(
        dot=_DOT.format(a="q.qvec", b="e.vec", dim=DIM),
        qa=_SQ_SUM.format(v="q.qvec"),
        qb=_SQ_SUM.format(v="e.vec"),
    )
    # IVF cells (same deterministic centroids as _ivf_sql)
    ivf_cell_cos = cos.format(
        dot=_DOT.format(a="e.vec", b="c.cvec", dim=DIM),
        qa=_SQ_SUM.format(v="e.vec"),
        qb=_SQ_SUM.format(v="c.cvec"),
    )
    ivf_cand_cos = cos.format(
        dot=_DOT.format(a="p.qvec", b="a.vec", dim=DIM),
        qa=_SQ_SUM.format(v="p.qvec"),
        qb=_SQ_SUM.format(v="a.vec"),
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id IN ({ids})
), ex_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {ex_cos} AS cos_sim
  FROM q CROSS JOIN embeddings e WHERE q.query_id != e.vec_id
), ex_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM ex_scored
), exact AS (
  SELECT query_id, neighbor_id FROM ex_ranked WHERE rn <= {k}
), lemb AS (
  SELECT vec_id AS vid, embedding AS vec,
    CAST(({bits}) AS BIGINT) AS bucket
  FROM embeddings
), lq AS (
  SELECT vid AS query_id, vec AS qvec, bucket AS qbucket FROM lemb
  WHERE vid IN ({ids})
), lsh_scored AS (
  SELECT q.query_id, e.vid AS neighbor_id, {lsh_cos} AS cos_sim
  FROM lq q JOIN lemb e ON q.qbucket = e.bucket
  WHERE q.query_id != e.vid
), lsh_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM lsh_scored
), lsh_top AS (
  SELECT query_id, neighbor_id FROM lsh_ranked WHERE rn <= {k}
), iemb AS (
  SELECT vec_id AS vid, embedding AS vec FROM embeddings
), cents AS (
  SELECT vid AS cid, vec AS cvec FROM iemb WHERE vid < {n_cells}
), scored_cells AS (
  SELECT e.vid, e.vec, c.cid, {ivf_cell_cos} AS ccos
  FROM iemb e CROSS JOIN cents c
), ranked_cells AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
            ORDER BY ccos DESC, cid ASC) AS arn
  FROM scored_cells
), assign AS (
  SELECT vid, vec, cid FROM ranked_cells WHERE arn = 1
), probes AS (
  SELECT vid AS query_id, vec AS qvec, cid AS pcid
  FROM ranked_cells
  WHERE arn <= {n_probe} AND vid IN ({ids})
), ivf_cand AS (
  SELECT p.query_id, a.vid AS neighbor_id, {ivf_cand_cos} AS cos_sim
  FROM probes p JOIN assign a ON p.pcid = a.cid
  WHERE p.query_id != a.vid
), ivf_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM ivf_cand
), ivf_top AS (
  SELECT query_id, neighbor_id FROM ivf_ranked WHERE rn <= {k}
), hits_lsh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lsh_top t
  JOIN exact x ON t.query_id = x.query_id
             AND t.neighbor_id = x.neighbor_id
), hits_ivf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ivf_top t
  JOIN exact x ON t.query_id = x.query_id
             AND t.neighbor_id = x.neighbor_id
)
SELECT * FROM (
  SELECT 'ivf' AS variant, n AS n_hits,
    ROUND(CAST(n AS DOUBLE) / {denom}, 6) AS recall_at_10 FROM hits_ivf
  UNION ALL
  SELECT 'lsh', n, ROUND(CAST(n AS DOUBLE) / {denom}, 6) FROM hits_lsh
) ORDER BY variant
"""


QUERIES["ann_recall_eval"] = (ann_recall_eval, _recall_sql())


# --------------------------------------- int8 scalar quantization

QUANT_LEVELS = 255  # 8-bit codes 0..255


def emb_quantize_error(spark, sf_dir):
    """Int8 scalar quantization audit: quantize every vector with
    per-vector min/max scaling (code_i = clamp(floor((x_i - mn)/s +
    0.5), 0, 255), s = (mx - mn)/255 — the standard symmetric-free
    scalar quantizer a 100 TB vector store uses to cut memory 4x),
    reconstruct, and report per-label reconstruction error: n, mean
    value range, mean RMSE, max RMSE. The query every deployment runs
    before switching its ANN index to quantized codes.

    Scale shape: pure per-row higher-order-function arithmetic inside
    whole-stage codegen (zero Python, zero shuffle before the final
    label-count aggregate). Per-vector RMSE is rounded then summed as
    decimal(18,6) so label means are partition-order independent;
    floor() replaces round() in the quantizer because floor is exact
    on identical doubles in both engines (no half-up vs half-even
    divergence).
    """
    e = _emb(spark, sf_dir)
    v = F.col("embedding")
    base = e.select(
        "vec_id", "label", "embedding",
        F.array_min(v).cast("double").alias("mn"),
        ((F.array_max(v).cast("double") - F.array_min(v).cast("double"))
         / QUANT_LEVELS).alias("s"),
    )

    def errsq(x):
        xd = x.cast("double")
        c = F.when(F.col("s") == 0.0, F.lit(0.0)).otherwise(
            F.least(
                F.greatest(
                    F.floor((xd - F.col("mn")) / F.col("s") + 0.5)
                    .cast("double"),
                    F.lit(0.0),
                ),
                F.lit(float(QUANT_LEVELS)),
            )
        )
        d = xd - (F.col("mn") + c * F.col("s"))
        return d * d

    sq = F.aggregate(
        F.transform(v, errsq), F.lit(0.0), lambda a, b: a + b
    )
    per_vec = base.select(
        "label",
        (F.col("s") * QUANT_LEVELS).alias("rng"),
        F.round(F.sqrt(sq / DIM), 6).alias("rmse"),
    )
    agg = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("rng"), 6).cast("decimal(18,6)")).alias("_rs"),
        F.sum(F.col("rmse").cast("decimal(18,6)")).alias("_es"),
        F.max("rmse").alias("max_rmse"),
    )
    return agg.select(
        "label",
        "n",
        F.round(F.col("_rs").cast("double") / F.col("n"), 6)
        .alias("avg_range"),
        F.round(F.col("_es").cast("double") / F.col("n"), 6)
        .alias("avg_rmse"),
        "max_rmse",
    ).orderBy("label")


def _quantize_sql() -> str:
    q = QUANT_LEVELS
    code = (
        f"CASE WHEN s = 0 THEN 0.0 ELSE "
        f"least(greatest(floor((CAST(x AS DOUBLE) - mn) / s + 0.5), 0.0), "
        f"{q}.0) END"
    )
    errsq = (
        f"(CAST(x AS DOUBLE) - (mn + ({code}) * s)) "
        f"* (CAST(x AS DOUBLE) - (mn + ({code}) * s))"
    )
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding,
    CAST(list_min(embedding) AS DOUBLE) AS mn,
    (CAST(list_max(embedding) AS DOUBLE)
     - CAST(list_min(embedding) AS DOUBLE)) / {q} AS s
  FROM embeddings
), per_vec AS (
  SELECT label, s * {q} AS rng,
    ROUND(sqrt(
      list_reduce(list_transform(embedding, x -> {errsq}), (a, b) -> a + b)
      / {DIM}), 6) AS rmse
  FROM base
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(CAST(ROUND(rng, 6) AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*), 6) AS avg_range,
  ROUND(CAST(SUM(CAST(rmse AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*), 6) AS avg_rmse,
  MAX(rmse) AS max_rmse
FROM per_vec GROUP BY label ORDER BY label
"""


QUERIES["emb_quantize_error"] = (emb_quantize_error, _quantize_sql())


def emb_dim_stats(spark, sf_dir):
    """Per-DIMENSION distribution stats over the embedding column
    (drift monitoring: a collapsed dimension, a scale blow-up, or a
    mean shift between two corpus snapshots shows up here first).
    posexplode → one 64-group aggregate; decimal sums make the means
    partition-order independent, min/max are exact.

    Scale: the explode is dim× row inflation but never shuffles wide —
    the aggregate reduces map-side to 64 partial rows per task before
    the (tiny) exchange."""
    e = _emb(spark, sf_dir)
    return (
        e.select(F.posexplode("embedding").alias("dim", "x"))
        .select("dim", F.round(F.col("x").cast("double"), 6).alias("x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)), 6
            ).alias("mean_x"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
        )
        .orderBy("dim")
    )


EMB_DIM_STATS_SQL = f"""
WITH flat AS (
  SELECT UNNEST(list_transform(range(1, {DIM} + 1),
                i -> {{'dim': CAST(i - 1 AS INT),
                       'x': ROUND(CAST(embedding[i] AS DOUBLE), 6)}}),
         recursive := true)
  FROM embeddings
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
    AS mean_x,
  MIN(x) AS min_x,
  MAX(x) AS max_x
FROM flat GROUP BY dim ORDER BY dim
"""


QUERIES["emb_dim_stats"] = (emb_dim_stats, EMB_DIM_STATS_SQL)


# ------------------------------- MMR diverse selection (data curation)

MMR_POOL = 200    # vec_id < 200 candidate pool (replica-0-stable)
MMR_K = 10
MMR_LAMBDA = 0.5  # exact in binary — both engines multiply the same
MMR_QUERY = 0     # relevance anchor vector (excluded from the pool)


def emb_mmr_selection(spark, sf_dir):
    """Maximal-marginal-relevance selection — the training-data
    CURATION step after dedup/quality: greedily pick K docs maximizing
    lam*rel(d) - (1-lam)*max-sim-to-already-selected, so the selected
    set is relevant AND diverse (Carbonell & Goldstein 1998; the
    shape behind diversity-aware data selection in modern pipelines).
    rel(d) = cos(d, anchor vec 0); maxsim starts at 0.0 so the score
    formula is uniform from the first pick. Returns
    (rank, vec_id, rel, sel_maxsim, mmr), rank = selection order.

    Scale shape: K bounded driver steps. Each step is one argmax
    (TakeOrdered(1)) over the candidate pool and one map-side column
    update — the winner's 64-dim vector re-enters the plan as
    LITERALS (the same bounded-collect contract as shortest-path's
    <=1-row hit), so no join, no shuffle, no growing state; the pool
    is scanned, never collected. At 100 TB the pool is the (already
    deduped, quality-filtered) candidate shortlist — millions of rows
    scanned K times map-side, exactly how distributed MMR is run.

    Cross-engine exactness: dots/norms are the sequential-double
    F.aggregate / list_reduce pattern shared by every embeddings
    oracle here; the greedy argmax compares IDENTICAL doubles with a
    vec_id tiebreak, and the float32 -> double widening of the
    winner's literals is exact in both engines."""
    from graphdb_spark.operators.similarity import _dot

    pool = _mmr_pool(spark, sf_dir)
    lam = MMR_LAMBDA
    picked = []
    for rank in range(MMR_K):
        score = F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("maxsim")
        win = (
            pool.select("vec_id", "embedding", "nrm", "rel", "maxsim",
                        score.alias("mmr"))
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .first()
        )
        picked.append((rank, win["vec_id"], win["rel"], win["maxsim"],
                       win["mmr"]))
        wlit = F.array(*[F.lit(float(x)) for x in win["embedding"]])
        wnrm = float(win["nrm"])
        pool = (
            pool.filter(F.col("vec_id") != win["vec_id"])
            .select(
                "vec_id", "embedding", "nrm", "rel",
                F.greatest(
                    F.col("maxsim"),
                    _dot(F.col("embedding"), wlit)
                    / (F.col("nrm") * F.lit(wnrm)),
                ).alias("maxsim"),
            )
            .localCheckpoint(eager=False)
        )
    return local_df(
        spark,
        [(r, int(v), float(rel), float(ms), float(mm))
         for r, v, rel, ms, mm in picked],
        "rank int, vec_id bigint, rel double, sel_maxsim double, mmr double",
    ).select(
        "rank", "vec_id",
        F.round("rel", 6).alias("rel"),
        F.round("sel_maxsim", 6).alias("sel_maxsim"),
        F.round("mmr", 6).alias("mmr"),
    ).orderBy("rank")


def _mmr_sql() -> str:
    """The greedy loop unrolled as K chained CTE layers (the
    g_modularity/ktruss bounded-unroll technique): layer i picks the
    argmax and folds its similarity into every survivor's maxsim."""
    lam, k = MMR_LAMBDA, MMR_K
    dot_q = _DOT.format(a="e.embedding", b="q.embedding", dim=DIM)
    nrm = _SQ_SUM.format(v="e.embedding")
    nrm_q = _SQ_SUM.format(v="q.embedding")
    layers, finals = [], []
    for i in range(k):
        prev = f"m{i}"
        dot_s = _DOT.format(a="m.embedding", b="s.embedding", dim=DIM)
        layers.append(f"""s{i} AS (
  SELECT *, {lam} * rel - {1 - lam} * maxsim AS mmr FROM {prev}
  ORDER BY mmr DESC, vec_id ASC LIMIT 1
), m{i + 1} AS (
  SELECT m.vec_id, m.embedding, m.nrm, m.rel,
    GREATEST(m.maxsim, {dot_s} / (m.nrm * s.nrm)) AS maxsim
  FROM {prev} m, s{i} s WHERE m.vec_id <> s.vec_id
)""")
        finals.append(
            f"SELECT {i} AS rank, vec_id, rel, maxsim, mmr FROM s{i}"
        )
    union = "\nUNION ALL\n".join(finals)
    chain = ",\n".join(layers)
    return f"""
WITH m0 AS (
  SELECT e.vec_id, e.embedding, sqrt({nrm}) AS nrm,
    {dot_q} / (sqrt({nrm}) * sqrt({nrm_q})) AS rel,
    CAST(0.0 AS DOUBLE) AS maxsim
  FROM embeddings e, (SELECT embedding FROM embeddings
                      WHERE vec_id = {MMR_QUERY}) q
  WHERE e.vec_id < {MMR_POOL} AND e.vec_id <> {MMR_QUERY}
),
{chain}
SELECT rank, vec_id, ROUND(rel, 6) AS rel,
  ROUND(maxsim, 6) AS sel_maxsim, ROUND(mmr, 6) AS mmr
FROM ({union}) ORDER BY rank
"""


QUERIES["emb_mmr_selection"] = (emb_mmr_selection, _mmr_sql())


MMR_BATCH = 5  # picks per round: ceil(K/B)=2 driver rounds vs K=10


def _mmr_pool(spark, sf_dir):
    """Shared candidate-pool construction for both MMR variants:
    (vec_id, embedding, nrm, rel, maxsim=0) with rel = cos(d, anchor)
    — anchor collected once as literals (bounded: one 64-dim row)."""
    from graphdb_spark.operators.similarity import _dot, _norm

    e = _emb(spark, sf_dir)
    qvec_row = (
        e.filter(F.col("vec_id") == MMR_QUERY)
        .select("embedding").first()
    )
    qlit = F.array(*[F.lit(float(x)) for x in qvec_row["embedding"]])
    return (
        e.filter((F.col("vec_id") < MMR_POOL)
                 & (F.col("vec_id") != MMR_QUERY))
        .select(
            "vec_id",
            "embedding",
            _norm(F.col("embedding")).alias("nrm"),
            (_dot(F.col("embedding"), qlit)
             / (_norm(F.col("embedding")) * _norm(qlit))).alias("rel"),
        )
        .withColumn("maxsim", F.lit(0.0))
        .localCheckpoint(eager=False)
    )


def emb_mmr_batched(spark, sf_dir):
    """Batched MMR — the at-scale variant of ``emb_mmr_selection``
    (SCALE.md): instead of K sequential argmax jobs, each round takes
    the TOP-B rows by the current MMR score in ONE job, then folds all
    B winners' similarities into every survivor's maxsim in one
    map-side pass. ceil(K/B) driver rounds instead of K — at 100 TB,
    where each round is a full scan of the candidate shortlist, this
    divides the number of scans by B.

    Semantics (the standard batched approximation): members of the
    same batch are scored against the selection state at the START of
    the round — they do not see each other. Rank within a batch =
    (score desc, vec_id asc), so the total order is deterministic.
    Greedy MMR is the B=1 special case; the A/B vs the greedy loop
    (jobs, wall, selection overlap) is recorded in NOTES.

    Scale shape: each round is one TakeOrdered(B) job over the pool
    (never collected) plus one narrow column update; the B winners'
    64-dim vectors re-enter the plan as literals — the same bounded-
    collect contract as the greedy loop, B*64 doubles per round."""
    from graphdb_spark.operators.similarity import _dot

    pool = _mmr_pool(spark, sf_dir)
    lam = MMR_LAMBDA
    picked = []
    while len(picked) < MMR_K:
        b = min(MMR_BATCH, MMR_K - len(picked))
        score = F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("maxsim")
        wins = (
            pool.select("vec_id", "embedding", "nrm", "rel", "maxsim",
                        score.alias("mmr"))
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(b)
            .collect()
        )
        if len(wins) < b:
            # pool exhausted before K picks (possible if constants
            # change so MMR_POOL < MMR_K): fail loudly instead of
            # looping forever on an empty TakeOrdered (r8 ADVICE)
            raise ValueError(
                f"MMR pool exhausted at {len(picked) + len(wins)} picks "
                f"(asked for {MMR_K}); grow MMR_POOL"
            )
        sims = []
        win_ids = []
        for win in wins:
            picked.append((len(picked), win["vec_id"], win["rel"],
                           win["maxsim"], win["mmr"]))
            wlit = F.array(*[F.lit(float(x)) for x in win["embedding"]])
            sims.append(_dot(F.col("embedding"), wlit)
                        / (F.col("nrm") * F.lit(float(win["nrm"]))))
            win_ids.append(win["vec_id"])
        pool = (
            pool.filter(~F.col("vec_id").isin(win_ids))
            .select(
                "vec_id", "embedding", "nrm", "rel",
                F.greatest(F.col("maxsim"), *sims).alias("maxsim"),
            )
            .localCheckpoint(eager=False)
        )
    return local_df(
        spark,
        [(r, int(v), float(rel), float(ms), float(mm))
         for r, v, rel, ms, mm in picked],
        "rank int, vec_id bigint, rel double, sel_maxsim double, mmr double",
    ).select(
        "rank", "vec_id",
        F.round("rel", 6).alias("rel"),
        F.round("sel_maxsim", 6).alias("sel_maxsim"),
        F.round("mmr", 6).alias("mmr"),
    ).orderBy("rank")


def _mmr_batched_sql() -> str:
    """Batched greedy unrolled as ceil(K/B) chained CTE layers: layer
    r picks the top-B by score (rank = batch offset + in-batch
    position), then folds MAX over the B winners' similarities into
    every survivor's maxsim (GROUP BY survivor, winners cross-joined
    and excluded by id)."""
    lam, k, bsz = MMR_LAMBDA, MMR_K, MMR_BATCH
    dot_q = _DOT.format(a="e.embedding", b="q.embedding", dim=DIM)
    nrm = _SQ_SUM.format(v="e.embedding")
    nrm_q = _SQ_SUM.format(v="q.embedding")
    dot_s = _DOT.format(a="m.embedding", b="s.embedding", dim=DIM)
    layers, finals = [], []
    off = 0
    r = 0
    while off < k:
        b = min(bsz, k - off)
        prev = f"m{r}"
        score = f"{lam} * rel - {1 - lam} * maxsim"
        layer = f"""s{r} AS (
  SELECT *, {score} AS mmr,
    ROW_NUMBER() OVER (ORDER BY ({score}) DESC, vec_id ASC) - 1 AS bpos
  FROM {prev} ORDER BY mmr DESC, vec_id ASC LIMIT {b}
)"""
        if off + b < k:
            # survivor-fold CTE only while another layer consumes it —
            # the last round's m{r+1} was dead SQL (r8 ADVICE)
            layer += f""", m{r + 1} AS (
  SELECT m.vec_id, m.embedding, m.nrm, m.rel,
    GREATEST(m.maxsim, MAX({dot_s} / (m.nrm * s.nrm))) AS maxsim
  FROM {prev} m, s{r} s
  WHERE m.vec_id NOT IN (SELECT vec_id FROM s{r})
  GROUP BY m.vec_id, m.embedding, m.nrm, m.rel, m.maxsim
)"""
        layers.append(layer)
        finals.append(
            f"SELECT CAST({off} + bpos AS INT) AS rank, vec_id, rel,"
            f" maxsim, mmr FROM s{r}"
        )
        off += b
        r += 1
    union = "\nUNION ALL\n".join(finals)
    chain = ",\n".join(layers)
    return f"""
WITH m0 AS (
  SELECT e.vec_id, e.embedding, sqrt({nrm}) AS nrm,
    {dot_q} / (sqrt({nrm}) * sqrt({nrm_q})) AS rel,
    CAST(0.0 AS DOUBLE) AS maxsim
  FROM embeddings e, (SELECT embedding FROM embeddings
                      WHERE vec_id = {MMR_QUERY}) q
  WHERE e.vec_id < {MMR_POOL} AND e.vec_id <> {MMR_QUERY}
),
{chain}
SELECT rank, vec_id, ROUND(rel, 6) AS rel,
  ROUND(maxsim, 6) AS sel_maxsim, ROUND(mmr, 6) AS mmr
FROM ({union}) ORDER BY rank
"""


QUERIES["emb_mmr_batched"] = (emb_mmr_batched, _mmr_batched_sql())
