"""Text-analysis + dedup workload on the ``documents`` table, each
query with an exact DuckDB-oracle twin.

The oracles replay the same deterministic pipelines (portable md5-based
h64 hash, fixed minhash permutations) in DuckDB SQL — generated from
the same constants so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphdb_spark.operators import dedup, text as T
from graphdb_spark.sources.tpch import load_tables

# ---- shared SQL fragments (DuckDB dialect) ------------------------------

# h64(x) — must match operators.text.h64
_H64 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

# tokens / normalized text — must match operators.text
_TOKS = r"regexp_split_to_array(trim({x}), '\s+')"
_NORM = (
    r"regexp_replace(regexp_replace(lower(trim({x})), "
    r"'[^\p{{L}}\p{{N}}\s]', '', 'g'), '\s+', ' ', 'g')"
)
# 3-word shingles over lowered tokens — must match operators.text.shingles
_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len({toks}) - 3, 0) + 2), "
    "i -> array_to_string({toks}[i:i+2], ' ')))"
).format(toks=_TOKS.format(x="lower({x})"))


def _docs(spark, sf_dir, spread=False, width=None):
    # documents ships as one small parquet file → a single input split.
    # For the shingle/token-explosion pipelines (CPU-bound) spread the
    # rows across cores first; for single-pass scans the repartition
    # shuffle costs more than it buys. At real scale (many files) the
    # spread is a no-op. ``width`` overrides the spread width: CPU-
    # LIGHT map sides (one hash per token, e.g. lm_bigram) should pass
    # min(_text_width, cores) — full-core width just multiplies task
    # launches across every inheriting stage (r10 A/B: lm_bigram
    # 1.69 s at 32 vs 1.12 s at 9, while shingle-heavy tfidf prefers
    # full cores, 1.86 s vs 2.0 s).
    d = load_tables(spark, sf_dir)["documents"]
    if spread:
        n = width or max(d.sparkSession.sparkContext.defaultParallelism, 8)
        d = d.repartition(n)
    return d


#: keyed-exchange sizing for the derived text pipelines (postings,
#: pair aggregates): target this much SOURCE parquet per reduce task.
#: Derivation (r10, measured): at sf0.1 (594 KB documents.parquet →
#: ~259k postings → 1.25M candidate pairs) the interleaved best-of-5
#: scan over pinned widths at local[32] gave pin8 1.88 s < pin16
#: 2.05 s < pin32 2.70 s < AQE-natural 5.40 s — these stages are
#: CPU-heavy but byte-light, so ~150-300k pair rows per task is the
#: sweet spot and full-core width just multiplies per-task scheduling
#: overhead (the same rows/task target the adamic pair exchange
#: already sits at with its full-width pin: ~9M pairs / 32). 64 KB of
#: source per task reproduces that optimum and SCALES WITH THE DATA:
#: sf1 (~6 MB) → ~93 tasks, a 100 TB corpus → capped at 4× the
#: cluster's parallelism (AQE coalescing still applies there; the cap
#: only stops the derived width from exploding past useful).
TEXT_BYTES_PER_TASK = 64 << 10


def _text_width(spark, sf_dir) -> int:
    """Reduce-side width for the text pipelines' keyed exchanges:
    derived from the documents source size (guide §2: make
    partitioning scale-adaptive — derive from input size — rather
    than a constant tuned for either local mode or the cluster)."""
    import os as _os

    try:
        path = _os.path.join(sf_dir, "documents.parquet")
        nbytes = _os.stat(path).st_size
    except OSError:
        nbytes = 0
    par = spark.sparkContext.defaultParallelism
    return max(8, min(nbytes // TEXT_BYTES_PER_TASK, 4 * par))


# ---------------------------------------------------------------- queries


def text_stats(spark, sf_dir):
    """Token/char counts + avg token length (operators/text.py,
    JVM-only column expressions)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.char_count(F.col("text")).alias("n_chars2"),
        T.avg_token_len(F.col("text")).alias("avg_tok_len"),
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
    ).orderBy("doc_id")


TEXT_STATS_SQL = f"""
SELECT doc_id,
  CAST(len({_TOKS.format(x='text')}) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars2,
  ROUND(CAST(list_reduce(list_transform({_TOKS.format(x='text')},
        t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
        / len({_TOKS.format(x='text')}), 6) AS avg_tok_len,
  ROUND(CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 6) AS punct_ratio
FROM documents ORDER BY doc_id
"""


def lang_id_eval(spark, sf_dir):
    """Stopword-coverage language ID vs the labeled lang column:
    per (label, prediction) confusion counts."""
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", T.lang_id(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred")
    )


def _lang_score_sql(lang: str) -> str:
    words = T.LANG_STOPWORDS[lang]
    toks = _TOKS.format(x="lower(text)")
    hits = " + ".join(
        f"(CASE WHEN list_contains({toks}, '{w}') THEN 1 ELSE 0 END)" for w in words
    )
    return f"ROUND(CAST(({hits}) AS DOUBLE) / {len(words)}, 6)"


def _lang_pred_sql() -> str:
    langs = sorted(T.LANG_STOPWORDS)
    scores = {lang: _lang_score_sql(lang) for lang in langs}
    m = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {scores[lang]} = {m} THEN '{lang}'" for lang in langs
    )
    return f"CASE {cases} END"


LANG_ID_SQL = f"""
SELECT lang, {_lang_pred_sql()} AS pred, CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY 1, 2 ORDER BY lang, pred
"""


def doc_fingerprint(spark, sf_dir):
    """Normalized-text fingerprints (rolling-hash-class dedup key)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


FINGERPRINT_SQL = f"""
SELECT doc_id, {_H64.format(x=_NORM.format(x='text'))} AS fp
FROM documents ORDER BY doc_id
"""


def dedup_exact(spark, sf_dir):
    """Exact dedup groups: keeper id + group size per fingerprint."""
    d = _docs(spark, sf_dir)
    return dedup.exact_dedup(d).orderBy("fp")


DEDUP_EXACT_SQL = f"""
SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM (SELECT doc_id, {_H64.format(x=_NORM.format(x='text'))} AS fp FROM documents)
GROUP BY fp ORDER BY fp
"""


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2 — the driver
    corpus is word salad over a shared vocabulary, so high-jaccard
    pairs are rare; 0.2 exercises the full join+ratio path)."""
    d = _docs(spark, sf_dir, spread=True)
    return dedup.ngram_jaccard_pairs(d, threshold=0.2).orderBy("doc_a", "doc_b")


DEDUP_NGRAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES.format(x='text')}) AS shingle FROM documents
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
  ROUND(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) >= 0.2
ORDER BY doc_a, doc_b
"""


_SIG_CACHE: dict = {}


def _signatures(spark, sf_dir):
    """Memoized per-doc MinHash signature table (the sketch store):
    a real pipeline computes signatures ONCE and reuses them across
    every dedup job over the same corpus — the graph-session analogue
    for documents. Materialized via localCheckpoint; keyed per
    SparkContext so a fresh session recomputes."""
    key = (id(spark.sparkContext), sf_dir)
    if key not in _SIG_CACHE:
        d = _docs(spark, sf_dir, spread=True)
        sig = dedup.minhash_signatures(d).localCheckpoint(eager=False)
        from graphdb_spark.operators.traversal import _rightsize

        _SIG_CACHE[key] = _rightsize(sig, sig.count())
    return _SIG_CACHE[key]


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash LSH candidate pairs (16 hashes, 4 bands × 4 rows)."""
    d = _docs(spark, sf_dir, spread=True)
    return dedup.minhash_lsh_candidates(
        d, sig=_signatures(spark, sf_dir)
    ).orderBy("doc_a", "doc_b")


def _minhash_sql() -> str:
    h = _H64.format(x="shingle")
    mins = ",\n    ".join(
        f"CAST(MIN(({a} * {h} + {b}) % {T.MERSENNE}) AS BIGINT) AS mh{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PERMS)
    )
    n = len(dedup.MINHASH_PERMS)
    band_keys = ",\n    ".join(
        "concat_ws('_', {})".format(
            ", ".join(
                [str(bi)]
                + [f"mh{bi * dedup.ROWS_PER_BAND + r}" for r in range(dedup.ROWS_PER_BAND)]
            )
        )
        + f" AS band{bi}"
        for bi in range(dedup.N_BANDS)
    )
    band_joins = "\nUNION ALL\n".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a "
        f"JOIN bands b ON a.band{bi} = b.band{bi} AND a.doc_id < b.doc_id"
        for bi in range(dedup.N_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES.format(x='text')}) AS shingle FROM documents
), sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT *,
    {band_keys}
  FROM sig
), cand AS (
  SELECT DISTINCT doc_a, doc_b FROM ({band_joins})
)
SELECT doc_a, doc_b,
  ROUND(CAST(({matches}) AS DOUBLE) / {n}.0, 6) AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
ORDER BY doc_a, doc_b
"""


def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH pairs -> connected
    components (min-id fixpoint) -> per-cluster canonical + size. The
    full training-pipeline dedup step (pick one representative per
    duplicate group), oracle-checked against a recursive-CTE closure
    over the same deterministic signatures."""
    d = _docs(spark, sf_dir, spread=True)
    labels = dedup.near_dup_clusters(
        d, min_est=0.25, sig=_signatures(spark, sf_dir)
    )
    return (
        labels.groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), F.asc("canonical"))
        .limit(20)
    )


def _cluster_sql(min_est: float = 0.25) -> str:
    """Recursive-closure twin of near_dup_clusters: every doc's
    canonical = MIN over its transitive candidate neighborhood."""
    base = _minhash_sql().rsplit("SELECT doc_a", 1)[0]  # WITH sh/sig/bands/cand
    h = _H64.format(x="shingle")
    n = len(dedup.MINHASH_PERMS)
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return f"""
{base.rstrip()}, pairs AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(({matches}) AS DOUBLE) / {n}.0, 6) >= {min_est}
), sym AS (
  SELECT doc_a AS id, doc_b AS nbr FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach AS (
  WITH RECURSIVE r(id, x) AS (
    SELECT id, id FROM (SELECT DISTINCT id FROM sym)
    UNION
    SELECT s.id, r.x FROM sym s JOIN r ON s.nbr = r.id
  ) SELECT id, x FROM r
), labels AS (
  SELECT id, MIN(x) AS canonical FROM reach GROUP BY id
)
SELECT canonical, CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM labels GROUP BY canonical
ORDER BY cluster_size DESC, canonical ASC LIMIT 20
"""


def sample_mix(spark, sf_dir):
    """Deterministic hash-based stratified sampling — the data-mixing
    step of a training pipeline: per-language keep-rates applied via
    h64(doc_id) % 100 < rate (no RNG, fully replayable; at scale this
    is a pure filter, no shuffle). Reports kept/total per language."""
    d = _docs(spark, sf_dir)
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "de", 50)
        .otherwise(20)
    )
    keep = (T.h64(F.col("doc_id").cast("string")) % 100) < rate
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(keep.cast("long")).alias("kept"),
        )
        .orderBy("lang")
    )


SAMPLE_MIX_SQL = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS total,
  CAST(SUM(CASE WHEN {_H64.format(x="CAST(doc_id AS VARCHAR)")} % 100 <
    (CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50 ELSE 20 END)
    THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM documents GROUP BY lang ORDER BY lang
"""


def dedup_simhash(spark, sf_dir):
    """Per-doc 32-bit SimHash signatures."""
    d = _docs(spark, sf_dir, spread=True)
    return dedup.simhash(d).orderBy("doc_id")


SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS.format(x='lower(text)')}) AS tok FROM documents
), bits AS (
  SELECT doc_id, {_H64.format(x='tok')} AS h, unnest(range(0, 32)) AS j
  FROM tok
), sums AS (
  SELECT doc_id, j,
    SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, j
)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS simhash
FROM sums GROUP BY doc_id ORDER BY doc_id
"""


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within hamming distance 8 (banded
    candidate generation + exact bit_count(xor) check)."""
    d = _docs(spark, sf_dir, spread=True)
    return dedup.simhash_near_pairs(d, max_hamming=8).orderBy("doc_a", "doc_b")


SIMHASH_PAIRS_SQL = f"""
WITH sig AS (
{SIMHASH_SQL.replace("ORDER BY doc_id", "")}
), banded AS (
  SELECT doc_id, simhash,
    (simhash >> 0) & 255 AS sb0, (simhash >> 8) & 255 AS sb1,
    (simhash >> 16) & 255 AS sb2, (simhash >> 24) & 255 AS sb3
  FROM sig
), cand AS (
  SELECT DISTINCT doc_a, doc_b, sh_a, sh_b FROM (
    SELECT a.doc_id doc_a, b.doc_id doc_b, a.simhash sh_a, b.simhash sh_b
      FROM banded a JOIN banded b ON a.sb0 = b.sb0 AND a.doc_id < b.doc_id
    UNION ALL
    SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM banded a JOIN banded b ON a.sb1 = b.sb1 AND a.doc_id < b.doc_id
    UNION ALL
    SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM banded a JOIN banded b ON a.sb2 = b.sb2 AND a.doc_id < b.doc_id
    UNION ALL
    SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM banded a JOIN banded b ON a.sb3 = b.sb3 AND a.doc_id < b.doc_id
  )
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 8
ORDER BY doc_a, doc_b
"""


def text_bpe_tokens(spark, sf_dir):
    """BPE-style pre-tokenization counts vs whitespace counts — the
    LLM-token budgeting operator."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("ws_tokens"),
        T.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


TEXT_BPE_SQL = f"""
SELECT doc_id,
  CAST(len({_TOKS.format(x='text')}) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS BIGINT) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def top_ngrams(spark, sf_dir):
    """Corpus-wide heavy hitters: top 20 2-grams by frequency — the
    exact groupBy+TakeOrdered plan (partial aggregation map-side, then
    a 20-row ordered take; at 100 TB the shuffle carries only the
    per-partition partial counts of surviving grams)."""
    d = _docs(spark, sf_dir, spread=True)
    # tokens materialized before the gram lambda (the engine-wide
    # capture rule: an inline tokenizer re-runs per gram position)
    grams = (
        d.filter(T.token_count(F.col("text")) >= 2)
        .select(T.tokens(F.lower(F.col("text"))).alias("__toks"))
        .select(F.explode(
            T.shingles_from_tokens(F.col("__toks"), 2, distinct=False)
        ).alias("gram"))
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(20)
    )


_TOKS_LOWER = _TOKS.format(x="lower(text)")
TOP_NGRAMS_SQL = f"""
WITH g AS (
  SELECT unnest(list_transform(range(1, len({_TOKS_LOWER})),
                i -> array_to_string(list_slice({_TOKS_LOWER}, i, i + 1), ' ')))
         AS gram
  FROM documents WHERE len({_TOKS_LOWER}) >= 2
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20
"""


def dedup_lev_verified(spark, sf_dir):
    """Candidate-generate -> exact-verify near-dup (dedup.edit_verified
    _pairs): shingle-Jaccard >= 0.1 proposes pairs (recall stage), exact
    Levenshtein similarity >= 0.95 confirms them (precision stage; the
    corpus has 0.94-sim decoys the verifier must drop)."""
    d = _docs(spark, sf_dir, spread=True)
    cand = dedup.ngram_jaccard_pairs(d, threshold=0.1)
    return dedup.edit_verified_pairs(d, cand, min_sim=0.95).orderBy(
        "doc_a", "doc_b"
    )


DEDUP_LEV_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES.format(x='text')}) AS shingle FROM documents
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cand AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) >= 0.1
)
SELECT doc_a, doc_b,
  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
  ROUND(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        / greatest(length(da.text), length(db.text), 1), 6) AS edit_sim
FROM cand
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
WHERE ROUND(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
      / greatest(length(da.text), length(db.text), 1), 6) >= 0.95
ORDER BY doc_a, doc_b
"""


SUBSTR_K = 40
SUBSTR_STRIDE = 7


def dedup_substring_spans(spark, sf_dir):
    """Cross-doc exact-substring duplication (dedup.substring_dup_stats
    — the Lee et al. span-dedup signal): per doc, rolling SUBSTR_K-char
    window hashes at SUBSTR_STRIDE; windows whose hash appears in >= 2
    distinct docs count as duplicated; report counts + ratio. Stride
    keeps the explode 7x smaller than char-granular — the knob a
    100 TB pipeline turns."""
    d = _docs(spark, sf_dir, spread=True)
    return dedup.substring_dup_stats(
        d, k=SUBSTR_K, stride=SUBSTR_STRIDE
    ).orderBy("doc_id")


DEDUP_SUBSTR_SQL = f"""
WITH wins AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(substr(text, i, {SUBSTR_K})), 1, 8))
              AS BIGINT) AS h
  FROM documents,
       unnest(range(1, greatest(length(text) - {SUBSTR_K} + 1, 0) + 1,
                    {SUBSTR_STRIDE})) AS t(i)
  WHERE length(text) >= {SUBSTR_K}
), cross_doc AS (
  SELECT h FROM (
    SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM wins GROUP BY h
  ) WHERE n_docs >= 2
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_windows,
  CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_windows,
  ROUND(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END)
        / CAST(GREATEST(COUNT(*), 1) AS DOUBLE), 6) AS dup_ratio
FROM wins w LEFT JOIN (SELECT DISTINCT h FROM cross_doc) c USING (h)
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = {
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "dedup_substring_spans": (dedup_substring_spans, DEDUP_SUBSTR_SQL),
    "text_bpe_tokens": (text_bpe_tokens, TEXT_BPE_SQL),
    "lang_id_eval": (lang_id_eval, LANG_ID_SQL),
    "doc_fingerprint": (doc_fingerprint, FINGERPRINT_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _minhash_sql()),
    "dedup_cluster_canonical": (dedup_cluster_canonical, _cluster_sql()),
    "sample_mix": (sample_mix, SAMPLE_MIX_SQL),
    "dedup_simhash": (dedup_simhash, SIMHASH_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
    "dedup_lev_verified": (dedup_lev_verified, DEDUP_LEV_SQL),
    "top_ngrams": (top_ngrams, TOP_NGRAMS_SQL),
}


# ---- BM25 keyword ranking ------------------------------------------------

# query terms chosen for idf contrast in the synthetic vocab: three
# common terms (~78% df) + one rare ("dup", ~5% df)
BM25_TERMS = ("spark", "window", "merge", "dup")


def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for a 4-term keyword query (operators/text
    bm25_* primitives). No inverted index and no explode: per-doc term
    frequencies are higher-order array filters (map-side, codegen), the
    corpus stats (N, avgdl, per-term df) are ONE tiny aggregate
    broadcast back, and the only other shuffle is the final 20-row
    TakeOrdered. At 100 TB: one scan + a scalar-stats broadcast.

    Tokens are materialized in their own projection (one split() per
    row, not 5 — dl plus four term_freq filters each re-evaluate a
    captured tokenizer), and the tf table is lazily checkpointed so
    the stats branch and the scoring branch share ONE tokenize pass
    instead of recomputing the scan per branch (A/B at sf1:
    5.1 s -> 1.5 s, now ahead of the DuckDB twin's 2.8 s)."""
    d = _docs(spark, sf_dir)
    toks = F.col("__toks")
    nt = len(BM25_TERMS)
    base = (
        d.select("doc_id", T.tokens(F.lower(F.col("text"))).alias("__toks"))
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("dl"),
            *[T.term_freq(toks, t).alias(f"tf_{i}")
              for i, t in enumerate(BM25_TERMS)],
        )
        .localCheckpoint(eager=False)
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        # explicit exact-int sum / count (not avg()) so both engines
        # divide the same two exact numbers
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
          for i in range(nt)],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(nt):
        c = T.bm25_idf(F.col("n_docs"), F.col(f"df_{i}")) * T.bm25_weight(
            F.col(f"tf_{i}"), F.col("dl"), F.col("avgdl")
        )
        score = c if score is None else score + c
    n_hit = None
    for i in range(nt):
        h = (F.col(f"tf_{i}") > 0).cast("bigint")
        n_hit = h if n_hit is None else n_hit + h
    return (
        scored.select(
            "doc_id",
            n_hit.alias("n_hit_terms"),
            F.round(score, 6).alias("bm25"),
        )
        .filter(F.col("n_hit_terms") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def _bm25_sql(k1: float = T.BM25_K1, b: float = T.BM25_B) -> str:
    """DuckDB twin generated from the SAME constants/terms so the two
    sides cannot drift."""
    toks = _TOKS.format(x="lower(text)")
    tf_cols = ",\n    ".join(
        f"CAST(len(list_filter(toks, t -> t = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n    ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    contribs = " + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} * "
        f"CAST(dl AS DOUBLE) / avgdl))"
        for i in range(len(BM25_TERMS))
    )
    hits = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
    {tf_cols}
  FROM (SELECT doc_id, {toks} AS toks FROM documents)
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
    {df_cols}
  FROM base
)
SELECT doc_id, n_hit_terms, bm25 FROM (
  SELECT doc_id, CAST({hits} AS BIGINT) AS n_hit_terms,
    ROUND({contribs}, 6) AS bm25
  FROM base, stats)
WHERE n_hit_terms > 0
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


QUERIES["text_bm25_topk"] = (text_bm25_topk, _bm25_sql())


# ------------------------------------------- tf-idf cosine similarity

TFIDF_DF_MIN = 2   # term must appear in >= 2 docs (else no pair)
TFIDF_DF_MAX = 20  # posting-list cap: high-df terms are stopword-like
TFIDF_TOPK = 50


def tfidf_cosine_pairs(spark, sf_dir):
    """Sparse tf-idf cosine similarity between documents over 3-word
    shingle terms, via a df-capped inverted index: tf per (doc, term),
    idf = ln((N+1)/(df+1)), pairs meet ONLY through the posting-list
    equi-join on terms with TFIDF_DF_MIN <= df <= TFIDF_DF_MAX, cos =
    dot / (|a||b|), top-50 pairs. The third similarity family next to
    set-based MinHash/Jaccard and dense embedding cosine.

    Scale shape: every shuffle is keyed (doc,term) / term / doc /
    pair — never all-pairs; the per-term fan-out is bounded by
    DF_MAX^2/2 pairs (posting-list pruning — the high-df terms it
    drops are exactly the ones idf sends to ~0). Three measured
    levers (A/B at sf1, 34.6 s -> ~9 s total):
    - tokens materialized in their own projection before the shingle
      lambda (shingles_from_tokens: inline split re-runs per position,
      4.5 s -> 0.6 s through the explode);
    - terms hashed to 64-bit longs (native xxhash64) right after the
      explode, so every keyed stage shuffles 8-byte keys instead of
      ~25-byte shingle strings (pair stage -22%). The hash is
      semantically a no-op: any injective-on-the-data mapping yields
      the IDENTICAL pair set, and at sf1 volume the 64-bit collision
      probability is ~1e-7 — so the oracle twin deliberately keys on
      the RAW strings, an independent formulation that would surface
      a collision as a value diff instead of baking the same hash
      into both sides;
    - every aggregate/join exchange pinned to a width derived from
      the SOURCE SIZE (_text_width, r10 — was full core count: these
      stages are CPU-heavy but byte-light, so AQE's size-based
      coalescing would run them on 1-6 tasks, measured 2x end-to-end
      worse, while the full-core pin pays ~32 task launches per stage
      for 40k-row tasks, measured pin32 2.70 s vs pin8 1.88 s at
      sf0.1/local[32]). The one posting exchange (repartition by h)
      is REUSED by the df count, both self-join sides, and the norm
      branch.
    Dots and norms sum per-term products rounded to decimal(18,6), so
    scores are partition-order independent; ln() is bit-identical
    cross-engine on the same doubles (bm25/dsir trick)."""
    # r11: the tf pipeline filters doc_id IS NOT NULL *explicitly*.
    # Semantically a no-op on this data model (doc_id is the table
    # key; the final inner joins on doc_id already drop null docs) —
    # but the pair-join side used to carry an INFERRED
    # isnotnull(doc_id) pushed into its scan while the df-count
    # branch, built from the same tfh object, did not, so the two
    # subtrees were no longer identical and ReusedExchange could not
    # fire: the r10 plan shows the full scan→tokenize→shingle→tf
    # pipeline (3 exchanges + the CPU-heavy Generate) executing TWICE
    # (plans/r10/tfidf_cosine_pairs_after.txt nodes 15-29). With the
    # filter explicit on the shared pipeline both consumers see the
    # same subtree and the df branch collapses to a ReusedExchange
    # (guide §1.2: don't compute things twice; §2.4 share exchanges).
    d = _docs(spark, sf_dir, spread=True).filter(
        F.col("doc_id").isNotNull()
    )
    # r10: keyed-exchange width derived from the source size instead
    # of the core count (see _text_width) — at local[32]/sf0.1 the
    # full-core pin ran the byte-light keyed stages on 40k-row tasks
    # where per-task scheduling dominates (pin32 2.70 s vs pin8
    # 1.88 s, interleaved best-of-5; the map-side spread keeps full
    # cores for tokenize/shingle CPU). AQE-natural stays out (5.40 s:
    # size-based coalescing runs these CPU-heavy exchanges on 1 task).
    n_part = _text_width(spark, sf_dir)
    # N stays IN the plan (1-row broadcast crossJoin) — a driver-side
    # d.count() here cost a whole extra job before the query's own
    # action (same trick as pagerank's in-plan renormalization).
    # r11: computed from the UNSPREAD source — the count only needs
    # row counts, and hanging it off the spread frame paid a full
    # row shuffle (Exchange(33) in the r10 plan) for a COUNT(*).
    n_row = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("__n"))
    tf = (
        d.select("doc_id", T.tokens(F.lower(F.col("text"))).alias("__toks"))
        .select(
            "doc_id",
            F.explode(
                T.shingles_from_tokens(F.col("__toks"), distinct=False)
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64(F.col("s")).alias("h"))
        .repartition(n_part, "doc_id", "h")
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    # the ONE posting exchange — reused by df count, both pair-join
    # sides, and the norm branch
    tfh = tf.repartition(n_part, "h")
    df_tab = (
        tfh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(TFIDF_DF_MIN, TFIDF_DF_MAX))
        .crossJoin(F.broadcast(n_row))
        .select(
            "h",
            F.log((F.col("__n") + 1).cast("double")
                  / (F.col("df") + 1).cast("double")).alias("idf"),
        )
    )
    # df_tab scales with the capped-df vocabulary (not the corpus):
    # ~270k 16-byte rows at sf1 — broadcastable at any bench SF; on a
    # 100 TB corpus flip to the shuffle join by dropping the hint
    post = tfh.join(F.broadcast(df_tab), "h").select(
        "h", "doc_id", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = (
        post.repartition(n_part, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w"), 6)
                      .cast("decimal(18,6)")).cast("double")
            ).alias("nrm")
        )
    )
    # shuffle-hash, not sort-merge: both sides are the SAME pinned
    # exchange (ReusedExchange), so the join adds no shuffle at all —
    # the hint only skips the sort. DF_MAX bounds the per-term probe.
    a, b = post.alias("a"), post.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(F.col("a.w") * F.col("b.w"), 6)
            .cast("decimal(18,6)").alias("ww"),
        )
        # pairs are mostly unique, so partial aggregation barely
        # shrinks this exchange while AQE would coalesce the final
        # agg to a handful of tasks — pin it raw at full width
        .repartition(n_part, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum("ww").cast("double").alias("dot"),
        )
    )
    # norms scale with |docs| (one 16-byte row per doc, ~10 MB at sf1;
    # ~100 MB at sf100) — same caveat as df_tab above: broadcast is
    # right at any bench SF, and on a 100 TB corpus this hint is the
    # ONE line to drop (pairs and norms then meet in a shuffle join on
    # doc id; the count job an informed _maybe_broadcast needs would
    # cost more here than the hint it guards, because norms' lineage
    # is the whole posting exchange)
    na = F.broadcast(norms.select(F.col("doc_id").alias("doc_a"),
                                  F.col("nrm").alias("na")))
    nb = F.broadcast(norms.select(F.col("doc_id").alias("doc_b"),
                                  F.col("nrm").alias("nb")))
    return (
        pairs.join(na, "doc_a").join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_a", "doc_b")
        .limit(TFIDF_TOPK)
    )


def _tfidf_sql() -> str:
    toks = _TOKS.format(x="lower(text)")
    sh_all = (
        "list_transform(range(1, greatest(len(t) - 3, 0) + 2), "
        "i -> array_to_string(t[i:i+2], ' '))"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({sh_all}) AS s
  FROM (SELECT doc_id, {toks} AS t FROM documents WHERE doc_id IS NOT NULL)
), tf AS (
  SELECT doc_id, s, CAST(COUNT(*) AS BIGINT) AS tf
  FROM sh GROUP BY doc_id, s
), dfq AS (
  SELECT s,
    ln(CAST((SELECT COUNT(*) FROM documents) + 1 AS DOUBLE)
       / CAST(COUNT(*) + 1 AS DOUBLE)) AS idf
  FROM tf GROUP BY s
  HAVING COUNT(*) BETWEEN {TFIDF_DF_MIN} AND {TFIDF_DF_MAX}
), post AS (
  SELECT tf.s, doc_id, tf * idf AS w FROM tf JOIN dfq ON tf.s = dfq.s
), norms AS (
  SELECT doc_id,
    sqrt(CAST(SUM(CAST(ROUND(w * w, 6) AS DECIMAL(18,6))) AS DOUBLE))
      AS nrm
  FROM post GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(COUNT(*) AS BIGINT) AS n_shared,
    CAST(SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(18,6))) AS DOUBLE)
      AS dot
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared,
  ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
FROM pairs
JOIN norms na ON pairs.doc_a = na.doc_id
JOIN norms nb ON pairs.doc_b = nb.doc_id
ORDER BY cos_sim DESC, doc_a, doc_b LIMIT {TFIDF_TOPK}
"""


QUERIES["tfidf_cosine_pairs"] = (tfidf_cosine_pairs, _tfidf_sql())


# --------------------------------------- incremental dedup vs store

NEW_MOD, NEW_REM = 10, 7  # doc_id % 10 == 7 -> the arriving batch


def dedup_incremental(spark, sf_dir):
    """Incremental dedup of an arriving batch against the existing
    corpus's persisted sketch store (operators/dedup.
    incremental_lsh_matches): every 10th doc plays the daily
    increment; the other 90% are the corpus whose signatures a real
    pipeline computed once. Per new doc: collision count against the
    store, best-matching corpus doc, estimated similarity — 0-match
    rows are clean-to-ingest."""
    from graphdb_spark.operators.dedup import (
        incremental_lsh_matches,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    corpus_sig = minhash_signatures(
        docs.filter(F.col("doc_id") % NEW_MOD != NEW_REM)
    ).localCheckpoint(eager=False)
    new_sig = minhash_signatures(
        docs.filter(F.col("doc_id") % NEW_MOD == NEW_REM)
    ).localCheckpoint(eager=False)
    return incremental_lsh_matches(corpus_sig, new_sig).orderBy("new_id")


def _incremental_sql() -> str:
    h = _H64.format(x="shingle")
    mins = ",\n    ".join(
        f"CAST(MIN(({a} * {h} + {b}) % {T.MERSENNE}) AS BIGINT) AS mh{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PERMS)
    )
    n = len(dedup.MINHASH_PERMS)
    band_keys = ",\n    ".join(
        "concat_ws('_', {})".format(
            ", ".join(
                [str(bi)]
                + [f"mh{bi * dedup.ROWS_PER_BAND + r}"
                   for r in range(dedup.ROWS_PER_BAND)]
            )
        )
        + f" AS band{bi}"
        for bi in range(dedup.N_BANDS)
    )
    band_joins = "\nUNION ALL\n".join(
        f"SELECT n.doc_id AS new_id, c.doc_id AS corpus_id "
        f"FROM bands_n n JOIN bands_c c ON n.band{bi} = c.band{bi}"
        for bi in range(dedup.N_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES.format(x='text')}) AS shingle
  FROM documents
), sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
), sig_n AS (
  SELECT * FROM sig WHERE doc_id % {NEW_MOD} = {NEW_REM}
), sig_c AS (
  SELECT * FROM sig WHERE doc_id % {NEW_MOD} <> {NEW_REM}
), bands_n AS (
  SELECT *,
    {band_keys}
  FROM sig_n
), bands_c AS (
  SELECT *,
    {band_keys}
  FROM sig_c
), cand AS (
  SELECT DISTINCT new_id, corpus_id FROM ({band_joins})
), scored AS (
  SELECT new_id, corpus_id,
    ROUND(CAST(({matches}) AS DOUBLE) / {n}.0, 6) AS est
  FROM cand
  JOIN sig sa ON sa.doc_id = new_id
  JOIN sig sb ON sb.doc_id = corpus_id
), best AS (
  SELECT new_id, corpus_id AS best_match, est AS best_est,
    row_number() OVER (PARTITION BY new_id
                       ORDER BY est DESC, corpus_id ASC) AS rn
  FROM scored
), counts AS (
  SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_matches
  FROM scored GROUP BY new_id
)
SELECT s.doc_id AS new_id,
  CAST(COALESCE(counts.n_matches, 0) AS BIGINT) AS n_matches,
  best.best_match, best.best_est
FROM sig_n s
LEFT JOIN counts ON counts.new_id = s.doc_id
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON best.new_id = s.doc_id
ORDER BY new_id
"""


QUERIES["dedup_incremental"] = (dedup_incremental, _incremental_sql())


# ------------------------------------------------ dedup funnel report

def dedup_funnel(spark, sf_dir):
    """End-to-end dedup funnel (the curation counterpart of
    filter_funnel for DUPLICATION): per stage, surviving docs + token
    mass — input -> exact-dedup keepers (min id per normalized
    fingerprint) -> near-dup canonicals (keepers that are also their
    LSH cluster's canonical). The single report a pipeline owner reads
    after each ingest to see how much the corpus actually shrank.

    Scale: one fingerprint window + the near_dup_clusters labels the
    cluster-canonical query already computes; the three stage rows are
    conditional sums of ONE pass over the enriched doc table."""
    from graphdb_spark.operators import dedup as D

    d = _docs(spark, sf_dir, spread=True)
    from pyspark.sql import Window

    base = d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("bigint").alias("n_toks"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp")
    labels = D.near_dup_clusters(
        d, min_est=0.25, sig=_signatures(spark, sf_dir)
    ).select("doc_id", "canonical")
    enriched = (
        base.withColumn(
            "is_exact", F.col("doc_id") == F.min("doc_id").over(w)
        )
        .join(labels, "doc_id", "left")
        .withColumn("canon", F.coalesce("canonical", F.col("doc_id")))
        .withColumn(
            "is_canon",
            F.col("is_exact") & (F.col("canon") == F.col("doc_id")),
        )
    )
    mom = enriched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("n_toks").cast("bigint").alias("t0"),
        F.sum(F.col("is_exact").cast("long")).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("is_exact"), F.col("n_toks")).otherwise(0))
        .cast("bigint").alias("t1"),
        F.sum(F.col("is_canon").cast("long")).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("is_canon"), F.col("n_toks")).otherwise(0))
        .cast("bigint").alias("t2"),
    )
    stages = None
    for tag, nc, tc in (("1_input", "n0", "t0"),
                        ("2_exact", "n1", "t1"),
                        ("3_neardup", "n2", "t2")):
        row = mom.select(
            F.lit(tag).alias("stage"),
            F.col(nc).alias("n_docs"),
            F.col(tc).alias("n_tokens"),
        )
        stages = row if stages is None else stages.unionByName(row)
    return stages.orderBy("stage")


def _dedup_funnel_sql() -> str:
    prefix = _cluster_sql().rsplit("SELECT canonical", 1)[0].rstrip()
    assert prefix.endswith(")"), "labels CTE prefix drifted"
    fp = _H64.format(x=_NORM.format(x="text"))
    toks = _TOKS.format(x="text")
    return f"""{prefix}, base AS (
  SELECT doc_id,
    CAST(len({toks}) AS BIGINT) AS n_toks,
    {fp} AS fp
  FROM documents
), enriched AS (
  SELECT b.doc_id, b.n_toks,
    (b.doc_id = MIN(b.doc_id) OVER (PARTITION BY b.fp)) AS is_exact,
    COALESCE(l.canonical, b.doc_id) AS canon
  FROM base b LEFT JOIN labels l ON l.id = b.doc_id
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
    CAST(SUM(n_toks) AS BIGINT) AS t0,
    CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN is_exact THEN n_toks ELSE 0 END) AS BIGINT) AS t1,
    CAST(SUM(CASE WHEN is_exact AND canon = doc_id THEN 1 ELSE 0 END)
      AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN is_exact AND canon = doc_id THEN n_toks ELSE 0 END)
      AS BIGINT) AS t2
  FROM enriched
)
SELECT '1_input' AS stage, n0 AS n_docs, t0 AS n_tokens FROM mom
UNION ALL SELECT '2_exact', n1, t1 FROM mom
UNION ALL SELECT '3_neardup', n2, t2 FROM mom
ORDER BY stage
"""


QUERIES["dedup_funnel"] = (dedup_funnel, _dedup_funnel_sql())
