"""Catalog batch 3: LLM-data-pipeline extensions over documents /
embeddings / events.props (SURVEY §7 stage 8; BASELINE.json
north-star): text analysis, dedup (exact / fingerprint / MinHash-LSH /
SimHash / Jaccard), similarity search, JSON props, multimodal binary
plumbing.

Portability notes: md5 hex digests (strings) are the cross-engine
hash primitive; embedding math is quantized to exact integers
(round(x·1e7)) so dot products are BIGINT-exact in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.operators import dedup as DD
from wq_data_pipeline_spark.operators import text as TX
from wq_data_pipeline_spark.operators.multimodal import decode_media
from wq_data_pipeline_spark.operators.pinning import pin
from wq_data_pipeline_spark.operators.scale import spread_small_scan
from wq_data_pipeline_spark.sources.testdata import load_table

# Shared oracle CTE: whitespace tokens of lowercased text.
# The ONE SQL definition of the tokenizer (whitespace tokens of the
# lowercased text, empties removed) — the mirror of text.tokens().
# Interpolate SQL_TOKS_EXPR wherever an oracle tokenizes outside the
# shared w CTE, so the rule cannot drift between entries.
SQL_TOKS_EXPR = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)
SQL_WORDS = (
    "WITH w AS (SELECT doc_id, lang, source, n_chars, text, "
    f"{SQL_TOKS_EXPR} AS toks "
    "FROM documents)"
)


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish
    pre-tokenizer count, mean token length."""
    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_tok = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        TX.bpe_ish_count("text").alias("n_bpe_ish"),
        F.when(n_tok > 0, total_len.cast("double") / n_tok.cast("double"))
        .otherwise(0.0)
        .alias("mean_tok_len"),
    )


SQL_TOKEN_STATS = f"""{SQL_WORDS}
SELECT doc_id, len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
       CASE WHEN len(toks) > 0
            THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
            ELSE 0.0 END AS mean_tok_len
FROM w"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting in one driver row: stopword/
    punct ratios + composite score (explicit expression tree —
    bit-deterministic) plus the distinct-token and BPE-ish
    pre-tokenizer counts (the token-counting op's remaining
    columns)."""
    d = load_table(spark, sf_dir, "documents")
    d = TX.quality_features(d, "text")
    return d.select(
        "doc_id", "n_tokens", "n_stopwords", "n_punct",
        F.size(F.array_distinct(TX.tokens("text"))).alias("n_distinct"),
        TX.bpe_ish_count("text").alias("n_bpe_ish"),
        "stop_ratio", "punct_ratio", "mean_token_len", "quality_score",
    )


SQL_TEXT_QUALITY = f"""{SQL_WORDS},
f AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
         len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|is|in|it|on|for)\\b')) AS n_stopwords,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         length(text) AS n_chars
  FROM w
),
r AS (
  SELECT doc_id, n_tokens, n_distinct, n_bpe_ish, n_stopwords, n_punct,
         CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              ELSE 0.0 END AS mean_token_len
  FROM f
)
SELECT doc_id, n_tokens, n_stopwords, n_punct, n_distinct, n_bpe_ish,
       stop_ratio, punct_ratio, mean_token_len,
       0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       + 0.3 * stop_ratio
       + 0.3 * (1.0 - least(punct_ratio * 10.0, 1.0)) AS quality_score
FROM r"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker argmax vs the labeled
    lang column; per (lang, predicted) confusion counts."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("predicted", TX.predict_lang("text"))
    return d.groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_LANG_ID = """
WITH s AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\\b(el|la|los|es|y)\\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\\b(le|la|les|est|et)\\b')) AS s_fr,
         len(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
  FROM documents
),
p AS (
  SELECT lang,
         CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
              WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS predicted
  FROM s
)
SELECT lang, predicted, count(*) AS n_docs FROM p GROUP BY lang, predicted"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + fingerprint dedup in one per-doc driver row: md5-of-
    text canonical flag (exact) alongside the order-insensitive
    word-set fingerprint group (near-dup first stage) — each as a
    min/count window over its own hash partitioning (two skinny
    shuffles, no joins)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text")).alias("_h"),
        TX.doc_fingerprint("text").alias("fp"),
    )
    wh = Window.partitionBy("_h")
    wf = Window.partitionBy("fp")
    return d.select(
        "doc_id",
        F.min("doc_id").over(wh).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(wh)).alias("is_duplicate"),
        F.min("doc_id").over(wf).alias("fp_canonical_id"),
        F.count(F.lit(1)).over(wf).alias("fp_group_size"),
        (
            (F.count(F.lit(1)).over(wf) >= 2)
            & (F.col("doc_id") != F.min("doc_id").over(wf))
        ).alias("is_fp_duplicate"),
    )


SQL_EXACT_DEDUP = f"""{SQL_WORDS},
h AS (
  SELECT doc_id, md5(text) AS h,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY h) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_duplicate,
       min(doc_id) OVER (PARTITION BY fp) AS fp_canonical_id,
       count(*) OVER (PARTITION BY fp) AS fp_group_size,
       count(*) OVER (PARTITION BY fp) >= 2
         AND doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_fp_duplicate
FROM h"""


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters by order-insensitive word-set fingerprint
    (doc_fingerprint = md5 of sorted distinct words)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.fingerprint_groups(d, "text", "doc_id", min_size=2)


SQL_FP_DEDUP = f"""{SQL_WORDS},
fp AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
)
SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM fp GROUP BY fp HAVING count(*) >= 2"""


# 3-gram shingles in both dialects
def _shingles_sql(n: int = 3) -> str:
    return (
        "list_transform(generate_series(1, greatest(len(toks) - 2, 0)), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
    )


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents is one small parquet file -> one input split; md5-heavy
    per-row expressions (shingles × seeds) would run serially. Spread
    rows across the local cores first — at real scale the file splits
    make this a no-op, locally it's a 20-40× win on the hash ops."""
    n = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "documents").repartition(n, "doc_id")


# SQL mirror of dedup.shingle_hash + the affine permutations: ONE md5
# per shingle, k integer multiply-add-mods. '0x'-cast and Spark conv()
# agree on the 8-hex-digit value; all constants are int literals.
_MH_HASH_SQL = "('0x' || substr(md5(s), 1, 8))::BIGINT"


def _minhash_min_sql(i: int) -> str:
    a, b = DD.minhash_coeffs(max(i + 1, 1))[i]
    return (
        f"list_min(list_transform(sh, s -> ({a} * {_MH_HASH_SQL} + {b}) % {DD._MH_P}))"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=4 demo; operator default is 32) over word
    3-gram shingles: one 32-bit md5-derived hash per shingle, affine
    permutations per seed — engine-portable min-hash."""
    d = _docs_parallel(spark, sf_dir)
    return DD.minhash_signatures_table(d, "text", "doc_id", num_hashes=4)


SQL_MINHASH = f"""{SQL_WORDS},
sh AS (SELECT doc_id, {_shingles_sql()} AS sh FROM w)
SELECT doc_id,
       {_minhash_min_sql(0)} AS mh0,
       {_minhash_min_sql(1)} AS mh1,
       {_minhash_min_sql(2)} AS mh2,
       {_minhash_min_sql(3)} AS mh3
FROM sh"""


# operator defaults: 32 hashes, 4 rows/band -> 8 bands (recall ~0.985
# at J=0.8; the r1 catalog used k=4 which is recall-thin), hot-bucket
# guard at 100 docs per (band, key) — constants shared with the
# operator so the oracle can never silently desynchronize
_MH_K = 32
_MH_R = 4
_MH_MAXDF = 100


def _minhash_sig_sql(num_hashes: int, rows_per_band: int) -> str:
    """sig CTE: one md5 band key per consecutive group of minhashes —
    the SQL mirror of dedup.lsh_bands over minhash_signatures_table
    (concat_ws('|') of BIGINT minhashes -> md5)."""
    bands = []
    for b0 in range(0, num_hashes, rows_per_band):
        group = " || '|' || ".join(
            f"CAST({_minhash_min_sql(i)} AS VARCHAR)"
            for i in range(b0, min(b0 + rows_per_band, num_hashes))
        )
        bands.append(f"md5({group}) AS band{b0 // rows_per_band}")
    return ",\n         ".join(bands)


def _minhash_pairs_sql(
    num_hashes: int, rows_per_band: int, max_df: int = _MH_MAXDF
) -> str:
    """Unpivoted band rows + the max_df hot-bucket guard + one
    self-join — the SQL mirror of dedup.minhash_lsh_candidates."""
    n_bands = (num_hashes + rows_per_band - 1) // rows_per_band
    unpivot = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM sig"
        for b in range(n_bands)
    )
    return (
        f"sh AS (SELECT doc_id, {_shingles_sql()} AS sh FROM w),\n"
        f"sig AS (\n  SELECT doc_id,\n         {_minhash_sig_sql(num_hashes, rows_per_band)}\n  FROM sh\n),\n"
        f"bands AS (\n  {unpivot}\n),\n"
        f"guard AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) <= {max_df}),\n"
        f"b2 AS (SELECT bands.doc_id, bands.band, bands.key FROM bands JOIN guard USING (band, key)),\n"
        f"pairs AS (\n  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        f"  FROM b2 a JOIN b2 b USING (band, key) WHERE a.doc_id < b.doc_id\n)"
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs at the operator defaults (k=32,
    4 rows/band -> 8 bands) VERIFIED with exact word-set Jaccard —
    the real near-dup pipeline shape (banding turns all-pairs into
    per-bucket joins, then only the candidates pay the exact
    comparison; one driver row checks both ops). Jaccard is an exact
    integer-cardinality division, bit-identical cross-engine."""
    d = _docs_parallel(spark, sf_dir)
    cand = DD.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=_MH_K, rows_per_band=_MH_R, max_df=_MH_MAXDF
    )
    return DD.jaccard_pairs(d, cand, "text", "doc_id")


SQL_MINHASH_LSH = f"""{SQL_WORDS},
{_minhash_pairs_sql(_MH_K, _MH_R)},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT id_a, id_b,
       CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
FROM pairs JOIN ws a ON pairs.id_a = a.doc_id JOIN ws b ON pairs.id_b = b.doc_id"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: MinHash-LSH candidate pairs ->
    connected components (iterative min-label propagation) -> cluster
    assignments. The oracle replays the pairs with a recursive CTE."""
    d = _docs_parallel(spark, sf_dir)
    pairs = DD.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=_MH_K, rows_per_band=_MH_R, max_df=_MH_MAXDF
    )
    nodes = d.select("doc_id")
    comps = DD.connected_components(nodes, pairs, "doc_id", "id_a", "id_b")
    return comps.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


SQL_DEDUP_CLUSTERS = f"""{SQL_WORDS},
{_minhash_pairs_sql(_MH_K, _MH_R)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node
  )
  SELECT node, min(root) AS cluster_id FROM r GROUP BY node
)
SELECT node AS doc_id, cluster_id, node = cluster_id AS is_canonical FROM reach"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct words (md5 hex-digit parity votes).
    Two-select form: the per-word digest profiles fold into vote
    counts ONCE in the inner select, and the outer select only
    assembles bits — one md5 per word instead of one per word per bit
    (the packed-profile rewrite, operators/dedup.py)."""
    d = _docs_parallel(spark, sf_dir)
    pre = d.select(
        "doc_id",
        DD.simhash_vote_counts(DD.word_bit_profiles("text"), 16).alias("_cnt"),
        F.size(DD.distinct_words("text")).alias("_nw"),
    )
    return pre.select(
        "doc_id", DD.simhash_from_counts("_cnt", "_nw", 16).alias("simhash")
    )


def _simhash_sql_bits(bits: int = 16, salt: str = "") -> str:
    w = f"w || '{salt}'" if salt else "w"
    terms = []
    for j in range(bits):
        terms.append(
            f"(CASE WHEN 2 * list_sum(list_transform(ws, w -> "
            f"CASE WHEN substr(md5({w}), {j + 1}, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END)) "
            f"- len(ws) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


SQL_SIMHASH = f"""{SQL_WORDS},
d AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT doc_id, {_simhash_sql_bits(16)} AS simhash FROM d"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (word-set) Jaccard over a bounded candidate set:
    anchors doc_id%5==0 vs the next 25 ids; report pairs >= 0.8."""
    d = load_table(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    # equi-join formulation of the bounded range: explode the offset
    # set so the candidate join is a hash join, not a nested loop
    # (a 'id_b BETWEEN id_a+1 AND id_a+25' predicate plans as
    # BroadcastNestedLoopJoin, which dies at scale)
    a = (
        ids.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            F.explode(F.sequence(F.lit(1), F.lit(25))).alias("_off"),
        )
        .select("id_a", (F.col("id_a") + F.col("_off")).alias("id_b"))
    )
    b = ids.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, on="id_b")  # keeps only existing ids
    j = DD.jaccard_pairs(d, pairs, "text", "doc_id", restrict=False)
    return j.filter(F.col("jaccard") >= 0.8)


SQL_JACCARD = f"""{SQL_WORDS},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
FROM ws a JOIN ws b
  ON a.doc_id % 5 = 0 AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) >= 0.8"""


# --- Similarity search ------------------------------------------------------

_Q = 10_000_000  # quantization scale: round(x*1e7) -> BIGINT-exact dot


def _quantized(vec: str | F.Column) -> F.Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: F.round(x.cast("double") * _Q).cast("long"))


def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (queries =
    vec_id%100==0). Quantized-integer dot products: BIGINT-exact in
    both engines, so ranking ties and cosine values are deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    # single-file corpus -> one scan split; spread the O(corpus x queries)
    # scoring loop across the cluster before the broadcast fan-out
    # (defaultParallelism, NOT a literal core count — a fixed 32 would
    # cap parallelism on a real cluster)
    j = spread_small_scan(emb).crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dotq = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b), F.lit(0).cast("long"), lambda s, x: s + x
    )
    n1 = F.aggregate(F.transform("q", lambda a: a * a), F.lit(0).cast("long"), lambda s, x: s + x)
    n2 = F.aggregate(F.transform("qq", lambda a: a * a), F.lit(0).cast("long"), lambda s, x: s + x)
    cos = dotq.cast("double") / (F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double")))
    scored = j.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_EMBED_TOPK = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS neighbor_id, b.vec_id AS query_id,
         list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS dotq,
         list_sum(list_transform(a.q, x -> x * x)) AS n1,
         list_sum(list_transform(b.q, x -> x * x)) AS n2
  FROM q a JOIN q b ON b.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(dotq AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos_sim
  FROM pairs
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5"""


def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other scale path next to LSH): coarse
    centroids = every 50th vector; assign corpus vectors to nearest
    centroid; probe the query's top-2 buckets; exact top-5 within.
    Quantized-integer cosine keeps it oracle-exact."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    cent = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("q").alias("cq")
    )

    def qcos(a, b):
        dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x)
        n1 = F.aggregate(F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x)
        n2 = F.aggregate(F.transform(b, lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x)
        return dot.cast("double") / (F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double")))

    emb = spread_small_scan(emb)
    # corpus assignment via NARROW partial-aggregable max_by, not a
    # row_number window over the corpus x centroid expansion (the
    # window form shuffled+sorted all n x k scored rows — the shape
    # fix measured on semdedup_trained in BASELINE.md r5); same
    # values and tie rule (cs DESC, centroid_id ASC)
    ids = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            qcos(F.col("q"), F.col("cq")).alias("cs"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("centroid_id"), F.struct(F.col("cs"), -F.col("centroid_id"))
            ).alias("bucket")
        )
    )
    assigned = emb.join(ids, "vec_id").select("vec_id", "q", "bucket")
    # probes: filter to the query subset BEFORE scoring (100x less
    # work); nprobe=2 per query, so the tiny window is fine here
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("centroid_id"))
    probes = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .crossJoin(F.broadcast(cent))
        .withColumn("cs", qcos(F.col("q"), F.col("cq")))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= 2)
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("centroid_id").alias("bucket"))
    )
    cand = assigned.join(F.broadcast(probes), on="bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), qcos(F.col("q"), F.col("qq")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_EMBED_IVF = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
cent AS (SELECT vec_id AS centroid_id, q AS cq FROM q WHERE vec_id % 50 = 0),
scored_c AS (
  SELECT a.vec_id, a.q, c.centroid_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * c.cq[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(c.cq, x -> x * x)) AS DOUBLE))) AS cs
  FROM q a CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, q, centroid_id AS bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, q AS qq, centroid_id AS bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored_c WHERE vec_id % 100 = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * p.qq[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(p.qq, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM assigned a JOIN probes p ON a.bucket = p.bucket AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM cand
) WHERE rank <= 5"""


_ND_BANDS = 8
# 8 bits per band since r6 (was 4): at the deliberately-dense tau=0.45
# the 4-bit bands collided on ~1M candidate pairs at sf0.1 (48 s at the
# 10x replica scale, BASELINE.md r5) — background-pair collision odds
# fall ~2x per added bit (random vectors agree on a plane w.p. 1/2), so
# 8-bit bands cut the candidate quadratic ~16x while true near-dups
# (cos >= 0.9, per-plane agreement ~0.86) still collide at ~0.3/band.
# Recall at the stress tau is deliberately partial — the entry is
# oracle-exact regardless because the oracle replays the same planes.
_ND_PLANES = 8  # bits per band


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family over
    vectors) — the 100-TB banded-LSH plan as the CATALOGED query:
    candidate pairs share at least one of 8 random-hyperplane band
    signatures (md5-derived ±1 planes, seedless), then exact
    quantized-integer cosine >= 0.45 within candidates. No cartesian:
    each band is a shuffle on a small int signature.

    Oracle-exact because the oracle SQL replicates the SAME md5
    hyperplanes (md5 hex is portable across engines), so the candidate
    sets — not just the scores — match bit-for-bit."""
    from wq_data_pipeline_spark.operators.similarity import rp_lsh_signature

    raw = load_table(spark, sf_dir, "embeddings")
    # probe the embedding width once (1-row job) so the hyperplanes
    # are baked in as literals — executors do multiply-adds, no md5
    head = raw.select(F.size("embedding")).head()
    if head is None:  # empty table: contract schema, no dim to probe
        return spark.createDataFrame(
            [], "id_a LONG, id_b LONG, cos_sim DOUBLE"
        )
    dim = head[0]
    emb = raw.select("vec_id", _quantized("embedding").alias("q"))
    # single-file small table would compute all 32 plane dots in one
    # task; spread rows across the cluster first (no-op when the scan
    # already has >= defaultParallelism splits — corpus scale)
    emb = spread_small_scan(emb)
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                rp_lsh_signature(
                    "q", _ND_PLANES, plane_offset=b * _ND_PLANES, dim=dim
                ).alias("sig"),
            )
            for b in range(_ND_BANDS)
        ]
    )
    # At this threshold (0.45, barely above the background cosine
    # distribution) 4-bit bands collide densely: ~1M candidate pairs
    # from 5k vectors at sf0.1. Carrying the vectors + hoisted norms
    # THROUGH the band join (n_bands × corpus rows, ~MBs) and scoring
    # inline is cheaper than shuffling the 1M-pair candidate list
    # into two vector joins; dedup happens AFTER the threshold filter
    # when only the surviving pairs (~100 rows) shuffle. For sparse
    # candidates (high thresholds) the opposite shape wins — shuffle
    # skinny (id, band, sig) and join vectors back per candidate.
    nrm = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x
    )
    # pin the per-vector row (q, norm, 64 plane dots -> 8 sigs) ONCE
    # before the band explode: the explode feeds both sides of the
    # self-join, which stop being exchange-identical under AQE's
    # broadcast conversion — without the cut the whole signature
    # build executes twice (initial-plan audit r12). One row per
    # vector materializes; the explode itself is cheap.
    sig1 = pin(
        emb.withColumn("n", nrm).withColumn("bs_all", band_sigs), eager=False
    )
    d = sig1.select(
        "vec_id", "q", "n", F.explode("bs_all").alias("bs")
    ).select(
        "vec_id", "q", "n", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a = d.select(
        F.col("vec_id").alias("id_a"), F.col("q").alias("qa"), F.col("n").alias("na"),
        "band", "sig",
    )
    b = d.select(
        F.col("vec_id").alias("id_b"), F.col("q").alias("qb"), F.col("n").alias("nb"),
        "band", "sig",
    )
    j = a.join(b, on=["band", "sig"]).filter(F.col("id_a") < F.col("id_b"))
    dotq = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        j.select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.45)
        .dropDuplicates(["id_a", "id_b"])
    )


# Oracle: same md5-derived hyperplanes (parity of the first hex digit
# of md5('<plane>:<dim>') -> ±1, exactly similarity.hyperplane_components),
# same banding, same quantized cosine. Plane dots are BIGINT sums
# (Spark's double fold over |q_i| <= 1e7 longs is exact), so the
# sign — and hence every signature bit — matches bit-for-bit.
# The WITH-prefix (through `dup_pairs`) is shared with the
# embed_dup_clusters oracle in queries_r6b.py.
_EMBED_NEAR_DUP_CTE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
dim AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pl AS (SELECT unnest(generate_series(0, {_ND_BANDS * _ND_PLANES - 1})) AS p),
planes AS (
  SELECT pl.p, dim.i,
         CASE WHEN substr(md5(CAST(pl.p AS VARCHAR) || ':' || CAST(dim.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS h
  FROM pl CROSS JOIN dim
),
dimv AS (
  SELECT vec_id, i, q[i + 1] AS qi
  FROM (SELECT vec_id, q, unnest(generate_series(0, len(q) - 1)) AS i FROM q)
),
pdot AS (
  SELECT v.vec_id, pl2.p, sum(v.qi * pl2.h) AS s
  FROM dimv v JOIN planes pl2 ON v.i = pl2.i
  GROUP BY v.vec_id, pl2.p
),
sigs AS (
  SELECT vec_id, p // {_ND_PLANES} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {_ND_PLANES}) ELSE 0 END) AS BIGINT) AS sig
  FROM pdot GROUP BY vec_id, p // {_ND_PLANES}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS dotq,
         list_sum(list_transform(a.q, x -> x * x)) AS n1,
         list_sum(list_transform(b.q, x -> x * x)) AS n2
  FROM cand c JOIN q a ON a.vec_id = c.id_a JOIN q b ON b.vec_id = c.id_b
),
dup_pairs AS (
  SELECT id_a, id_b,
         CAST(dotq AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos_sim
  FROM pairs
  WHERE CAST(dotq AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) >= 0.45
)"""

SQL_EMBED_NEAR_DUP = f"""{_EMBED_NEAR_DUP_CTE}
SELECT id_a, id_b, cos_sim FROM dup_pairs"""


_ANN_BANDS = 4
_ANN_PLANES = 4


def q_embed_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: banded random-hyperplane LSH bucketing
    (md5-derived ±1 planes, the same portable construction
    embed_near_dup oracles), exact quantized-integer cosine within
    shared buckets, top-5 per query. Fully oracled: integer plane
    dots make every signature bit — hence the candidate set — and
    every cosine bit-identical cross-engine (was rows-only in r2)."""
    from wq_data_pipeline_spark.operators.similarity import rp_lsh_signature

    raw = load_table(spark, sf_dir, "embeddings")
    head = raw.select(F.size("embedding")).head()
    if head is None:  # empty table: contract schema, no dim to probe
        return spark.createDataFrame(
            [],
            "query_id LONG, neighbor_id LONG, cos_sim DOUBLE, rank INT",
        )
    dim = head[0]
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    emb = spread_small_scan(emb)
    nrm = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x
    )
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                rp_lsh_signature(
                    "q", _ANN_PLANES, plane_offset=b * _ANN_PLANES, dim=dim
                ).alias("sig"),
            )
            for b in range(_ANN_BANDS)
        ]
    )
    # pin the per-vector signatures once: the corpus side and the
    # broadcast query side both derive from d, so without the cut the
    # plane-dot build executes twice (same self-join shape as
    # embed_near_dup; initial-plan audit r12)
    sig1 = pin(
        emb.withColumn("n", nrm).withColumn("bs_all", band_sigs), eager=False
    )
    d = sig1.select(
        "vec_id", "q", "n", F.explode("bs_all").alias("bs")
    ).select(
        "vec_id", "q", "n", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    qs = d.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n").alias("qn"),
        "band",
        "sig",
    )
    cand = (
        d.join(F.broadcast(qs), on=["band", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    dotq = F.aggregate(
        F.zip_with("q", "qq", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("n").cast("double")) * F.sqrt(F.col("qn").cast("double"))
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_EMBED_LSH_ANN = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
dim AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pl AS (SELECT unnest(generate_series(0, {_ANN_BANDS * _ANN_PLANES - 1})) AS p),
planes AS (
  SELECT pl.p, dim.i,
         CASE WHEN substr(md5(CAST(pl.p AS VARCHAR) || ':' || CAST(dim.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS h
  FROM pl CROSS JOIN dim
),
dimv AS (
  SELECT vec_id, i, q[i + 1] AS qi
  FROM (SELECT vec_id, q, unnest(generate_series(0, len(q) - 1)) AS i FROM q)
),
pdot AS (
  SELECT v.vec_id, pl2.p, sum(v.qi * pl2.h) AS s
  FROM dimv v JOIN planes pl2 ON v.i = pl2.i
  GROUP BY v.vec_id, pl2.p
),
sigs AS (
  SELECT vec_id, p // {_ANN_PLANES} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {_ANN_PLANES}) ELSE 0 END) AS BIGINT) AS sig
  FROM pdot GROUP BY vec_id, p // {_ANN_PLANES}
),
qs AS (SELECT * FROM sigs WHERE vec_id % 100 = 0),
cand AS (
  SELECT DISTINCT c.vec_id AS neighbor_id, p.vec_id AS query_id
  FROM sigs c JOIN qs p ON c.band = p.band AND c.sig = p.sig AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM cand JOIN q a ON a.vec_id = cand.neighbor_id JOIN q b ON b.vec_id = cand.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5"""


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props extraction (from_json/get_json_object analog) +
    grouped aggregate; avg emitted as exact sum/count division."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    d = ev.select("event_type", k.alias("k"))
    return d.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.count("k").alias("n_k"),
        (F.sum("k").cast("double") / F.count("k").cast("double")).alias("avg_k"),
    )


SQL_PROPS_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
       / CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS avg_k
FROM events GROUP BY event_type"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: encode text as bytes, JVM-side byte
    length + digest (the metadata layer of the multimodal schema)."""
    d = load_table(spark, sf_dir, "documents")
    content = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(content).alias("n_bytes"),
        F.md5(content).alias("digest"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
FROM documents"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing over binary media (SURVEY §7 stage
    8): the full Arrow-batch pipeline — binary column in, magic-byte
    dispatch, DECODED_SCHEMA out. The text payloads are never
    PNG/WAV, so every row takes the deterministic fake-decoder branch
    (md5-byte-derived height/width/luma) — which IS SQL-expressible,
    so this entry is DuckDB-ORACLED (VERDICT r7 #5): the oracle
    re-derives each fake dimension from md5(text) byte arithmetic,
    checking media_id passthrough, Arrow batch integrity, schema, and
    the derivation bit-for-bit. The REAL stdlib PNG/WAV codec branch
    is covered by tests/test_codecs.py round-trips (binary fixtures
    aren't constructible in SQL)."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return decode_media(d, fake=True)


# the fake decoder's derivation, replayed byte-for-byte: digest byte
# i of md5(utf8(text)) == hex pair [2i+1, 2i+2] of DuckDB's md5();
# 1 + b%64 dims, b/255.0 luma are identical integer/IEEE ops
SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS media_id,
       CAST(1 + ('0x' || substr(md5(text), 1, 2))::INT % 64 AS INT) AS height,
       CAST(1 + ('0x' || substr(md5(text), 3, 2))::INT % 64 AS INT) AS width,
       ('0x' || substr(md5(text), 5, 2))::INT / 255.0 AS mean_luma
FROM documents"""


_KM_K = 8
_KM_ITERS = 3
_KM_NPROBE = 2
_KM_TOPK = 5


def q_embed_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED coarse centroids: Lloyd k-means (k=8,
    3 rounds, deterministic md5-seeded init) -> nprobe bucket search.
    The trained-quantizer variant of ``embed_ivf_topk``.

    Oracle-exact by construction: the trainer runs on quantized
    integer-valued vectors (round(x*1e7), |q| <= 5.8e6 here), so every
    accumulation the round-trip depends on is exact — cluster-mean
    numerators are integer-valued double sums < 2^53 (order-free),
    each mean is ONE division of identical operands in both engines,
    and the final search's dots/norms are exact BIGINT folds. The
    only order-sensitive float arithmetic left is the per-row
    assignment dot against normalized float centroids, which both
    engines evaluate as the same left-to-right index-order fold
    (Spark ``aggregate``, DuckDB ``list_reduce``). The DuckDB mirror
    replays the identical 3 Lloyd rounds unrolled
    (:func:`_kmeans_ivf_sql`); recall and objective descent are
    asserted in tests/test_scale.py."""
    from wq_data_pipeline_spark.operators.similarity import ivf_topk, kmeans_centroids
    from wq_data_pipeline_spark.operators.stash import session_stash

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    # trained state is deterministic in (input content, params) and
    # tiny (k rows) -> one build per session (operators/stash.py)
    cent = session_stash(
        spark,
        sf_dir,
        "embeddings",
        ("kmeans", _KM_K, _KM_ITERS, "exact"),
        lambda: kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS, vec_col="q"),
    )
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    out = ivf_topk(emb, qs, cent, k=_KM_TOPK, nprobe=_KM_NPROBE, vec_col="q")
    return out.withColumn("cos_sim", F.round("cos_sim", 6))


def _lr_fold(expr: str) -> str:
    return f"list_reduce({expr}, (acc, x) -> acc + x)"


def _lr_dots(a: str, b: str) -> str:
    # index-order product fold: a may be BIGINT (cast per element)
    return _lr_fold(
        f"list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * {b}[i])"
    )


def _lr_sq(a: str) -> str:
    return _lr_fold(f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def _kmeans_prefix_sql(k_sql: str | None = None) -> str:
    """Shared DuckDB WITH-prefix for the trained-centroid entries:
    quantized corpus (``q``), md5-seeded init, the same ``_KM_ITERS``
    Lloyd rounds unrolled as CTE blocks (normalize -> fold-order
    assignment -> exact integer means -> empty clusters keep their
    previous centroid), ending at ``av`` = every vector's final
    bucket. All list folds use ``list_reduce`` (left-to-right,
    matching Spark's ``aggregate``). Consumed by
    :func:`_kmeans_ivf_sql` (nprobe search tail, fixed k=_KM_K) and
    the ``semdedup_trained`` oracle (within-cluster pairwise tail).

    ``k_sql``: SQL expression for the seed count — defaults to the
    compile-time ``_KM_K``; the k∝n entries pass a scalar subquery
    (``ceil(count(*)/64.0)``) so the oracle's k tracks the engine's
    runtime ``ceil(n/target)`` at ANY scale factor instead of
    silently replaying a different clustering (ADVICE r5)."""
    fold, dots, sq = _lr_fold, _lr_dots, _lr_sq
    if k_sql is None:
        k_sql = str(_KM_K)

    rounds = []
    for r in range(1, _KM_ITERS + 1):
        prev = f"c{r - 1}"
        rounds.append(f"""
cn{r} AS (
  SELECT cid, list_transform(c, x -> CASE WHEN nn > 0 THEN x / nn ELSE 0.0 END) AS cn
  FROM (SELECT cid, c, sqrt({sq('c')}) AS nn FROM {prev})
),
a{r} AS (
  SELECT vec_id, q, cid FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM (SELECT v.vec_id, v.q, c.cid, {dots('v.q', 'c.cn')} AS cs
          FROM q v CROSS JOIN cn{r} c)
  ) WHERE rn = 1
),
m{r} AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, CAST(sum(x) AS DOUBLE) / count(*) AS m
    FROM (SELECT cid, unnest(generate_series(1, len(q))) AS pos, unnest(q) AS x
          FROM a{r})
    GROUP BY cid, pos
  ) GROUP BY cid
),
c{r} AS (
  SELECT p.cid, coalesce(m{r}.c, p.c) AS c FROM {prev} p LEFT JOIN m{r} USING (cid)
)""")
    last = f"c{_KM_ITERS}"
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         list_transform(q, x -> CAST(x AS DOUBLE)) AS c
  FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT ({k_sql})
),{",".join(rounds)},
scored_c AS (
  SELECT v.vec_id, v.q, c.cid,
         {dots('v.q', 'c.c')} / (sqrt({sq('v.q')}) * sqrt({sq('c.c')})) AS cs
  FROM q v CROSS JOIN {last} c
),
av AS (
  SELECT vec_id, q, cid AS bucket FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
)"""


def _kmeans_ivf_sql() -> str:
    """DuckDB replay of q_embed_kmeans_ivf: the shared Lloyd-round
    prefix (:func:`_kmeans_prefix_sql`), then the nprobe IVF search."""
    dots, sq = _lr_dots, _lr_sq
    return f"""{_kmeans_prefix_sql()},
pr AS (
  SELECT vec_id AS query_id, q AS qq, cid AS bucket FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM scored_c WHERE vec_id % 100 = 0
  ) WHERE rn <= {_KM_NPROBE}
),
sc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dots('a.q', 'list_transform(p.qq, x -> CAST(x AS DOUBLE))')}
         / (sqrt({sq('a.q')}) * sqrt({sq('p.qq')})) AS cos_sim
  FROM av a JOIN pr p USING (bucket)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM sc
) WHERE rank <= {_KM_TOPK}"""


SQL_EMBED_KMEANS_IVF = _kmeans_ivf_sql()


_CHUNK_C = 64
_CHUNK_O = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token chunks with 8-token overlap
    (stride 56) — one row per chunk, no shuffle (the explode is
    narrow). The packing primitive before tokenize-and-train."""
    d = load_table(spark, sf_dir, "documents")
    return TX.chunk_documents(d, "text", "doc_id", _CHUNK_C, _CHUNK_O)


SQL_CHUNK_DOCS = f"""{SQL_WORDS},
n AS (SELECT doc_id, toks, len(toks) AS n FROM w WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, CAST(floor((greatest(n - {_CHUNK_O}, 1) - 1) / {_CHUNK_C - _CHUNK_O}) AS BIGINT) * {_CHUNK_C - _CHUNK_O}, {_CHUNK_C - _CHUNK_O})) AS s
  FROM n
)
SELECT doc_id,
       CAST(s / {_CHUNK_C - _CHUNK_O} AS INT) AS chunk_id,
       CAST(s AS INT) AS chunk_start_tok,
       CAST(len(toks[s + 1 : s + {_CHUNK_C}]) AS INT) AS n_chunk_tokens,
       array_to_string(toks[s + 1 : s + {_CHUNK_C}], ' ') AS chunk_text
FROM starts"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    duplicate-word fraction and top 2-/3-gram share — the standard
    drop-repetitive-web-text signals of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return TX.repetition_features(d, "text", "doc_id", grams=(2, 3))


SQL_REPETITION = f"""{SQL_WORDS},
base AS (
  SELECT doc_id, toks, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
  FROM w
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM base WHERE len(toks) >= 2
),
t2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
),
g3 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
  FROM base WHERE len(toks) >= 3
),
t3 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top3gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) GROUP BY doc_id
)
SELECT base.doc_id, n_tokens, n_distinct,
       CASE WHEN n_tokens > 0
            THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS dup_word_frac,
       t2.top2gram_share, t3.top3gram_share
FROM base LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)"""


# Winnowing parameters — the ONE source of truth for both the Spark
# call sites and the DuckDB oracle below (the r2 oracle hard-coded the
# k=3/w=4 offsets as raw literals, so changing either side silently
# desynchronized them).
_WIN_K = 3
_WIN_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: rolling k-gram hashes,
    min per w-window, distinct selected set — emitted as a per-doc
    count + digest of the sorted fingerprint list."""
    d = load_table(spark, sf_dir, "documents")
    fp = TX.winnow_fingerprints(d, "text", "doc_id", k=_WIN_K, w=_WIN_W)
    return fp.select(
        "doc_id",
        "n_grams",
        "n_fingerprints",
        F.md5(
            F.concat_ws(",", F.transform("fingerprints", lambda x: x.cast("string")))
        ).alias("fp_digest"),
    )


def _winnow_fps_sql(k: int = _WIN_K, w: int = _WIN_W) -> str:
    """Oracle CTE chain for winnowing fingerprint sets, built from the
    same k/w constants the Spark call sites pass (DuckDB lists are
    1-based; slice bounds are inclusive)."""
    gram_concat = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""{SQL_WORDS},
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(toks) - {k - 1}, 0)),
                        i -> {gram_concat}) AS grams
  FROM w
),
h AS (
  SELECT doc_id, len(grams) AS n_grams,
         list_transform(grams, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM g
),
m AS (
  SELECT doc_id, n_grams,
         CASE WHEN len(hs) > 0
              THEN list_sort(list_distinct(list_transform(
                     generate_series(1, greatest(len(hs) - {w}, 0) + 1),
                     i -> list_min(hs[i : i + {w - 1}]))))
              ELSE CAST([] AS BIGINT[]) END AS fps
  FROM h
)"""


SQL_WINNOW_FPS = _winnow_fps_sql()

SQL_WINNOW = f"""{SQL_WINNOW_FPS}
SELECT doc_id, n_grams, len(fps) AS n_fingerprints,
       md5(array_to_string(fps, ',')) AS fp_digest
FROM m"""


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc overlap scan on winnowing fingerprints (inverted
    index self-join with a max-df stop-gram guard)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.winnow_matches(
        d, "text", "doc_id", k=_WIN_K, w=_WIN_W, min_shared=3, max_df=50
    ).select("doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared"))


SQL_WINNOW_MATCHES = f"""{SQL_WINNOW_FPS},
fpx AS (SELECT doc_id, unnest(fps) AS fp FROM m),
keep AS (SELECT fp FROM fpx GROUP BY fp HAVING count(*) <= 50),
f2 AS (SELECT fpx.doc_id, fpx.fp FROM fpx JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM f2 a JOIN f2 b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3"""


# BM25 constants — shared between the Spark query and the oracle SQL
_BM25_TERMS = ("hash", "join", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 20


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by tf·idf (BM25-smoothed idf), ties by
    term — the corpus-exploration side of ranked retrieval."""
    from wq_data_pipeline_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


SQL_TFIDF = f"""{SQL_WORDS},
t AS (SELECT doc_id, unnest(toks) AS term FROM w),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
sc AS (
  SELECT doc_id, term, tf,
         round(tf * ln(((SELECT count(*) FROM documents) - count(*) OVER (PARTITION BY term) + 0.5)
                       / (count(*) OVER (PARTITION BY term) + 0.5) + 1.0), 6) AS score
  FROM tf
)
SELECT doc_id, term, tf, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM sc
) WHERE rank <= 3"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 docs for a fixed 3-term query; per-term scores
    quantized to integer micros before the per-doc sum so the ranking
    is accumulation-order-independent."""
    from wq_data_pipeline_spark.operators.retrieval import bm25_search

    return bm25_search(
        load_table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        topn=_BM25_TOPN,
        k1=_BM25_K1,
        b=_BM25_B,
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# The BM25 WITH-chain ending in a `bm25 (doc_id, score, rank)` CTE —
# shared by the bm25_search oracle and the r11 hybrid_rrf oracle so
# the text-ranking rule cannot drift between the standalone entry and
# the fusion entry.
SQL_BM25_CTES = f"""{SQL_WORDS},
t AS (SELECT doc_id, unnest(toks) AS term FROM w),
tfall AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
tfd AS (SELECT *, CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl FROM tfall),
q AS (SELECT * FROM tfd WHERE term IN ({_BM25_TERMS_SQL})),
scored AS (
  SELECT doc_id,
         CAST(round(
           ln(((SELECT count(*) FROM documents) - count(*) OVER (PARTITION BY term) + 0.5)
              / (count(*) OVER (PARTITION BY term) + 0.5) + 1.0)
           * ((tf * ({_BM25_K1} + 1.0))
              / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + ({_BM25_B} * dl)
                 / (SELECT avg(len(toks)) FROM w))))
           * 1000000.0) AS BIGINT) AS m
  FROM q
),
bm25 AS (
  SELECT doc_id, score, rank FROM (
    SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM (SELECT doc_id, CAST(sum(m) AS DOUBLE) / 1e6 AS score FROM scored GROUP BY doc_id)
  ) WHERE rank <= {_BM25_TOPN}
)"""

SQL_BM25 = f"""{SQL_BM25_CTES}
SELECT doc_id, score, rank FROM bm25"""


def q_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep/drop gate: length + repetition + stopword
    rules -> verdict and ordered failed-rule reasons per doc.

    The operator emits ``reasons`` as array<string> (fixed rule
    order) for programmatic consumers; the catalog surface joins it
    to one space-separated string because the driver's pandas
    canonicalizer cannot hash list-typed cells."""
    d = load_table(spark, sf_dir, "documents")
    out = TX.filter_decision(d, "text", "doc_id")
    return out.withColumn("reasons", F.array_join("reasons", " "))


SQL_DOC_FILTER = f"""{SQL_WORDS},
f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|is|in|it|on|for)\\b')) AS n_stopwords,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS mean_token_len
  FROM w
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM w
),
t2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
),
base AS (
  SELECT f.doc_id, f.n_tokens,
         CASE WHEN f.n_tokens > 0
              THEN CAST(f.n_stopwords AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio,
         f.mean_token_len,
         CASE WHEN f.n_tokens > 0
              THEN 1.0 - CAST(f.n_distinct AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) END AS dup_word_frac,
         t2.top2gram_share
  FROM f LEFT JOIN t2 USING (doc_id)
),
ruled AS (
  SELECT doc_id, n_tokens, dup_word_frac, top2gram_share,
         list_filter([
           CASE WHEN n_tokens < 25 THEN 'too_short' END,
           CASE WHEN dup_word_frac > 0.6 THEN 'too_repetitive' END,
           CASE WHEN top2gram_share > 0.2 THEN 'ngram_repetition' END,
           CASE WHEN mean_token_len < 3.0 OR mean_token_len > 10.0 THEN 'token_len_out_of_range' END,
           CASE WHEN stop_ratio < 0.02 THEN 'low_stopword_ratio' END
         ], x -> x IS NOT NULL) AS reasons
  FROM base
)
SELECT doc_id, n_tokens, dup_word_frac, top2gram_share,
       coalesce(array_to_string(reasons, ' '), '') AS reasons,
       len(reasons) = 0 AS keep
FROM ruled"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-pattern counts against the
    progressively-redacted text plus the fully-redacted text itself
    (count-then-replace in fixed pattern order, so one substring is
    attributed to exactly one PII type)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.pii_scan(d, "text", "doc_id")


def _pii_scan_sql() -> str:
    """Oracle mirror generated from the SAME pattern dict the Spark
    operator uses (sequential count-then-replace CTE chain; patterns
    are in the Java/RE2-shared regex subset)."""
    ctes = ["s0 AS (SELECT doc_id, text AS t FROM documents)"]
    names = list(TX.PII_PATTERNS)
    for i, name in enumerate(names):
        pat = TX.PII_PATTERNS[name].replace("'", "''")
        prev_counts = ", ".join(f"n_{n}" for n in names[:i])
        carry = f"{prev_counts}, " if prev_counts else ""
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, {carry}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '<{name}>', 'g') AS t FROM s{i})"
        )
    counts = ", ".join(f"n_{n}" for n in names)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {counts}, t AS redacted FROM s{len(names)}"
    )


SQL_PII_SCAN = _pii_scan_sql()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep the 10% of each label
    stratum with the smallest md5(vec_id) — reproducible on any
    engine/partitioning (the distributed analog of a seeded
    per-stratum sample; a training pipeline uses this for balanced
    eval subsets). Emits per-label kept counts + the kept ids'
    checksum so the oracle verifies membership, not just size."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
    n_w = Window.partitionBy("label")
    d = emb.select("label", "vec_id").withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(n_w)
    )
    kept = d.filter(F.col("_rn") <= F.ceil(F.col("_n") * 0.1))
    return kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("vec_id").cast("long").alias("sum_ids"),
        F.md5(F.concat_ws(",", F.array_sort(F.collect_list("vec_id")))).alias("ids_digest"),
    )


SQL_STRATIFIED_SAMPLE = """
WITH r AS (
  SELECT label, vec_id,
         row_number() OVER (PARTITION BY label ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM embeddings
),
kept AS (SELECT label, vec_id FROM r WHERE rn <= CAST(ceil(n * 0.1) AS BIGINT))
SELECT label,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(vec_id) AS BIGINT) AS sum_ids,
       md5(array_to_string(list_sort(list(vec_id)), ',')) AS ids_digest
FROM kept GROUP BY label"""


# The published 80/10/10 split rule — ONE definition, consumed by
# hash_split here AND every split-aware entry in queries_r9c
# (leak_free_split et al. import these), so the rule cannot drift
# between entries. Pinned identical by tests/test_round9c_entries.py.
_TRAIN_LT = 80
_VAL_LT = 90


def _split_of(bucket):  # Column -> Column
    return (
        F.when(bucket < _TRAIN_LT, F.lit("train"))
        .when(bucket < _VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _md5_bucket(col) -> "F.Column":
    """First 8 hex chars of an md5 string -> bucket in [0, 100)."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("long") % 100


def _sql_split_case(hash_expr: str) -> str:
    """The ONE SQL definition of the published 80/10/10 split rule
    over an md5-hex expression — interpolated wherever an oracle needs
    it so the rule can never drift between entries."""
    bucket = f"('0x' || substr({hash_expr}, 1, 8))::BIGINT % 100"
    return (
        f"CASE WHEN {bucket} < {_TRAIN_LT} THEN 'train'\n"
        f"              WHEN {bucket} < {_VAL_LT} THEN 'val'\n"
        f"              ELSE 'test' END"
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by md5 bucket of
    doc_id — the reproducible-split primitive of a training-data
    pipeline (same doc lands in the same split on any engine, any
    run, any partitioning; no RNG). Emits per (source, split) counts."""
    d = load_table(spark, sf_dir, "documents")
    split = _split_of(_md5_bucket(F.md5(F.col("doc_id").cast("string"))))
    return (
        d.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


SQL_HASH_SPLIT = f"""
SELECT source,
       {_sql_split_case("md5(CAST(doc_id AS VARCHAR))")} AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (CCNet-style perplexity proxy): corpus
    word frequencies -> per-doc mean surprisal -log2(c/total).

    Determinism across engines: the per-token surprisal is quantized
    to integer micro-bits (round(lp*1e6) as BIGINT) and summed as
    BIGINT — integer addition is order-free, so the score is identical
    under any partitioning and any engine. One corpus-wide freq table
    (broadcast-sized vocabulary), one explode, two shuffles."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    lp = F.round(
        -F.log2(F.col("c").cast("double") / F.col("total").cast("double")) * 1e6
    ).cast("long")
    scored = toks.join(F.broadcast(freq), "tok").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(lp).cast("long").alias("sum_surprisal_micro"),
        (F.sum(lp).cast("double") / F.count(F.lit(1))).alias("mean_surprisal_micro"),
    )


SQL_UNIGRAM_LOGPROB = f"""{SQL_WORDS},
t AS (SELECT doc_id, unnest(toks) AS tok FROM w),
f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM f),
term AS (
  SELECT t.doc_id,
         CAST(round(-log2(CAST(f.c AS DOUBLE) / CAST(tot.total AS DOUBLE)) * 1e6) AS BIGINT) AS lp
  FROM t JOIN f USING (tok) CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lp) AS BIGINT) AS sum_surprisal_micro,
       CAST(sum(lp) AS DOUBLE) / count(*) AS mean_surprisal_micro
FROM term GROUP BY doc_id"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source decontamination check (train/eval leakage): for
    each non-src0 source, how many docs share an order-insensitive
    content fingerprint with the src0 'training' corpus. The semi
    join touches only fingerprints (one md5 per doc) — the cheap
    first-stage leak scan a training pipeline runs before a split."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("source", TX.doc_fingerprint("text").alias("fp"))
    train_fp = fp.filter(F.col("source") == "src0").select("fp").distinct()
    ev = fp.filter(F.col("source") != "src0")
    hits = (
        ev.join(train_fp, "fp", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = ev.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.join(hits, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
    )


SQL_DECONTAMINATE = f"""{SQL_WORDS},
fp AS (
  SELECT source, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
),
train AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0'),
ev AS (SELECT * FROM fp WHERE source <> 'src0')
SELECT ev.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ev.fp IN (SELECT fp FROM train) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
FROM ev GROUP BY ev.source"""


QUERIES3: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "exact_dedup": q_exact_dedup,
    "fingerprint_dedup": q_fingerprint_dedup,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_clusters": q_dedup_clusters,
    "simhash": q_simhash,
    "jaccard_pairs": q_jaccard_pairs,
    "embed_cosine_topk": q_embed_cosine_topk,
    "embed_ivf_topk": q_embed_ivf_topk,
    "embed_near_dup": q_embed_near_dup,
    "embed_lsh_ann": q_embed_lsh_ann,
    "props_json": q_props_json,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "hash_split": q_hash_split,
    "unigram_logprob": q_unigram_logprob,
    "decontaminate": q_decontaminate,
    "embed_kmeans_ivf": q_embed_kmeans_ivf,
    "stratified_sample": q_stratified_sample,
    "chunk_documents": q_chunk_documents,
    "repetition_stats": q_repetition_stats,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_matches": q_winnow_matches,
    "pii_scan": q_pii_scan,
    "doc_filter": q_doc_filter,
    "tfidf_terms": q_tfidf_terms,
    "bm25_search": q_bm25_search,
}

ORACLES3: dict[str, str] = {
    "text_token_stats": SQL_TOKEN_STATS,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": SQL_LANG_ID,
    "exact_dedup": SQL_EXACT_DEDUP,
    "fingerprint_dedup": SQL_FP_DEDUP,
    "minhash_signatures": SQL_MINHASH,
    "minhash_lsh_pairs": SQL_MINHASH_LSH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "simhash": SQL_SIMHASH,
    "jaccard_pairs": SQL_JACCARD,
    "embed_cosine_topk": SQL_EMBED_TOPK,
    "embed_ivf_topk": SQL_EMBED_IVF,
    "embed_near_dup": SQL_EMBED_NEAR_DUP,
    "props_json": SQL_PROPS_JSON,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "hash_split": SQL_HASH_SPLIT,
    "unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "decontaminate": SQL_DECONTAMINATE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "chunk_documents": SQL_CHUNK_DOCS,
    "repetition_stats": SQL_REPETITION,
    "winnow_fingerprints": SQL_WINNOW,
    "winnow_matches": SQL_WINNOW_MATCHES,
    "pii_scan": SQL_PII_SCAN,
    "doc_filter": SQL_DOC_FILTER,
    "tfidf_terms": SQL_TFIDF,
    "bm25_search": SQL_BM25,
    "embed_lsh_ann": SQL_EMBED_LSH_ANN,
    "embed_kmeans_ivf": SQL_EMBED_KMEANS_IVF,
    # oracled in r8: every documents payload takes the deterministic
    # fake-decoder branch, which SQL replays from md5-byte arithmetic
    "multimodal_decode": SQL_MULTIMODAL_DECODE,
}
