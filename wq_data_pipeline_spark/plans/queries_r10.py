"""Catalog batch 30 (round 10): the three capability gaps VERDICT r9
ranked for a production training-data pipeline —

- ``embed_decontaminate`` — EMBEDDING-SPACE benchmark decontamination:
  n-gram ``decontaminate`` catches verbatim/near-verbatim leakage, but
  modern eval-hygiene (e.g. the phi/GPT-4 technical reports) also
  checks SEMANTIC leakage: corpus docs whose embedding sits above a
  cosine threshold against any benchmark item. Banded random-
  hyperplane LSH candidates (corpus × benchmark, benchmark broadcast)
  + exact quantized-integer cosine verify, reported per corpus source.
- ``para_dedup`` — paragraph/part-level MinHash near-dedup
  (RefinedWeb runs BOTH doc- and part-level passes): documents are
  chunked into fixed token windows, chunks near-dedup via the SAME
  banded MinHash-LSH machinery as ``minhash_lsh_pairs``, verified
  with exact word-set Jaccard, and rolled up to doc pairs. The pin:
  it finds doc pairs exact/doc-level dedup misses (a copied block
  inside otherwise-different docs).
- ``quality_train`` — the quality classifier TRAINED IN-ENGINE:
  ``quality_classifier`` scores with fixed broadcast weights; this
  entry runs the training loop itself — 3 rounds of full-batch
  logistic-regression gradient descent over hashed-BoW features,
  distilling the C4 blocklist gate into a linear model (the DCLM/
  fastText shape: rule-based positives -> learned classifier). The
  same distributed-state discipline as the k-means trainer
  (similarity._kmeans_distributed): per-round state is a 64-row
  weight table that never leaves the cluster; the corpus-sized
  feature table is checkpointed ONCE and only joined.

Exactness (what makes a trainer ORACLE-REPLAYABLE): all shared state
is integer. Weights live in micro units (BIGINT); per-doc logits are
exact BIGINT dots; the only float step — the sigmoid — is quantized
per doc to micro units BEFORE summation (round((p - y) * 1e6), the
``unigram_logprob`` micro-bits precedent), so gradient sums are
order-free BIGINT and the weight update is a single deterministic
double op on exact integers. Cosines follow the established
quantized-integer rule (round(x*1e7) -> BIGINT dots).

Scale shapes:
- embed_decontaminate: the benchmark side is small by definition
  (eval suites are KBs against a 100-TB corpus) -> its band
  signatures AND vectors broadcast; the corpus pays one narrow
  signature projection + one equi-join per banded candidate. The
  corpus never self-joins and raw corpus vectors never shuffle —
  only candidate rows do.
- para_dedup: chunking is a narrow explode (~n_tokens/16 rows per
  doc); everything after rides the one-shuffle banded-LSH +
  hot-bucket-guard path proven by minhash_lsh_pairs. Chunk ids pack
  as doc_id * 1024 + idx (docs are bounded at 1024 chunks = 16k
  tokens here; a production corpus would widen the multiplier or use
  a struct key — the plan is unchanged).
- quality_train: per round, TWO shuffles of the skinny feature table
  (by doc for the logit, by bucket for the gradient) + a broadcast
  of the 64-row weight table; rounds are a fixed small constant.
  Model size B buckets is O(1) w.r.t. the corpus.

Reference scope: the reference engine (WalterHet/wq_data_pipeline,
scripts/ufz_water_qc_pipeline.py) has no curation/training surface;
these extend the LLM-pipeline families per the round brief.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from wq_data_pipeline_spark.operators import dedup as DD
from wq_data_pipeline_spark.operators.text import gram_hash, tokens
from wq_data_pipeline_spark.plans.queries_ext import _Q, SQL_TOKS_EXPR, _quantized
from wq_data_pipeline_spark.plans.queries_scale import _BLOCKLIST, _BLOCKLIST_SQL
from wq_data_pipeline_spark.sources.testdata import load_table

# --- embed_decontaminate ----------------------------------------------------

# 8 bands × 4 planes: P(candidate) = 1-(1-p^4)^8 with p = 1 - θ/π —
# ~0.75 at cos 0.4 (the stress tau) and -> 1 for true contamination
# (cos -> 1). 4-plane bands keep buckets dense enough that recall
# holds; the benchmark side is broadcast so candidate volume is
# O(corpus × bench × bands / 2^planes), never quadratic in the corpus.
_DC_BANDS = 8
_DC_PLANES = 4
_DC_TAU = 0.4
_DC_BENCH_MOD = 10  # vec_id % 10 == 7 plays the benchmark suite
_DC_BENCH_RES = 7


def q_embed_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination report: for every corpus
    source, how many docs are semantically contaminated — cosine >=
    tau against ANY benchmark embedding (the held-out slice
    ``vec_id % 10 == 7`` stands in for an eval suite; swap the
    predicate for a real benchmark table, the plan is identical).
    Completes the leakage triad: ``decontaminate`` (n-gram vs
    external), ``leak_free_split`` (self-leakage), and this
    (semantic vs external).

    Per source: corpus doc count, contaminated docs (>=1 hit), total
    hits, and the max cosine (6dp). Embeddings link to documents by
    vec_id = doc_id (the fixture contract, asserted in
    tests/test_round10_entries.py).

    Oracle-exact: candidates come from the SAME md5-derived ±1
    hyperplanes the oracle replays (the embed_near_dup portability
    rule), and cosines are quantized-integer BIGINT dots — candidate
    sets and scores match bit-for-bit.

    100-TB shape: benchmark band signatures AND vectors broadcast
    (eval suites are tiny); the corpus chain through the threshold
    filter is NARROW (signatures + inline scoring on the scan side of
    a broadcast join) — raw corpus vectors never shuffle, the corpus
    never self-joins, and only surviving pairs reach the dedup/agg.
    Validity bound: the broadcast carries bench_rows × bands ×
    (dim × 8B) — ~400 MB at a 100k-item suite, the practical ceiling.
    Past that, drop the F.broadcast hint and this SAME plan becomes a
    skinny equi-join on (band, sig) (the embed_near_dup sparse shape);
    the candidate semantics are unchanged."""
    raw = load_table(spark, sf_dir, "embeddings")
    # One bounded action probes the width AND pins it uniform: the
    # baked-plane zip_with pads ragged short vectors with NULLs
    # (signature bit silently 0) while the oracle sums only available
    # dims — a silent candidate-set divergence, so refuse ragged input
    # outright instead of guessing from the first row (ADVICE r10 #2).
    dims = raw.agg(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null"),
    ).first()
    # NULL vectors are refused too, not just ragged ones: F.size(NULL)
    # is NULL and would slip past a min/max-only check, then propagate
    # NULL through zip_with with semantics DuckDB's list functions
    # don't mirror (r11 review; the NULL-media ValueError precedent)
    if (dims["n_null"] or 0) > 0:
        raise ValueError(
            f"embed_decontaminate: {dims['n_null']} NULL embedding(s); "
            "clean or drop them upstream"
        )
    if dims["lo"] is None:  # empty table: contract schema, no dim to probe
        return spark.createDataFrame(
            [],
            "source STRING, n_docs LONG, n_contaminated LONG, "
            "n_hits LONG, max_cos DOUBLE",
        )
    if dims["lo"] != dims["hi"]:
        raise ValueError(
            "embed_decontaminate requires uniform embedding width; got "
            f"sizes in [{dims['lo']}, {dims['hi']}]"
        )
    dim = dims["hi"]
    q = raw.select("vec_id", _quantized("embedding").alias("q")).repartition(
        spark.sparkContext.defaultParallelism
    )
    is_bench = (F.col("vec_id") % _DC_BENCH_MOD) == _DC_BENCH_RES
    corp = q.filter(~is_bench)
    ben = q.filter(is_bench)

    # At tau 0.4 (barely above the background cosine) 4-plane bands
    # collide densely — the embed_near_dup dense-threshold lesson:
    # carry the vectors + hoisted norms THROUGH the broadcast band
    # join and score inline, so the whole chain through the threshold
    # filter is NARROW (no pre-score candidate shuffle, no vector
    # join-back); only the surviving pairs (~tens) pay dropDuplicates
    # and the per-doc agg. The benchmark side broadcasts sig+vector+
    # norm together — eval suites are tiny.
    zero = F.lit(0).cast("long")
    nrm = F.aggregate(F.transform("q", lambda x: x * x), zero, lambda s, x: s + x)
    from wq_data_pipeline_spark.operators.similarity import rp_lsh_signature

    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                rp_lsh_signature(
                    "q", _DC_PLANES, plane_offset=b * _DC_PLANES, dim=dim
                ).alias("sig"),
            )
            for b in range(_DC_BANDS)
        ]
    )
    d_c = (
        corp.withColumn("nc", nrm)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("qc"),
            "nc",
            F.explode(band_sigs).alias("bs"),
        )
        .select(
            "cid", "qc", "nc",
            F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
        )
    )
    d_b = (
        ben.withColumn("nb", nrm)
        .select(
            F.col("vec_id").alias("bid"),
            F.col("q").alias("qb"),
            "nb",
            F.explode(band_sigs).alias("bs"),
        )
        .select(
            "bid", "qb", "nb",
            F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
        )
    )
    dotq = F.aggregate(
        F.zip_with("qc", "qb", lambda x, y: x * y), zero, lambda s, x: s + x
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("nc").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    hits = (
        d_c.join(F.broadcast(d_b), ["band", "sig"])
        .select("cid", "bid", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _DC_TAU)
        .dropDuplicates(["cid", "bid"])
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max("cos_sim").alias("max_cos"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cid"), "source"
    )
    tot = corp.select(F.col("vec_id").alias("cid")).join(docs, "cid")
    return (
        tot.join(hits, "cid", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_hits").alias("n_contaminated"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.max("max_cos"), 6).alias("max_cos"),
        )
        .orderBy("source")
    )


# Oracle: replay the md5 hyperplanes (parity of the first hex digit of
# md5('<plane>:<dim>') -> ±1, exactly similarity.hyperplane_
# components), band p//PLANES, bit 1 << (p % PLANES); integer plane dots
# make every signature bit — hence the candidate set — bit-identical,
# and cosines are the established quantized-BIGINT form.
SQL_EMBED_DECONTAMINATE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
dim AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pl AS (SELECT unnest(generate_series(0, {_DC_BANDS * _DC_PLANES - 1})) AS p),
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
  SELECT vec_id, p // {_DC_PLANES} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {_DC_PLANES}) ELSE 0 END) AS BIGINT) AS sig
  FROM pdot GROUP BY vec_id, p // {_DC_PLANES}
),
cand AS (
  SELECT DISTINCT c.vec_id AS cid, b.vec_id AS bid
  FROM sigs c JOIN sigs b ON c.band = b.band AND c.sig = b.sig
  WHERE c.vec_id % {_DC_BENCH_MOD} <> {_DC_BENCH_RES}
    AND b.vec_id % {_DC_BENCH_MOD} = {_DC_BENCH_RES}
),
scored AS (
  SELECT c.cid,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM cand c JOIN q a ON a.vec_id = c.cid JOIN q b ON b.vec_id = c.bid
),
hits AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_hits, max(cos_sim) AS max_cos
  FROM scored WHERE cos_sim >= {_DC_TAU} GROUP BY cid
),
tot AS (
  SELECT d.source, cq.vec_id AS cid
  FROM (SELECT vec_id FROM q WHERE vec_id % {_DC_BENCH_MOD} <> {_DC_BENCH_RES}) cq
  JOIN documents d ON d.doc_id = cq.vec_id
)
SELECT tot.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(h.n_hits) AS BIGINT) AS n_contaminated,
       CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS n_hits,
       round(max(h.max_cos), 6) AS max_cos
FROM tot LEFT JOIN hits h USING (cid)
GROUP BY tot.source ORDER BY tot.source"""


# --- para_dedup -------------------------------------------------------------

_PARA_C = 16  # chunk size in tokens ("paragraphs" of the fixtures)
_PARA_MIN = 4  # drop tail chunks too short to shingle meaningfully
_PARA_PACK = 1024  # chunk_id = doc_id * PACK + idx (<= 16k tokens/doc)
_PARA_K = 16  # minhash seeds
_PARA_R = 2  # rows per band -> 8 bands (recall ~0.996 at J=0.8)
_PARA_MAXDF = 100  # hot-bucket guard, same rationale as doc-level
_PARA_JTAU = 0.8


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-level near-dedup (RefinedWeb §dedup runs doc- AND
    part-level passes): docs are chunked into fixed 16-token windows
    ("paragraphs" — the fixtures have no newlines; swap the chunker
    for a newline split on real data, the plan is identical), chunks
    near-dedup through the SAME banded MinHash-LSH + hot-bucket-guard
    machinery as ``minhash_lsh_pairs`` (k=16, 2 rows/band), verified
    with exact word-set Jaccard >= 0.8, then rolled up to doc pairs
    from DIFFERENT docs: shared-chunk count, max chunk Jaccard, and
    whether the docs are byte-identical anyway.

    The pin (tests/test_round10_entries.py): every fixture pair found
    here has is_doc_dup = false — part-level dedup catches copied
    blocks that doc-level exact/near dedup misses entirely.

    100-TB shape: chunking is a narrow explode; candidates ride ONE
    shuffle of skinny (chunk, band, key) rows with the max_df
    quadratic-bucket guard; only surviving candidates pay the exact
    verify. Chunk ids pack as doc_id * 1024 + idx — wide enough for
    16k-token docs; chunks past the bound are EXCLUDED symmetrically
    (i < 1024 filters engine AND oracle), never silently
    misattributed to the next doc id; a production corpus widens the
    multiplier (the id is opaque to every join)."""
    from wq_data_pipeline_spark.plans.queries_ext import _docs_parallel

    d = _docs_parallel(spark, sf_dir)
    base = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    idx = F.sequence(
        F.lit(0), F.floor((F.size("toks") - 1) / _PARA_C).cast("int")
    )
    ch = (
        base.select("doc_id", "toks", F.explode(idx).alias("i"))
        # the packing bound: chunks past _PARA_PACK would alias into
        # the NEXT doc's id space — excluded symmetrically in the
        # oracle (i < PACK there too), never silently misattributed
        .filter(F.col("i") < _PARA_PACK)
        .select(
            (F.col("doc_id") * _PARA_PACK + F.col("i")).alias("chunk_id"),
            F.slice("toks", F.col("i") * _PARA_C + 1, _PARA_C).alias("ctoks"),
        )
        .filter(F.size("ctoks") >= _PARA_MIN)
        .select("chunk_id", F.concat_ws(" ", "ctoks").alias("chunk_text"))
    )
    cand = DD.minhash_lsh_candidates(
        ch,
        "chunk_text",
        "chunk_id",
        num_hashes=_PARA_K,
        rows_per_band=_PARA_R,
        max_df=_PARA_MAXDF,
    )
    ver = DD.jaccard_pairs(ch, cand, "chunk_text", "chunk_id")
    # id_a < id_b and packed ids are doc-major, so doc_a < doc_b is
    # automatic once same-doc pairs are dropped
    dp = ver.filter(F.col("jaccard") >= _PARA_JTAU).select(
        F.expr(f"id_a DIV {_PARA_PACK}").alias("doc_a"),
        F.expr(f"id_b DIV {_PARA_PACK}").alias("doc_b"),
        "jaccard",
    ).filter(F.col("doc_a") != F.col("doc_b"))
    agg = dp.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_dup_chunk_pairs"),
        F.round(F.max("jaccard"), 6).alias("max_jac"),
    )
    h = d.select("doc_id", F.md5("text").alias("h"))
    return (
        agg.join(
            h.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha")),
            "doc_a",
        )
        .join(
            h.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_dup_chunk_pairs",
            "max_jac",
            (F.col("ha") == F.col("hb")).alias("is_doc_dup"),
        )
    )


def _para_pairs_sql() -> str:
    """Chunk-level candidate CTE: the chunk table is aliased as ``w``
    with chunk_id named doc_id, so queries_ext._minhash_pairs_sql —
    the SAME fragment minhash_lsh_pairs oracles with — applies
    verbatim over chunks."""
    from wq_data_pipeline_spark.plans.queries_ext import _minhash_pairs_sql

    return _minhash_pairs_sql(_PARA_K, _PARA_R, _PARA_MAXDF)


def _sql_para_dedup() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKS_EXPR} AS toks
  FROM documents
),
w AS (
  SELECT doc_id * {_PARA_PACK} + i AS doc_id,
         toks[i * {_PARA_C} + 1 : i * {_PARA_C} + {_PARA_C}] AS toks
  FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 1) // {_PARA_C})) AS i
        FROM base WHERE len(toks) > 0)
  WHERE i < {_PARA_PACK}
    AND len(toks[i * {_PARA_C} + 1 : i * {_PARA_C} + {_PARA_C}]) >= {_PARA_MIN}
),
{_para_pairs_sql()},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w),
j AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
  FROM pairs JOIN ws a ON pairs.id_a = a.doc_id JOIN ws b ON pairs.id_b = b.doc_id
),
dp AS (
  SELECT id_a // {_PARA_PACK} AS doc_a, id_b // {_PARA_PACK} AS doc_b, jaccard
  FROM j WHERE jaccard >= {_PARA_JTAU} AND id_a // {_PARA_PACK} <> id_b // {_PARA_PACK}
),
agg AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_dup_chunk_pairs,
         round(max(jaccard), 6) AS max_jac
  FROM dp GROUP BY doc_a, doc_b
),
h AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT agg.doc_a, agg.doc_b, n_dup_chunk_pairs, max_jac, ha.h = hb.h AS is_doc_dup
FROM agg JOIN h ha ON agg.doc_a = ha.doc_id JOIN h hb ON agg.doc_b = hb.doc_id"""


SQL_PARA_DEDUP = _sql_para_dedup()


# --- quality_train ----------------------------------------------------------

_QT_B = 64  # hashed feature buckets (model size — O(1) vs corpus)
_QT_ROUNDS = 3  # fixed full-batch GD rounds (the oracle replays each)
_QT_LR = 0.1
_QT_HOLD_MOD = 5  # doc_id % 5 == 4 held out for the AUC pin
_QT_HOLD_RES = 4


def _teacher_y() -> "F.Column":
    """The ONE definition of the teacher label over a ``toks`` column:
    y = 1 iff no blocklisted token (shared by the trainer and the
    held-out eval)."""
    blocked = F.size(F.filter("toks", lambda t: t.isin(*_BLOCKLIST)))
    return (blocked == 0).cast("int").alias("y")


def _hash_bucket(col: "F.Column") -> "F.Column":
    """The ONE gram -> bucket rule (md5-derived 60-bit hash mod
    _QT_B), shared by the unigram featurizer here and the bigram
    featurizer in queries_r11 so bucket assignment can never drift."""
    return F.pmod(gram_hash(col), F.lit(_QT_B))


def _bucket_counts(df: DataFrame, extra_cols: list[str]) -> DataFrame:
    """The ONE definition of the feature rule — explode ``toks`` ->
    hashed bucket -> per-(doc, *extra, bucket) counts — shared by the
    trainer, apply, and eval so the three entries can never featurize
    differently. Docs with no tokens drop (explode), matching the
    oracle's unnest."""
    return (
        df.select("doc_id", *extra_cols, F.explode("toks").alias("tok"))
        .select(
            "doc_id",
            *extra_cols,
            _hash_bucket(F.col("tok")).alias("b"),
        )
        .groupBy("doc_id", *extra_cols, "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _doc_scores(
    bucketed: DataFrame, w: DataFrame, extra_cols: list[str]
) -> DataFrame:
    """Per-doc exact BIGINT logit: broadcast the 64-row weight table
    onto the bucket counts, sum cnt·w per doc. The ONE scoring rule."""
    return (
        bucketed.join(F.broadcast(w), "b")
        .groupBy("doc_id", *extra_cols)
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("z_micro"))
    )


# Session-scoped trainer stash (VERDICT r10 #3): quality_train /
# _apply / _eval (and the r11 bigram variant) each need the SAME
# trajectory at construction — without the stash every entry re-runs
# the 3 GD rounds (~10 s combined at sf0.1). The machinery
# (content-token keying, overwritten-fixture invalidation, dead-
# session eviction) lives in operators/stash.py, shared with the
# k-means and BPE trainer families since r11.


def _train_traj(
    spark: SparkSession,
    sf_dir: str,
    feats: Callable[[DataFrame, list[str]], DataFrame] | None = None,
    n_buckets: int = _QT_B,
) -> list[DataFrame]:
    """The shared trainer loop behind quality_train (trajectory),
    quality_train_apply (final weights), quality_train_eval, and the
    r11 hashed-bigram variant: _QT_ROUNDS rounds of full-batch
    logistic GD, returning the per-round n_buckets-row checkpointed
    weight frames (b, w). ``feats`` is the featurizer (default: the
    unigram _bucket_counts). The session stash keys on the
    featurizer's qualified name + n_buckets — derived from what was
    actually passed, so a caller can never be served another model
    family's weights by mislabeling (r11 review)."""
    from wq_data_pipeline_spark.operators.stash import session_stash

    feats = feats or _bucket_counts
    tag = (
        f"{getattr(feats, '__module__', '')}."
        f"{getattr(feats, '__qualname__', repr(feats))}:{n_buckets}"
    )
    return session_stash(
        spark,
        sf_dir,
        "documents",
        ("quality-traj", tag),
        lambda: _train_traj_build(spark, sf_dir, feats, n_buckets),
    )


def _train_traj_build(
    spark: SparkSession,
    sf_dir: str,
    feats: Callable[[DataFrame, list[str]], DataFrame],
    n_buckets: int,
) -> list[DataFrame]:
    from wq_data_pipeline_spark.plans.queries_ext import _docs_parallel

    d = _docs_parallel(spark, sf_dir)
    tr = d.filter(
        (F.col("doc_id") % _QT_HOLD_MOD) != _QT_HOLD_RES
    ).select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", "toks", _teacher_y()
    )
    x = feats(tr, ["y"]).localCheckpoint()
    # a global (non-grouped) agg always yields exactly one row
    n_train = int(x.agg(F.countDistinct("doc_id").alias("n")).first()["n"])
    w = spark.range(n_buckets).select(
        F.col("id").cast("long").alias("b"), F.lit(0).cast("long").alias("w")
    )
    if n_train == 0:  # no trainable docs: weights stay at the zero init
        return [w] * _QT_ROUNDS

    traj = []
    for _ in range(_QT_ROUNDS):
        z = _doc_scores(x, w, ["y"])
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.col("z_micro").cast("double") / F.lit(1000000.0)))
        )
        e = z.select(
            "doc_id",
            F.round((p - F.col("y").cast("double")) * F.lit(1000000.0))
            .cast("long")
            .alias("e"),
        )
        g = (
            x.join(e, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("cnt") * F.col("e")).alias("g"))
        )
        w = (
            w.join(g, "b", "left")
            .select(
                "b",
                (
                    F.col("w")
                    - F.round(
                        F.lit(_QT_LR)
                        * F.coalesce(F.col("g"), F.lit(0))
                        / F.lit(n_train)
                    ).cast("long")
                ).alias("w"),
            )
            .localCheckpoint()
        )
        traj.append(w)
    return traj


def q_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality-classifier training: 3 fixed rounds of
    full-batch logistic-regression gradient descent over hashed
    bag-of-words features (64 buckets), distilling the C4 blocklist
    gate into a linear model — label y = 1 iff the doc contains no
    blocklisted token (the DCLM/fastText shape: rule-based labels ->
    learned scorer; swap the label column for human/LLM labels, the
    trainer is unchanged). Docs with doc_id % 5 == 4 are held out;
    the held-out AUC (~0.8) is pinned in tests, not emitted.

    Output: the full weight trajectory (b, w_micro_r1..r3) in integer
    micro units — 64 rows pinning every round of the optimization,
    which is what makes a TRAINER oracle-checkable rather than just
    its final score.

    Oracle-exact by integer discipline: logits are exact BIGINT dots
    of counts × micro-weights; the sigmoid — the only float — is
    quantized per doc BEFORE summation (round((p - y) * 1e6), the
    unigram_logprob micro-bits precedent), so gradients are order-free
    BIGINT sums and the update w' = w - round(lr * g / n) is one
    deterministic double op on exact integers.

    100-TB shape (the k-means distributed-state discipline): the
    feature table is built once, checkpointed, and only joined — two
    shuffles per round (by doc for logits, by bucket for the
    64-group gradient, both map-side combinable) plus a broadcast of
    the 64-row weight table. No per-round driver collect; the single
    bounded action is n_train (one scalar)."""
    traj = _train_traj(spark, sf_dir)
    out = traj[0].select("b", F.col("w").alias("w_micro_r1"))
    for r in range(2, _QT_ROUNDS + 1):
        # weight frames are n_buckets rows BY CONSTRUCTION (a config
        # constant), but arrive RDD-backed from the stash with no
        # stats, so the planner falls back to sort-merge — pin the
        # broadcast (guide §3.1; same reasoning at any corpus scale)
        out = out.join(
            F.broadcast(
                traj[r - 1].select("b", F.col("w").alias(f"w_micro_r{r}"))
            ),
            "b",
        )
    return out.orderBy("b")


def q_quality_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> INFER, end to end (the bpe_train/bpe_apply pairing for
    the classifier family): the final-round trained weights score the
    WHOLE corpus — held-out docs included, which is the point of
    holding them out — and the per-source report gives doc counts,
    docs the learned gate keeps (logit > 0), and the exact summed
    logit mass. ``quality_classifier`` is this plan with fixed
    md5-derived weights; here the weight table is the trainer's
    output, so a green row pins training AND inference together.

    Scale shape: inference is ONE explode + per-(doc, source, bucket)
    hash agg + a broadcast join of the 64-row model + two map-side-
    combinable rollups — identical to quality_classifier's broadcast-
    join inference, with the trainer's distributed-state loop bolted
    in front (construction-time, k-means discipline). Docs with no
    tokens score nothing and are excluded on both sides (explode and
    unnest agree)."""
    from wq_data_pipeline_spark.plans.queries_ext import _docs_parallel

    w_final = _train_traj(spark, sf_dir)[-1]
    d = _docs_parallel(spark, sf_dir).select(
        "doc_id", "source", tokens("text").alias("toks")
    )
    z = _doc_scores(_bucket_counts(d, ["source"]), w_final, ["source"])
    return (
        z.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("z_micro") > 0).cast("long")).alias("n_kept"),
            F.sum("z_micro").cast("long").alias("sum_z_micro"),
        )
        .orderBy("source")
    )


def q_quality_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> apply -> EVAL, closing the distillation loop: the
    trained model's held-out report against its teacher rule (the
    blocklist gate) — confusion counts, accuracy, Cohen's kappa, and
    AUC, all on the doc_id % 5 == 4 slice the trainer never saw.
    This is the acceptance gate a real pipeline runs before swapping
    a learned filter in for the rule it distills.

    The AUC is the scale-safe SHAPE (scores pre-aggregate to distinct-
    value groups (cnt, cnt_pos), group midranks come from
    ``scale.distributed_prefix_sum`` over the score order — never a
    single-partition rank window) with the rank mass kept in BIGINT
    via the 2×midrank trick (cnt_pos · (2·cum_before + cnt + 1)), so
    the only floats are the three final divisions (rounded 6dp in
    both dialects). Exactness bound: r2 ≈ n_held·n_pos must stay
    below 2^63, i.e. the formula is exact to ~3e9 held docs — far
    past any practical eval slice (real acceptance gates score
    sampled thousands-to-millions); past it, shard the eval and
    average, or accept the ~2^53 double envelope. Kappa/accuracy come
    from the exact confusion integers. Docs with no tokens score
    nothing and are excluded on both sides. The per-doc score frame
    is checkpointed ONCE and feeds both the confusion and the AUC
    branches (the conf branch would otherwise re-run the corpus
    explode)."""
    return _eval_frame(spark, sf_dir, _train_traj(spark, sf_dir)[-1])


def _held_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE definition of the held-out labeled slice — (doc_id,
    toks, y) for doc_id % mod == res — shared by the eval gate and
    the r12 calibration entry so the two reports can never describe
    different slices."""
    from wq_data_pipeline_spark.plans.queries_ext import _docs_parallel

    return (
        _docs_parallel(spark, sf_dir)
        .filter((F.col("doc_id") % _QT_HOLD_MOD) == _QT_HOLD_RES)
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", "toks", _teacher_y())
    )


def _eval_frame(
    spark: SparkSession,
    sf_dir: str,
    w_final: DataFrame,
    feats: Callable[[DataFrame, list[str]], DataFrame] | None = None,
) -> DataFrame:
    """The held-out acceptance-gate computation (confusion, accuracy,
    kappa, AUC) for ANY trained weight table + featurizer pair —
    shared by quality_train_eval and the r11 bigram variant so the
    eval rule can never drift between model families."""
    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum

    held = _held_docs(spark, sf_dir)
    z = (
        _doc_scores((feats or _bucket_counts)(held, ["y"]), w_final, ["y"])
        .withColumnRenamed("z_micro", "z")
        .localCheckpoint()
    )
    pred = F.col("z") > 0
    pos = F.col("y") == 1
    conf = z.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum((pos).cast("long")), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum((~pos).cast("long")), F.lit(0)).alias("n_neg"),
        F.coalesce(F.sum((pos & pred).cast("long")), F.lit(0)).alias("tp"),
        F.coalesce(F.sum((~pos & pred).cast("long")), F.lit(0)).alias("fp"),
        F.coalesce(F.sum((pos & ~pred).cast("long")), F.lit(0)).alias("fn"),
        F.coalesce(F.sum((~pos & ~pred).cast("long")), F.lit(0)).alias("tn"),
    )
    g = z.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("cnt_pos"),
    )
    pg = distributed_prefix_sum(g, "z", "cnt", out="cum_before")
    r2 = pg.agg(
        F.coalesce(
            F.sum(
                F.col("cnt_pos")
                * (F.lit(2) * F.col("cum_before") + F.col("cnt") + F.lit(1))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("r2")
    )
    nd = F.col("n_docs").cast("double")
    safe_n = F.greatest(nd, F.lit(1.0))
    po = (F.col("tp") + F.col("tn")).cast("double") / safe_n
    pe = (
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        + (F.col("fn") + F.col("tn")) * (F.col("fp") + F.col("tn"))
    ).cast("double") / (safe_n * safe_n)
    kappa = F.when(
        (F.lit(1.0) - pe) == 0.0, F.lit(0.0)
    ).otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
    auc = F.when(
        (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        )
    )
    return conf.join(F.broadcast(r2)).select(
        "n_docs",
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(po, 6).alias("accuracy"),
        kappa.alias("kappa"),
        auc.alias("auc"),
    )


# SQL mirrors of _teacher_y / _bucket_counts / _doc_scores — ONE
# definition per rule, interpolated by all three classifier oracles
# so they can never featurize, label, or score differently.
_SQL_TEACHER_Y = (
    f"CASE WHEN len(list_filter(toks, t -> t IN {_BLOCKLIST_SQL})) = 0 "
    "THEN 1 ELSE 0 END"
)


def _sql_bucket_cte(src: str, extra: str, f_n: str, x_n: str) -> str:
    ex = f"{extra}, " if extra else ""
    return (
        f"{f_n} AS (SELECT doc_id, {ex}('0x' || substr(md5(unnest(toks)), 1, 15))::BIGINT % {_QT_B} AS b FROM {src}),\n"
        f"{x_n} AS (SELECT doc_id, {ex}b, CAST(count(*) AS BIGINT) AS cnt FROM {f_n} GROUP BY doc_id, {ex}b)"
    )


def _sql_score_cte(x_n: str, w_n: str, z_n: str, extra: str, alias: str) -> str:
    ex = f"x.{extra}, " if extra else ""
    grp = f", x.{extra}" if extra else ""
    return (
        f"{z_n} AS (\n"
        f"  SELECT x.doc_id, {ex}sum(x.cnt * w.w) AS {alias}\n"
        f"  FROM {x_n} x JOIN {w_n} w USING (b) GROUP BY x.doc_id{grp}\n"
        f")"
    )


def _sql_train_prefix(bucket_cte=None, n_buckets: int = _QT_B) -> str:
    """The WITH chain (features -> w0 -> 3 unrolled GD rounds) shared
    by the quality_train / quality_train_apply / quality_train_eval
    oracles — ONE definition of the training recurrence, so the
    entries can never replay different trainers. ``bucket_cte``
    swaps the featurizer (default: unigram _sql_bucket_cte; the r11
    bigram oracle passes its own), mirroring _train_traj's ``feats``."""
    bucket_cte = bucket_cte or _sql_bucket_cte
    rounds = []
    prev = "w0"
    for r in range(1, _QT_ROUNDS + 1):
        rounds.append(
            f"""{_sql_score_cte("x", prev, f"z{r}", "y", "z_micro")},
e{r} AS (
  SELECT doc_id,
         CAST(round((1.0 / (1.0 + exp(-(CAST(z_micro AS DOUBLE) / 1000000.0)))
                     - CAST(y AS DOUBLE)) * 1000000.0) AS BIGINT) AS e
  FROM z{r}
),
g{r} AS (
  SELECT x.b, sum(x.cnt * e.e) AS g
  FROM x JOIN e{r} e USING (doc_id) GROUP BY x.b
),
w{r} AS (
  SELECT w.b,
         CAST(w.w - CAST(round(CAST({_QT_LR} AS DOUBLE) * COALESCE(g.g, 0) / greatest(n.n, 1)) AS BIGINT) AS BIGINT) AS w
  FROM {prev} w LEFT JOIN g{r} g USING (b) CROSS JOIN n
)"""
        )
        prev = f"w{r}"
    # CAST(lr AS DOUBLE): DuckDB parses the bare 0.1 literal as
    # DECIMAL(2,1) and would keep the lr*g product exact, converting
    # to double only at the division — the engine multiplies in double
    # from the start (F.lit(0.1) * g). The cast forces the identical
    # double multiply-then-divide sequence so round() can never see a
    # 1-ulp-different half-integer boundary.
    # greatest(n, 1): on a corpus with ZERO trainable docs, g is empty
    # (COALESCE 0) but n is 0 too — round(0.1*0/0) is NULL in DuckDB,
    # which would diverge from the engine's explicit n_train == 0
    # zero-weight guard; with the floor, delta is 0/1 = 0 and both
    # sides agree that the weights stay at the zero init.
    return f"""
WITH tr AS (
  SELECT doc_id, {SQL_TOKS_EXPR} AS toks
  FROM documents WHERE doc_id % {_QT_HOLD_MOD} <> {_QT_HOLD_RES}
),
lab AS (
  SELECT doc_id, toks, {_SQL_TEACHER_Y} AS y
  FROM tr
),
{bucket_cte("lab", "y", "f", "x")},
n AS (SELECT count(DISTINCT doc_id) AS n FROM x),
w0 AS (SELECT unnest(generate_series(0, {n_buckets - 1})) AS b, CAST(0 AS BIGINT) AS w),
{",".join(rounds)}"""


def _sql_quality_train() -> str:
    sel = ", ".join(
        f"w{r}.w AS w_micro_r{r}" for r in range(1, _QT_ROUNDS + 1)
    )
    joins = " ".join(f"JOIN w{r} USING (b)" for r in range(2, _QT_ROUNDS + 1))
    return f"""{_sql_train_prefix()}
SELECT w1.b, {sel}
FROM w1 {joins} ORDER BY w1.b"""


def _sql_quality_train_apply() -> str:
    return f"""{_sql_train_prefix()},
af AS (
  SELECT doc_id, source, {SQL_TOKS_EXPR} AS toks
  FROM documents
),
{_sql_bucket_cte("af", "source", "ff", "xf")},
{_sql_score_cte("xf", f"w{_QT_ROUNDS}", "zf", "source", "z_micro")}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN z_micro > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(z_micro) AS BIGINT) AS sum_z_micro
FROM zf GROUP BY source ORDER BY source"""


def _sql_held_cte(name: str = "hl") -> str:
    """SQL mirror of ``_held_docs`` — the ONE oracle definition of the
    held-out labeled slice, shared by the eval and calibration
    oracles."""
    return (
        f"{name} AS (\n"
        f"  SELECT doc_id, toks, {_SQL_TEACHER_Y} AS y\n"
        f"  FROM (SELECT doc_id, {SQL_TOKS_EXPR} AS toks\n"
        f"        FROM documents WHERE doc_id % {_QT_HOLD_MOD} = {_QT_HOLD_RES})\n"
        f")"
    )


def _sql_quality_train_eval(prefix: str | None = None, bucket_cte=None) -> str:
    """Eval-oracle body, parameterized the same way as _eval_frame:
    ``prefix`` is the training WITH-chain (default: the unigram
    trainer), ``bucket_cte`` the held-out featurizer."""
    prefix = _sql_train_prefix() if prefix is None else prefix
    bucket_cte = bucket_cte or _sql_bucket_cte
    nd = "greatest(CAST(c.n_docs AS DOUBLE), 1.0)"
    po = f"CAST(c.tp + c.tn AS DOUBLE) / {nd}"
    pe = (
        "CAST((c.tp + c.fp) * (c.tp + c.fn) + (c.fn + c.tn) * (c.fp + c.tn) AS DOUBLE)"
        f" / ({nd} * {nd})"
    )
    return f"""{prefix},
{_sql_held_cte("hl")},
{bucket_cte("hl", "y", "hf", "hx")},
{_sql_score_cte("hx", f"w{_QT_ROUNDS}", "hz", "y", "z")},
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pos,
         CAST(coalesce(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neg,
         CAST(coalesce(sum(CASE WHEN y = 1 AND z > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
         CAST(coalesce(sum(CASE WHEN y = 0 AND z > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
         CAST(coalesce(sum(CASE WHEN y = 1 AND z <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
         CAST(coalesce(sum(CASE WHEN y = 0 AND z <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
  FROM hz
),
gg AS (SELECT z, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS cnt_pos FROM hz GROUP BY z),
pg AS (
  SELECT z, cnt, cnt_pos,
         COALESCE(sum(cnt) OVER (ORDER BY z ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM gg
),
r AS (SELECT CAST(coalesce(sum(cnt_pos * (2 * cum_before + cnt + 1)), 0) AS BIGINT) AS r2 FROM pg)
SELECT c.n_docs, c.n_pos, c.n_neg, c.tp, c.fp, c.fn, c.tn,
       round({po}, 6) AS accuracy,
       CASE WHEN 1.0 - ({pe}) = 0.0 THEN 0.0
            ELSE round((({po}) - ({pe})) / (1.0 - ({pe})), 6) END AS kappa,
       CASE WHEN c.n_pos = 0 OR c.n_neg = 0 THEN NULL
            ELSE round(CAST(r.r2 - c.n_pos * (c.n_pos + 1) AS DOUBLE)
                       / (2.0 * CAST(c.n_pos AS DOUBLE) * CAST(c.n_neg AS DOUBLE)), 6) END AS auc
FROM c CROSS JOIN r"""


SQL_QUALITY_TRAIN = _sql_quality_train()
SQL_QUALITY_TRAIN_APPLY = _sql_quality_train_apply()
SQL_QUALITY_TRAIN_EVAL = _sql_quality_train_eval()


QUERIES30: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embed_decontaminate": q_embed_decontaminate,
    "para_dedup": q_para_dedup,
    "quality_train": q_quality_train,
    "quality_train_apply": q_quality_train_apply,
    "quality_train_eval": q_quality_train_eval,
}

ORACLES30: dict[str, str] = {
    "embed_decontaminate": SQL_EMBED_DECONTAMINATE,
    "para_dedup": SQL_PARA_DEDUP,
    "quality_train": SQL_QUALITY_TRAIN,
    "quality_train_apply": SQL_QUALITY_TRAIN_APPLY,
    "quality_train_eval": SQL_QUALITY_TRAIN_EVAL,
}
