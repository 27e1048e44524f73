"""Similarity search over an embedding column (array<float>).

* ``ann_topk_brute`` — exact brute-force cosine top-k: broadcast the (small)
  query set against the corpus scan; the corpus never shuffles, ranking is
  a window per query. The oracle baseline.
* ``ann_topk_ivf`` — IVF-style scale path: the corpus is bucketed once by
  nearest centroid (deterministic k-means-free centroids: the first C
  corpus vectors by id); a query probes only the ``nprobe`` nearest
  centroid buckets. Approximate by construction; recall measured in tests.

Cosine runs JVM-side via zip_with/aggregate (functions.hashing.cosine_col)
— no Python, no UDF. For very wide vectors a Pandas-UDF BLAS kernel would
win; at 64-dim the expression path is faster than the Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import cosine_col


def _ranked(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("corpus_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_topk_brute(queries: DataFrame, corpus: DataFrame, k: int,
                   vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos", F.round(cosine_col(F.col("qv"), F.col("cv")), 6))
    )
    return _ranked(cand, k).select("query_id", "corpus_id", "cos", "rank")


def _seed_centroids(corpus: DataFrame, n_centroids: int,
                    vec_col: str, id_col: str) -> DataFrame:
    return (
        corpus.orderBy(F.col(id_col).asc()).limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"),
                F.col(vec_col).cast("array<double>").alias("centv"))
    )


def kmeans_centroids(corpus: DataFrame, n_centroids: int, iters: int = 3,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Deterministic Lloyd's iterations as DataFrame ops.

    Seed = the ``n_centroids`` lowest-id corpus vectors; each iteration
    assigns every vector to its nearest centroid by cosine (one broadcast
    pass over the corpus — no corpus shuffle beyond the keys-only
    dim-explode agg) and re-centers on the per-dimension mean. Centroids
    that lose every member keep their previous position. The (tiny,
    C×D-doubles) centroid table is collected per iteration — driver-side
    metadata like the lineage manifest, never the corpus.

    On clustered data this fixes the degenerate seed's recall collapse
    (first-N-ids land most of the corpus in few buckets); see
    test_ann_ivf_recall_clustered.
    """
    spark = corpus.sparkSession
    cent = _seed_centroids(corpus, n_centroids, vec_col, id_col)
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    w = Window.partitionBy("corpus_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc())
    for _ in range(iters):
        assigned = (
            c.crossJoin(F.broadcast(cent))
            .withColumn("ccos", cosine_col(F.col("cv"), F.col("centv")))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select(F.col("centroid_id").alias("bucket"), "cv"))
        upd = (
            assigned.select("bucket", F.posexplode("cv").alias("pos", "val"))
            .groupBy("bucket", "pos").agg(F.avg("val").alias("m"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(F.col("bucket").alias("centroid_id"),
                    F.transform("pm", lambda s: s["m"]).alias("centv")))
        # empty clusters keep their previous centroid
        merged = {r.centroid_id: list(r.centv) for r in cent.collect()}
        merged.update({r.centroid_id: list(r.centv) for r in upd.collect()})
        cent = spark.createDataFrame(
            sorted(merged.items()), schema="centroid_id long, centv array<double>")
    return cent


def ann_topk_ivf(queries: DataFrame, corpus: DataFrame, k: int,
                 n_centroids: int = 16, nprobe: int = 4,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 centroids: str = "kmeans", kmeans_iters: int = 3) -> DataFrame:
    """IVF bucketed ANN. ``centroids="kmeans"`` (default) runs
    ``kmeans_centroids``; ``"seed"`` uses the raw lowest-id seed (the old
    degenerate behavior, kept for comparison tests).

    The bucket equi-join of corpus×probes (the probes table is
    queries×nprobe rows CARRYING FULL VECTORS) carries no hint:
    Catalyst/AQE broadcast small probe sets and shuffle-join big ones. At
    training-data scale the query side is itself a large table (e.g.
    dedup-a-shard-against-the-corpus), where a forced broadcast would OOM
    the driver.

    The two centroid-assignment crossJoins always force-broadcast ``cent``
    — that side is C×D doubles, driver-sized by construction.

    Assignment/probe cosines round to 6 digits BEFORE their rank windows
    (like the candidate ranking always did): bucket choice then depends
    only on the rounded value + centroid-id tie-break, which a SQL engine
    replays exactly — with ``centroids="seed"`` the whole operator is
    deterministic SQL (the ``ann_ivf_seed_topk`` full-oracle row).
    """
    if centroids == "kmeans":
        cent = kmeans_centroids(corpus, n_centroids, kmeans_iters,
                                vec_col, id_col)
    else:
        cent = _seed_centroids(corpus, n_centroids, vec_col, id_col)
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    # assign each corpus vector to its nearest centroid (one broadcast pass)
    assign_w = Window.partitionBy("corpus_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc())
    assigned = (
        c.crossJoin(F.broadcast(cent))
        .withColumn("ccos", F.round(cosine_col(F.col("cv"), F.col("centv")), 6))
        .withColumn("r", F.row_number().over(assign_w))
        .filter(F.col("r") == 1)
        .select("corpus_id", "cv", F.col("centroid_id").alias("bucket"))
    )
    # each query probes its nprobe nearest centroid buckets
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("centroid_id").asc())
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("qcos", F.round(cosine_col(F.col("qv"), F.col("centv")), 6))
        .withColumn("r", F.row_number().over(probe_w))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qv", F.col("centroid_id").alias("bucket"))
    )
    cand = (
        assigned.join(probes, on="bucket")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .withColumn("cos", F.round(cosine_col(F.col("qv"), F.col("cv")), 6))
    )
    return _ranked(cand, k).select("query_id", "corpus_id", "cos", "rank")


def quantize_embeddings(emb: DataFrame, bits: int = 8,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Scalar quantization of an embedding corpus for vector STORAGE at
    scale: per-dimension global [min, max] ranges map each float to an
    integer code in [0, 2^bits − 1] → (id, dim, code) rows (pack
    downstream however the store likes; at 8 bits this is the standard
    4× shrink over float32 that a 100-TB vector corpus takes before
    ANN). A constant dimension (max == min) codes to 0. Engine-exact:
    min/max of doubles are exact, the affine map is the IDENTICAL IEEE
    expression tree in the SQL twin (floats widen exactly to double in
    both engines), and round() on the same non-negative double agrees —
    so the full oracle gate verifies the codes value-exact.

    100-TB shape: one posexplode (rows ∝ N·D), a D-row min/max
    aggregate (map-side combine) broadcast back, then a map-side
    expression — no shuffle after the stats agg. Dequantization is
    lo + code·(hi−lo)/levels; max error (hi−lo)/(2·levels), tested.
    """
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    levels = (1 << bits) - 1
    d = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "v"))
    stats = d.groupBy("dim").agg(F.min("v").alias("lo"),
                                 F.max("v").alias("hi"))
    return (d.join(F.broadcast(stats), "dim")
            .select(F.col("_id").alias(id_col), "dim",
                    F.when(F.col("hi") == F.col("lo"), F.lit(0))
                    .otherwise(F.round(
                        (F.col("v") - F.col("lo"))
                        / (F.col("hi") - F.col("lo")) * levels))
                    .cast("int").alias("code")))


def semdedup(corpus: DataFrame, threshold: float = 0.95,
             n_centroids: int = 16, centroids: str = "seed",
             kmeans_iters: int = 3, vec_col: str = "embedding",
             id_col: str = "vec_id",
             max_bucket: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic dedup:
    cluster the embedding corpus, then inside each cluster drop every
    vector that has a near-identical neighbor — cosine >= ``threshold``
    — with a SMALLER id (so exactly one representative, the lowest id,
    survives each tight within-cluster duplicate knot). Returns one row
    per corpus vector: (``id_col``, bucket, kept).

    100-TB shape: the quadratic term is the WITHIN-cluster self-join —
    the paper's own design bounds it by cluster count (raise
    ``n_centroids`` as the corpus grows), and a pathological hot cluster
    is capped by ``max_bucket`` (over-cap buckets skip pruning — all
    members kept — the same sacrifice rule as embedding_near_dups). The
    drop set is keys-only; full vectors never shuffle after assignment.

    Determinism: ``centroids="seed"`` (default here, unlike ann_topk_ivf
    — dedup decisions should be replayable) + 6-digit-rounded assignment
    and pair cosines make the whole operator pure SQL; the
    ``semdedup_keep`` entry puts it under the full oracle gate.
    ``centroids="kmeans"`` runs Lloyd's for better balance; recall the
    kept-set then depends on float mean order, so it is test-gated only.
    """
    if centroids == "kmeans":
        cent = kmeans_centroids(corpus, n_centroids, kmeans_iters,
                                vec_col, id_col)
    else:
        cent = _seed_centroids(corpus, n_centroids, vec_col, id_col)
    c = corpus.select(F.col(id_col).alias("_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    w = Window.partitionBy("_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc())
    assigned = (
        c.crossJoin(F.broadcast(cent))
        .withColumn("ccos", F.round(cosine_col(F.col("cv"), F.col("centv")), 6))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("_id", "cv", F.col("centroid_id").alias("bucket"))
        # assigned feeds BOTH self-join sides and the final kept-flag
        # join, so the crossJoin+cosine+window subtree executes three
        # times per action (no exchange reuse across the renumbered
        # branches). A lazy localCheckpoint cut was tried in r6 and
        # REVERTED: at bench scale the barrier cost ~10% in every
        # same-window A/B — the recomputed subtree is cheaper than
        # blocking the pipeline. At corpus scale, persist the corpus (or
        # the assignment) upstream instead.
    )
    prunable = assigned
    if max_bucket is not None:
        ok = (assigned.groupBy("bucket").count()
              .filter(F.col("count") <= max_bucket).select("bucket"))
        prunable = assigned.join(F.broadcast(ok), "bucket", "left_semi")
    a = prunable.select("bucket", F.col("_id").alias("a"),
                        F.col("cv").alias("va"))
    b = prunable.select("bucket", F.col("_id").alias("b"),
                        F.col("cv").alias("vb"))
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select(F.col("b").alias("_id")).distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, "_id", "left")
        .select(F.col("_id").alias(id_col), "bucket",
                F.col("_dropped").isNull().alias("kept"))
    )


def semdedup_sql(threshold: float, n_centroids: int,
                 table: str = "embeddings", id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 where: str = "TRUE") -> str:
    """DuckDB twin of ``semdedup(centroids="seed")`` — seed centroid
    select, rounded-cosine assignment window, within-bucket smaller-id
    prune, left-anti kept flag. Shares the rounding/tie-break discipline
    with the ann_ivf_seed_topk oracle."""
    from ..functions.hashing import cosine_sql
    cos_cc = cosine_sql("c.e", "ct.centv")
    cos_ab = cosine_sql("a.cv", "b.cv")
    return (
        f"WITH v AS (SELECT {id_col} AS _id, {vec_col}::DOUBLE[] AS e "
        f"FROM {table} WHERE {where}), "
        f"cent AS (SELECT _id AS centroid_id, e AS centv FROM v "
        f"ORDER BY _id LIMIT {n_centroids}), "
        "assigned AS (SELECT _id, cv, bucket FROM ("
        "SELECT c._id, c.e AS cv, ct.centroid_id AS bucket, "
        "row_number() OVER (PARTITION BY c._id ORDER BY "
        f"round({cos_cc}, 6) DESC, ct.centroid_id ASC) AS r "
        "FROM v c CROSS JOIN cent ct) WHERE r = 1), "
        "dropped AS (SELECT DISTINCT b._id FROM assigned a "
        "JOIN assigned b USING (bucket) WHERE a._id < b._id "
        f"AND round({cos_ab}, 6) >= {threshold}) "
        f"SELECT a._id AS {id_col}, a.bucket, d._id IS NULL AS kept "
        "FROM assigned a LEFT JOIN dropped d ON a._id = d._id"
    )


def hard_negatives(queries: DataFrame, corpus: DataFrame, k: int,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   label_col: str = "label") -> DataFrame:
    """Contrastive-training hard-negative mining: for each query vector,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    standard in-batch-negatives upgrade for embedding-model training
    (the negatives that are hard BECAUSE they are close). Exact by
    construction (brute cosine + label anti-filter), 6-digit-rounded
    with the family's (cos DESC, id ASC) total order, so the whole
    selection is SQL-replayable (hard_negative_mining oracle row).

    100-TB shape: same contract as ann_topk_brute — the QUERY side is
    the small one (broadcast); for corpus-×-corpus mining route through
    ann_topk_ivf buckets first and anti-filter labels inside buckets.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(label_col).alias("qlabel"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(label_col).alias("clabel"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("qlabel") != F.col("clabel"))
        .withColumn("cos", F.round(cosine_col(F.col("qv"), F.col("cv")), 6))
    )
    return _ranked(cand, k).select("query_id", "corpus_id", "cos", "rank")


def hard_negatives_sql(k: int, query_where: str = "TRUE",
                       table: str = "embeddings", id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label") -> str:
    """DuckDB twin of ``hard_negatives``: the query set is the table
    rows matching ``query_where`` (a predicate over the alias ``q``,
    e.g. ``"q.vec_id < 20"``); the corpus is the whole table."""
    from ..functions.hashing import cosine_sql
    cos = cosine_sql("q.e", "c.e")
    return (
        f"WITH v AS (SELECT {id_col}, {label_col} AS lbl, "
        f"{vec_col}::DOUBLE[] AS e FROM {table}), "
        f"cand AS (SELECT q.{id_col} AS query_id, c.{id_col} AS corpus_id, "
        f"round({cos}, 6) AS cos FROM v q CROSS JOIN v c "
        f"WHERE ({query_where}) AND q.lbl != c.lbl) "
        "SELECT query_id, corpus_id, cos, rank FROM ("
        "SELECT query_id, corpus_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank "
        f"FROM cand) WHERE rank <= {k}"
    )


def quantize_embeddings_sql(bits: int = 8, table: str = "embeddings",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> str:
    """DuckDB twin of ``quantize_embeddings`` (0-based dims)."""
    levels = (1 << bits) - 1
    return (
        f"WITH d AS (SELECT {id_col} AS _id, "
        f"generate_subscripts({vec_col}, 1) - 1 AS dim, "
        f"unnest({vec_col})::DOUBLE AS v FROM {table}), "
        "s AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM d "
        "GROUP BY 1) "
        f"SELECT _id AS {id_col}, dim, CASE WHEN hi = lo THEN 0 ELSE "
        f"CAST(round((v - lo) / (hi - lo) * {levels}) AS INTEGER) END "
        "AS code FROM d JOIN s USING (dim)"
    )


def _pq_dist_micro(vecs: DataFrame, cb: DataFrame,
                   sub_dims: int) -> DataFrame:
    """Per-(vector, subspace, centroid) squared-L2 distance in INTEGER
    micro units: each per-dimension squared diff rounds to micros
    BEFORE the sum (the bm25 discipline — double-sum order is
    engine-dependent; the integer sum is not). ``vecs`` = (_vid, dim,
    v); ``cb`` = (centroid_id, dim, cv); dims are global, the subspace
    is dim div sub_dims."""
    return (vecs.join(F.broadcast(cb), "dim")
            .withColumn("_dm", F.expr(
                "CAST(round((v - cv) * (v - cv) * 1000000.0) AS BIGINT)"))
            .groupBy("_vid",
                     F.expr(f"dim div {sub_dims}").alias("sub"),
                     "centroid_id")
            .agg(F.sum("_dm").alias("d_micro")))


def pq_codebook(corpus: DataFrame, m: int = 8, n_centroids: int = 16,
                dims: int | None = None, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Product-quantization codebook, SEED variant (the n_centroids
    lowest-id corpus vectors, like ``_seed_centroids`` — deterministic,
    so the whole PQ pipeline is SQL-replayable; a kmeans codebook would
    slot in the same shape rows-only). Returns (centroid_id, dim, cv)
    with GLOBAL dims — subspace j covers dims [j·D/m, (j+1)·D/m)."""
    if dims is None:
        dims = corpus.select(F.size(vec_col)).first()[0]
    if dims % m != 0:
        raise ValueError(f"pq: dims {dims} not divisible by m {m}")
    seeds = corpus.orderBy(F.col(id_col).asc()).limit(n_centroids)
    return seeds.select(
        F.col(id_col).alias("centroid_id"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "cv"))


def pq_encode(corpus: DataFrame, m: int = 8, n_centroids: int = 16,
              dims: int | None = None, vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Product quantization (Jégou et al., TPAMI 2011): split D dims
    into ``m`` contiguous subspaces, code each subvector as its nearest
    codebook centroid by squared L2 → (id, sub, code) rows, ``m``
    small codes per vector — the log₂(k)·m-bit representation a 100-TB
    vector corpus stores instead of floats (64-dim float32 at m=8,
    k=16: 256 bytes → 4 bytes).

    Engine-exact: per-dim squared diffs round to integer micros before
    the subspace sum, and the argmin is the TOTAL (d_micro ASC,
    centroid_id ASC) order — ``pq_encode_sql`` replays the codes
    value-identically (the ``pq_codes`` oracle row).

    100-TB shape: the codebook is m·k·(D/m) doubles broadcast; the
    corpus explodes to N·D rows, joins the broadcast, and aggregates
    map-side to N·m·k then N·m — one shuffle on the vector id, no
    all-pairs anywhere."""
    if dims is None:
        dims = corpus.select(F.size(vec_col)).first()[0]
    if dims % m != 0:
        raise ValueError(f"pq: dims {dims} not divisible by m {m}")
    cb = pq_codebook(corpus, m, n_centroids, dims, vec_col, id_col)
    d = corpus.select(
        F.col(id_col).alias("_vid"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "v"))
    dist = _pq_dist_micro(d, cb, dims // m)
    w = Window.partitionBy("_vid", "sub").orderBy(
        F.col("d_micro").asc(), F.col("centroid_id").asc())
    return (dist.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select(F.col("_vid").alias(id_col), "sub",
                    F.col("centroid_id").alias("code")))


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int, m: int = 8,
            n_centroids: int = 16, dims: int | None = None,
            vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays a
    float vector, each corpus vector is its m codes, and the distance
    is the sum of per-subspace (query-subvector → coded centroid)
    table lookups — the standard PQ search. Returns (query_id,
    corpus_id, adist_micro, rank), nearest first, approximate by
    construction (codes quantize; recall measured in tests).

    100-TB shape: the per-query distance TABLE is Q·m·k integers
    (broadcast); the corpus side is its codes (N·m rows, no floats) —
    one equi-join on (sub, code) + one keys-only sum per pair, then the
    per-query rank window. Integer micro sums keep it engine-exact
    under the full oracle (``pq_adc_topk``)."""
    if dims is None:
        dims = corpus.select(F.size(vec_col)).first()[0]
    if dims % m != 0:
        raise ValueError(f"pq: dims {dims} not divisible by m {m}")
    cb = pq_codebook(corpus, m, n_centroids, dims, vec_col, id_col)
    codes = pq_encode(corpus, m, n_centroids, dims, vec_col, id_col)
    qd = queries.select(
        F.col(id_col).alias("_vid"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "v"))
    qtab = (_pq_dist_micro(qd, cb, dims // m)
            .select(F.col("_vid").alias("query_id"), "sub",
                    F.col("centroid_id").alias("code"),
                    "d_micro"))
    cand = (codes.select(F.col(id_col).alias("corpus_id"), "sub", "code")
            .join(F.broadcast(qtab), ["sub", "code"])
            .filter(F.col("query_id") != F.col("corpus_id"))
            .groupBy("query_id", "corpus_id")
            .agg(F.sum("d_micro").alias("adist_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_micro").asc(), F.col("corpus_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "adist_micro", "rank"))


def _pq_sql_parts(m: int, n_centroids: int, dims: int,
                  table: str, id_col: str, vec_col: str) -> str:
    sd = dims // m
    return (
        f"WITH v AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS e "
        f"FROM {table}), "
        f"seeds AS (SELECT vid AS centroid_id, e FROM v "
        f"ORDER BY vid LIMIT {n_centroids}), "
        "cb AS (SELECT centroid_id, g.i - 1 AS dim, e[g.i] AS cv "
        "FROM seeds, unnest(generate_series(1, len(e))) AS g(i)), "
        "d AS (SELECT vid, g.i - 1 AS dim, e[g.i] AS val "
        "FROM v, unnest(generate_series(1, len(e))) AS g(i)), "
        "dist AS (SELECT d.vid, cb.centroid_id, "
        f"(d.dim // {sd}) AS sub, "
        "sum(CAST(round((d.val - cb.cv) * (d.val - cb.cv) * 1000000.0) "
        "AS BIGINT)) AS d_micro "
        "FROM d JOIN cb USING (dim) GROUP BY 1, 2, 3), "
        "codes AS (SELECT vid, sub, centroid_id AS code FROM ("
        "SELECT vid, sub, centroid_id, row_number() OVER ("
        "PARTITION BY vid, sub ORDER BY d_micro ASC, centroid_id ASC) "
        "AS r FROM dist) WHERE r = 1)")


def pq_encode_sql(m: int = 8, n_centroids: int = 16, dims: int = 64,
                  table: str = "embeddings", id_col: str = "vec_id",
                  vec_col: str = "embedding") -> str:
    """DuckDB twin of ``pq_encode`` (dims must be passed — the SQL form
    cannot infer it)."""
    return (_pq_sql_parts(m, n_centroids, dims, table, id_col, vec_col)
            + f" SELECT vid AS {id_col}, sub, code FROM codes")


def pq_topk_sql(k: int, m: int = 8, n_centroids: int = 16, dims: int = 64,
                query_where: str = "TRUE", table: str = "embeddings",
                id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """DuckDB twin of ``pq_topk`` with the query set selected by
    ``query_where`` over the dist CTE's vid."""
    return (
        _pq_sql_parts(m, n_centroids, dims, table, id_col, vec_col)
        + ", qtab AS (SELECT vid AS query_id, sub, centroid_id AS code, "
        f"d_micro FROM dist WHERE {query_where.replace('q.', '')}), "
        "cand AS (SELECT q.query_id, c.vid AS corpus_id, "
        "sum(q.d_micro) AS adist_micro FROM codes c "
        "JOIN qtab q ON q.sub = c.sub AND q.code = c.code "
        "WHERE q.query_id != c.vid GROUP BY 1, 2) "
        "SELECT query_id, corpus_id, adist_micro, rank FROM ("
        "SELECT query_id, corpus_id, adist_micro, row_number() OVER ("
        "PARTITION BY query_id ORDER BY adist_micro ASC, corpus_id ASC) "
        f"AS rank FROM cand) WHERE rank <= {k}")
