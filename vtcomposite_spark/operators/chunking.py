"""Corpus preparation for training pipelines: fixed-token chunking with
overlap, and deterministic hash sampling.

Both are SQL-replayable (md5 + integer arithmetic only) so the DuckDB
oracle gate verifies them value-exact, and both avoid the O(L²)
higher-order-lambda trap: chunking EXPLODES tokens to rows and assigns
each token to its (≤ chunk/stride) covering chunks, then groups — rows ∝
tokens × small duplication factor, never array-slicing per chunk over a
carried parent array (which duplicates the full token array per chunk
row through the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def chunk_documents(docs: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 32, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """One row per chunk: (id, chunk_idx, n_tokens, chunk_text).

    Chunk k covers token positions [k·stride, k·stride + chunk_tokens)
    with stride = chunk_tokens − overlap; chunks exist for every start
    below the document's token count (the final chunk may be short).
    Plan: posexplode tokens → each token explodes to its covering chunk
    indices (a ``sequence`` of at most ⌈chunk/stride⌉ values) → groupBy
    (id, chunk) rebuilding the chunk text from position-sorted tokens.
    Deterministic; zero-token documents produce no chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    w = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(TX.tokens_col(F.col(text_col))).alias("pos", "w"))
    k_min = F.greatest(
        F.ceil((F.col("pos") - F.lit(chunk_tokens - 1)) / F.lit(stride)),
        F.lit(0)).cast("long")
    k_max = F.floor(F.col("pos") / F.lit(stride)).cast("long")
    wk = w.select("_id", "pos", "w",
                  F.explode(F.sequence(k_min, k_max)).alias("chunk_idx"))
    return (wk.groupBy("_id", "chunk_idx")
            .agg(F.count("*").alias("n_tokens"),
                 F.array_sort(F.collect_list(F.struct("pos", "w")))
                 .alias("_ps"))
            .select(F.col("_id").alias(id_col), "chunk_idx", "n_tokens",
                    F.concat_ws(" ", F.transform("_ps", lambda s: s["w"]))
                    .alias("chunk_text")))


def chunk_documents_sql(chunk_tokens: int = 128, overlap: int = 32,
                        table: str = "documents",
                        id_col: str = "doc_id",
                        text_col: str = "text") -> str:
    """DuckDB twin of chunk_documents — the slice-per-chunk expression
    form (fine at oracle scale)."""
    stride = chunk_tokens - overlap
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    return (
        f"WITH w AS (SELECT {id_col}, {ws} AS ws FROM {table}), "
        "c AS (SELECT *, unnest(generate_series(0, "
        f"CAST(floor((len(ws) - 1) / {stride}) AS BIGINT))) AS chunk_idx "
        "FROM w WHERE len(ws) > 0) "
        f"SELECT {id_col}, chunk_idx, "
        f"len(ws[chunk_idx * {stride} + 1 : "
        f"chunk_idx * {stride} + {chunk_tokens}]) AS n_tokens, "
        f"array_to_string(ws[chunk_idx * {stride} + 1 : "
        f"chunk_idx * {stride} + {chunk_tokens}], ' ') AS chunk_text "
        "FROM c"
    )


def distinctive_terms(docs: DataFrame, group_col: str = "lang",
                      text_col: str = "text", k: int = 5,
                      id_col: str = "doc_id") -> DataFrame:
    """Top-k distinctive terms per group: term frequency within the group
    weighted against corpus-wide document frequency — the tf-idf shape
    with an INTEGER score (tf · 1,000,000 / df, rank-equivalent to
    tf/df weighting) so both engines compute identical values; a float
    ln() would differ in the last ulp between libms and break the
    value-hash oracle. Ties break by (score desc, term asc).

    Plan: one explode → per-(group, term) counts (map-side combine) →
    corpus df from per-(term, doc) distincts → broadcast-friendly join on
    term → per-group row_number window over the small aggregate."""
    from pyspark.sql import Window

    w = docs.select(F.col(group_col).alias("grp"),
                    F.col(id_col).alias("_id"),
                    F.explode(TX.tokens_col(F.col(text_col))).alias("term"))
    tf = w.groupBy("grp", "term").agg(F.count("*").alias("tf"))
    df_ = (w.select("term", "_id").distinct()
           .groupBy("term").agg(F.count("*").alias("df")))
    scored = (tf.join(df_, on="term")
              .withColumn("score",
                          F.floor(F.col("tf") * F.lit(1_000_000)
                                  / F.col("df")).cast("long")))
    rank_w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("term_rank", F.row_number().over(rank_w))
            .filter(F.col("term_rank") <= k)
            .select(F.col("grp").alias(group_col), "term", "tf", "df",
                    "score", "term_rank"))


def distinctive_terms_sql(group_col: str = "lang", text_col: str = "text",
                          k: int = 5, id_col: str = "doc_id",
                          table: str = "documents") -> str:
    """DuckDB twin of distinctive_terms."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    return (
        f"WITH w AS (SELECT {group_col} AS grp, {id_col} AS _id, "
        f"unnest({ws}) AS term FROM {table}), "
        "tf AS (SELECT grp, term, count(*) AS tf FROM w GROUP BY 1, 2), "
        "d AS (SELECT term, count(*) AS df FROM "
        "(SELECT DISTINCT term, _id FROM w) GROUP BY 1), "
        "s AS (SELECT grp, term, tf, df, "
        "CAST(floor(tf * 1000000.0 / df) AS BIGINT) AS score, "
        "row_number() OVER (PARTITION BY grp ORDER BY "
        "CAST(floor(tf * 1000000.0 / df) AS BIGINT) DESC, term ASC) AS term_rank "
        "FROM tf JOIN d USING (term)) "
        f"SELECT grp AS {group_col}, term, tf, df, score, term_rank "
        f"FROM s WHERE term_rank <= {k}"
    )


def unigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Self-perplexity quality signal (the CCNet/Wiki-LM filter shape
    with the corpus itself as the language model): per document, the
    average per-token surprisal −ln(tf_corpus/T) under the corpus's
    unigram distribution → (id, n_tokens, surprisal_micro_sum,
    avg_surprisal_micro). LOW average = common/boilerplate-heavy text;
    HIGH = rare-token/noisy text — both tails are the usual cut
    candidates. Zero-token documents emit nothing.

    Oracle discipline: each token's surprisal rounds to an integer MICRO
    value BEFORE the per-doc sum (order-independent; ln() is the only
    libm call — the ann_*/bm25 rule), and the average is the IEEE double
    division sum/n floored, identical in both engines.

    100-TB shape: one explode (rows ∝ tokens), term counts with map-side
    combine, an unhinted term-keyed join of tokens to counts (AQE
    broadcasts a vocabulary that fits and shuffle-joins one that does
    not), T as a broadcast 1-row aggregate, then a keys-only per-doc
    groupBy.
    """
    toks = docs.select(F.col(id_col).alias("_id"),
                       F.explode(TX.tokens_col(F.col(text_col))).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    per_tok = (toks.join(counts, "term")
               .crossJoin(F.broadcast(total))
               .select("_id", F.round(
                   F.log(F.col("total").cast("double") / F.col("cnt"))
                   * F.lit(1000000.0)).cast("long").alias("micro")))
    return (per_tok.groupBy("_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("micro").alias("surprisal_micro_sum"))
            .select(F.col("_id").alias(id_col), "n_tokens",
                    "surprisal_micro_sum",
                    F.floor(F.col("surprisal_micro_sum")
                            / F.col("n_tokens")).cast("long")
                    .alias("avg_surprisal_micro")))


def unigram_surprisal_sql(table: str = "documents", id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    """DuckDB twin of unigram_surprisal."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    return (
        f"WITH t AS (SELECT {id_col} AS _id, unnest({ws}) AS term "
        f"FROM {table}), "
        "c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1), "
        "s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c), "
        "p AS (SELECT _id, CAST(round(ln(CAST(total AS DOUBLE) / cnt) "
        "* 1000000.0) AS BIGINT) AS micro FROM t JOIN c USING (term), s) "
        f"SELECT _id AS {id_col}, count(*) AS n_tokens, "
        "CAST(sum(micro) AS BIGINT) AS surprisal_micro_sum, "
        "CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT) "
        "AS avg_surprisal_micro FROM p GROUP BY 1"
    )


def _half_up_thresh(fraction: float) -> int:
    """fraction·10,000 rounded HALF-UP — matching Spark/DuckDB ``round``
    (Python's ``round`` is banker's: round(2.5)=2, a silent ~50% kept-set
    difference at tie fractions)."""
    import math
    return int(math.floor(fraction * 10000 + 0.5))


def sample_by_hash(df: DataFrame, fraction: float, key_col: str,
                   salt: str = "s0") -> DataFrame:
    """Deterministic, repeatable sampling: keep rows whose md5-derived
    bucket (first 4 hex chars of md5(salt || key) → int in [0, 65536),
    mod 10,000) falls below fraction·10,000. Unlike ``df.sample`` this is
    STABLE across runs/engines/partitionings — the property a
    training-data pipeline needs for reproducible subsets — and
    stratification is just a different salt per stratum. Uses the
    engine-agnostic strpos hex arithmetic (functions.hashing), the same
    primitive every oracle-gated hash here builds on.

    The fraction→threshold rounding is HALF-UP (0.00025 keeps 3 of
    10,000 buckets) — the same rule ``sample_mixture``'s column-valued
    thresholds get from Spark's/DuckDB's ``round``, so moving a stratum
    between the two operators at the same rate keeps the same bucket
    set."""
    from ..functions.hashing import _hex4_to_int_col
    bucket = _hex4_to_int_col(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))) % 10000
    return df.filter(bucket < _half_up_thresh(fraction))


def sample_by_hash_sql(fraction: float, key_col: str,
                       salt: str = "s0") -> str:
    """DuckDB twin: the WHERE predicate of sample_by_hash."""
    from ..functions.hashing import hex4_to_int_sql
    thresh = _half_up_thresh(fraction)
    h = f"md5('{salt}' || {key_col}::VARCHAR)"
    return f"(({hex4_to_int_sql(h)}) % 10000) < {thresh}"


def sample_mixture(docs: DataFrame, rates, group_col: str = "lang",
                   id_col: str = "doc_id", salt: str = "mix",
                   default_rate: float = 0.0) -> DataFrame:
    """Corpus MIXING: per-group deterministic sampling rates — downsample
    the dominant source, keep low-resource groups whole; the data-mixture
    step a pretraining corpus build ends with.

    ``rates``: ``{group: fraction}`` dict or a (group, rate) DataFrame;
    groups absent from it keep ``default_rate``. Keep-decisions use the
    same md5 bucket as ``sample_by_hash`` (stable across runs, engines
    and partitionings) and are per-doc independent, so a group's rate can
    be changed later without reshuffling which OTHER docs survive.

    100-TB shape: the rates table is tiny and broadcasts; the filter is a
    map-side predicate on the scan — no shuffle at all.
    """
    from ..functions.hashing import _hex4_to_int_col

    if isinstance(rates, dict):
        rates_df = docs.sparkSession.createDataFrame(
            [(k, float(v)) for k, v in sorted(rates.items())],
            f"{group_col} string, rate double")
    else:
        rates_df = rates
    bucket = _hex4_to_int_col(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))) % 10000
    thresh = F.round(
        F.coalesce(F.col("rate"), F.lit(float(default_rate))) * 10000) \
        .cast("long")
    return (docs.join(F.broadcast(rates_df), on=group_col, how="left")
            .filter(bucket < thresh)
            .drop("rate"))

def dsir_logratio(docs: DataFrame, target: DataFrame,
                  buckets: int = 4096, id_col: str = "doc_id",
                  text_col: str = "text", salt: str = "dsir") -> DataFrame:
    """Data Selection via Importance Resampling (the DSIR shape, Xie et
    al. 2023): score every raw document by how much more likely its
    tokens are under a TARGET subcorpus's hashed-unigram distribution
    than under the raw corpus's own → (id, n_tokens,
    logratio_micro_sum, avg_logratio_micro). HIGH average = looks like
    the target; resampling then keeps docs by weight (pair with
    ``sample_by_hash``/``cap_per_group`` downstream).

    Features are hashed token buckets (md5(salt||term) → [0, buckets),
    the paper's hashed n-gram trick), with add-1 smoothing on both
    distributions; each token contributes
    round(ln(((t_b+1)/(T+B)) / ((r_b+1)/(R+B))) · 10⁶) where t_b/r_b are
    the token's bucket counts in target/raw and T/R the total token
    counts. The per-token value rounds to an integer MICRO score BEFORE
    the per-doc sum (order-independent; ln() is the only libm call — the
    bm25/surprisal rule), and both double divisions are written
    identically in the SQL twin, so the full oracle gate verifies it
    value-exact.

    100-TB shape: both bucket-count tables have ≤ ``buckets`` ≤ 65,536
    rows and are always broadcast; totals are 1-row broadcast aggregates;
    the token explode is rows ∝ tokens with map-side-combine counts and
    a keys-only per-doc groupBy. No all-pairs, no driver collect.
    """
    from ..functions.hashing import _hex4_to_int_col

    if not 1 <= buckets <= 65536:
        raise ValueError("buckets must be in [1, 65536] (md5 hex4 range)")

    def toks(df):
        t = df.select(F.col(id_col).alias("_id"),
                      F.explode(TX.tokens_col(F.col(text_col)))
                      .alias("term"))
        return t.select("_id", (_hex4_to_int_col(
            F.md5(F.concat(F.lit(salt), F.col("term"))))
            % buckets).alias("b"))

    raw = toks(docs)
    rc = raw.groupBy("b").agg(F.count("*").alias("rcnt"))
    tc = toks(target).groupBy("b").agg(F.count("*").alias("tcnt"))
    tot = rc.agg(F.sum("rcnt").alias("rtot")).crossJoin(
        tc.agg(F.coalesce(F.sum("tcnt"), F.lit(0)).alias("ttot")))
    # ≤ buckets ≤ 65,536 rows each, whatever the corpus size
    rc, tc = F.broadcast(rc), F.broadcast(tc)
    num = ((F.coalesce(F.col("tcnt"), F.lit(0)) + 1).cast("double")
           / (F.col("ttot") + buckets))
    den = ((F.col("rcnt") + 1).cast("double")
           / (F.col("rtot") + buckets))
    per_tok = (raw.join(rc, "b").join(tc, "b", "left")
               .crossJoin(F.broadcast(tot))
               .select("_id", F.round(F.log(num / den) * 1000000.0)
                       .cast("long").alias("micro")))
    return (per_tok.groupBy("_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("micro").alias("logratio_micro_sum"))
            .select(F.col("_id").alias(id_col), "n_tokens",
                    "logratio_micro_sum",
                    F.floor(F.col("logratio_micro_sum")
                            / F.col("n_tokens")).cast("long")
                    .alias("avg_logratio_micro")))


def dsir_logratio_sql(target_where: str, buckets: int = 4096,
                      table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", salt: str = "dsir") -> str:
    """DuckDB twin of ``dsir_logratio`` with the target subcorpus given
    as a WHERE clause over the same table."""
    from ..functions.hashing import hex4_to_int_sql

    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    h = f"md5('{salt}' || term)"
    b = f"(({hex4_to_int_sql(h)}) % {buckets})"
    return (
        f"WITH w AS (SELECT {id_col} AS _id, unnest({ws}) AS term "
        f"FROM {table}), "
        f"t AS (SELECT _id, {b} AS b FROM w), "
        f"wt AS (SELECT unnest({ws}) AS term FROM {table} "
        f"WHERE {target_where}), "
        f"tt AS (SELECT {b} AS b FROM wt), "
        "rc AS (SELECT b, count(*) AS rcnt FROM t GROUP BY 1), "
        "tc AS (SELECT b, count(*) AS tcnt FROM tt GROUP BY 1), "
        "tot AS (SELECT (SELECT CAST(sum(rcnt) AS BIGINT) FROM rc) AS rtot, "
        "(SELECT CAST(coalesce(sum(tcnt), 0) AS BIGINT) FROM tc) AS ttot), "
        "p AS (SELECT _id, CAST(round(ln("
        f"(CAST(coalesce(tc.tcnt, 0) + 1 AS DOUBLE) / (tot.ttot + {buckets}))"
        f" / (CAST(rc.rcnt + 1 AS DOUBLE) / (tot.rtot + {buckets}))"
        ") * 1000000.0) AS BIGINT) AS micro "
        "FROM t JOIN rc USING (b) LEFT JOIN tc USING (b), tot) "
        f"SELECT _id AS {id_col}, count(*) AS n_tokens, "
        "CAST(sum(micro) AS BIGINT) AS logratio_micro_sum, "
        "CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT) "
        "AS avg_logratio_micro FROM p GROUP BY 1"
    )


def cap_per_group(docs: DataFrame, n: int, group_col: str = "source",
                  order_col: str = "n_chars", id_col: str = "doc_id",
                  salt_partitions: int = 0) -> DataFrame:
    """Per-group document cap (the C4/RefinedWeb host-cap pass): keep at
    most ``n`` documents per ``group_col``, best-first by
    (``order_col`` DESC, ``id_col`` ASC) — a TOTAL order, so the kept
    set is deterministic across engines and partitionings. Output = the
    input columns plus the 1-based ``grp_rank``.

    ``salt_partitions > 1`` turns on the bm25-style two-phase exact
    prune for hot groups (one host owning a large share of the corpus):
    a first window over (group, crc32(id) % S) keeps n rows per salt
    bucket, then the global per-group window ranks the ≤ n·S survivors —
    exact because any row in the group's true top-n is also in its salt
    bucket's top-n under the same total order."""
    from pyspark.sql.window import Window

    order = [F.col(order_col).desc(), F.col(id_col).asc()]
    src = docs
    if salt_partitions > 1:
        pre = Window.partitionBy(
            F.col(group_col),
            F.crc32(F.col(id_col).cast("string")) % salt_partitions
        ).orderBy(*order)
        src = (src.withColumn("_pre_rank", F.row_number().over(pre))
               .filter(F.col("_pre_rank") <= n).drop("_pre_rank"))
    w = Window.partitionBy(group_col).orderBy(*order)
    return (src.withColumn("grp_rank", F.row_number().over(w))
            .filter(F.col("grp_rank") <= n))


def cap_per_group_sql(n: int, group_col: str = "source",
                      order_col: str = "n_chars", id_col: str = "doc_id",
                      table: str = "documents") -> str:
    """DuckDB twin of ``cap_per_group`` (salt prune omitted — exact)."""
    return (
        f"SELECT *, row_number() OVER (PARTITION BY {group_col} "
        f"ORDER BY {order_col} DESC, {id_col} ASC) AS grp_rank "
        f"FROM {table} QUALIFY grp_rank <= {n}"
    )


def pack_sequences(docs: DataFrame, seq_tokens: int = 2048,
                   id_col: str = "doc_id", text_col: str = "text",
                   bucket_docs: int = 4096) -> DataFrame:
    """Sequence PACKING (the GPT-style concat-and-chunk pretraining
    step): conceptually concatenate every document's tokens in
    ``id_col`` order and split the stream into fixed ``seq_tokens``
    windows; emit the (sequence, document) assignment map →
    (seq_idx, id, doc_tok_start, seq_tok_start, n_toks) — one row per
    document-slice, from which a trainer materializes each sequence by
    slicing its documents in (seq_tok_start) order. Zero-token documents
    vanish (they contribute no tokens). Pure integer arithmetic — fully
    SQL-replayable.

    The global token offset is the interesting part at scale: the naive
    plan is ONE unpartitioned window cumsum (every row through a single
    task — the classic Spark prefix-sum trap). This runs the textbook
    DISTRIBUTED prefix sum instead: docs bucket by id range
    (``bucket_docs`` per bucket), per-bucket token totals aggregate
    small, the bucket-offset cumsum runs over #buckets rows only, and
    the per-doc cumsum windows WITHIN each bucket — no full-data
    single-partition stage. Size ``bucket_docs`` so #buckets stays
    executor-sized (at 10¹² docs, 10⁶ docs/bucket → a 10⁶-row offsets
    table; add a second bucketing level before that table itself needs
    one). The oracle twin uses the naive global window — identical
    values, oracle-scale only.
    """
    if seq_tokens < 1:
        raise ValueError("seq_tokens must be >= 1")
    t = (docs.select(F.col(id_col).alias("_id"),
                     TX.token_count_col(F.col(text_col)).alias("n"))
         .filter(F.col("n") > 0)
         .withColumn("_bkt", F.floor(F.col("_id") / bucket_docs)))
    btot = t.groupBy("_bkt").agg(F.sum("n").alias("btot"))
    from pyspark.sql.window import Window
    boff = btot.select(
        "_bkt",
        (F.sum("btot").over(Window.orderBy("_bkt")
                            .rowsBetween(Window.unboundedPreceding, -1)))
        .alias("boff")).fillna({"boff": 0})
    win = (Window.partitionBy("_bkt").orderBy("_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    placed = (t.join(F.broadcast(boff), "_bkt")
              .select("_id", "n",
                      (F.col("boff")
                       + F.coalesce(F.sum("n").over(win), F.lit(0)))
                      .alias("off")))
    s_min = F.floor(F.col("off") / seq_tokens).cast("long")
    s_max = F.floor((F.col("off") + F.col("n") - 1) / seq_tokens) \
        .cast("long")
    spans = placed.select(
        "_id", "n", "off",
        F.explode(F.sequence(s_min, s_max)).alias("seq_idx"))
    lo = F.greatest(F.col("off"), F.col("seq_idx") * seq_tokens)
    hi = F.least(F.col("off") + F.col("n"),
                 (F.col("seq_idx") + 1) * seq_tokens)
    return spans.select(
        "seq_idx", F.col("_id").alias(id_col),
        (lo - F.col("off")).cast("long").alias("doc_tok_start"),
        (lo - F.col("seq_idx") * seq_tokens).cast("long")
        .alias("seq_tok_start"),
        (hi - lo).cast("long").alias("n_toks"))


def pack_sequences_sql(seq_tokens: int = 2048, table: str = "documents",
                       id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """DuckDB twin of ``pack_sequences`` — the naive single global
    window cumsum (fine at oracle scale)."""
    cnt = TX.TOKEN_COUNT_SQL.format(c=text_col)
    return (
        f"WITH t AS (SELECT {id_col} AS _id, {cnt} AS n FROM {table}), "
        "p AS (SELECT _id, n, CAST(coalesce(sum(n) OVER ("
        "ORDER BY _id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        "), 0) AS BIGINT) AS off FROM t WHERE n > 0), "
        "s AS (SELECT _id, n, off, unnest(generate_series("
        f"CAST(floor(off / {seq_tokens}) AS BIGINT), "
        f"CAST(floor((off + n - 1) / {seq_tokens}) AS BIGINT))) AS seq_idx "
        "FROM p) "
        f"SELECT seq_idx, _id AS {id_col}, "
        f"greatest(off, seq_idx * {seq_tokens}) - off AS doc_tok_start, "
        f"greatest(off, seq_idx * {seq_tokens}) - seq_idx * {seq_tokens} "
        "AS seq_tok_start, "
        f"least(off + n, (seq_idx + 1) * {seq_tokens}) "
        f"- greatest(off, seq_idx * {seq_tokens}) AS n_toks FROM s"
    )


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, w1, w2) — one row per adjacent token pair, via ONE
    posexplode + ONE lead() window on the doc id (the repetition_stats
    pass shape; rows ∝ tokens, no array slicing)."""
    from pyspark.sql.window import Window

    w = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(TX.tokens_col(F.col(text_col))).alias("pos", "w1"))
    win = Window.partitionBy("_id").orderBy("pos")
    return (w.select("_id", "w1", F.lead("w1").over(win).alias("w2"))
            .filter(F.col("w2").isNotNull()))


def bigram_merge_candidates(docs: DataFrame, k: int = 20,
                            min_count: int = 2, id_col: str = "doc_id",
                            text_col: str = "text",
                            salt_partitions: int = 0) -> DataFrame:
    """Corpus-wide top-k adjacent token pairs → (w1, w2, cnt,
    pair_rank): the counting step a BPE/WordPiece TOKENIZER TRAINING
    loop runs each merge round (the highest-count pair is the next
    merge), also the input to collocation mining. Ranking is the TOTAL
    order (cnt DESC, w1 ASC, w2 ASC), so the winner set is deterministic
    across engines and partitionings.

    100-TB shape: pair counts are one explode + one window + a
    map-side-combine groupBy; ``min_count`` prunes the (vocab²-bounded)
    pair table before the rank window, and ``salt_partitions > 1`` turns
    on the bm25-style two-phase exact top-k for the final global rank
    (per-salt top-k ⊇ global top-k under a total order)."""
    from pyspark.sql.window import Window

    pairs = (_bigrams(docs, id_col, text_col)
             .groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
             .filter(F.col("cnt") >= min_count))
    order = [F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc()]
    if salt_partitions > 1:
        pre = Window.partitionBy(
            F.crc32(F.concat_ws("\x00", "w1", "w2")) % salt_partitions
        ).orderBy(*order)
        pairs = (pairs.withColumn("_pr", F.row_number().over(pre))
                 .filter(F.col("_pr") <= k).drop("_pr"))
    w = Window.orderBy(*order)
    return (pairs.withColumn("pair_rank", F.row_number().over(w))
            .filter(F.col("pair_rank") <= k))


def bigram_merge_candidates_sql(k: int = 20, min_count: int = 2,
                                table: str = "documents",
                                id_col: str = "doc_id",
                                text_col: str = "text") -> str:
    """DuckDB twin of ``bigram_merge_candidates``."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    return (
        f"WITH w AS (SELECT {ws} AS ws FROM {table}), "
        "b AS (SELECT unnest(list_transform(generate_series(1, "
        "len(ws) - 1), i -> ws[i])) AS w1, "
        "unnest(list_transform(generate_series(1, len(ws) - 1), "
        "i -> ws[i + 1])) AS w2 FROM w), "
        "c AS (SELECT w1, w2, count(*) AS cnt FROM b GROUP BY 1, 2), "
        "r AS (SELECT w1, w2, cnt, row_number() OVER (ORDER BY cnt DESC, "
        f"w1 ASC, w2 ASC) AS pair_rank FROM c WHERE cnt >= {min_count}) "
        f"SELECT w1, w2, cnt, pair_rank FROM r WHERE pair_rank <= {k}"
    )


def bigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Context-aware LM quality signal: per document, the average
    bigram surprisal −ln p(w2|w1) under the corpus's own add-1-smoothed
    bigram model, p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V) with c(w1·) the
    count of w1 as a bigram head and V the corpus's distinct-token
    vocabulary size → (id, n_bigrams, surprisal_micro_sum,
    avg_surprisal_micro). Sharper than ``unigram_surprisal`` at flagging
    word-salad text (high) and templated boilerplate (low): it scores
    transitions, not token identity. Documents with < 2 tokens emit
    nothing.

    Oracle discipline: each bigram's surprisal = round(ln((c1+V)/
    (c12+1))·10⁶) — integer arithmetic inside the (positive) ln, rounded
    BEFORE the order-independent per-doc sum; the bm25/dsir rule.

    100-TB shape: pair counts and head counts are map-side-combine
    groupBys; the per-bigram joins key on (w1, w2)/(w1) and carry no hint
    (the pair vocabulary is corpus-sized; AQE broadcasts it only when it
    fits), V rides a 1-row broadcast, and the per-doc rollup is
    keys-only.
    """
    bg = _bigrams(docs, id_col, text_col)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (docs.select(F.explode(TX.tokens_col(F.col(text_col)))
                         .alias("w")).agg(F.count_distinct("w").alias("v")))
    per = (bg.join(c12, ["w1", "w2"]).join(c1, "w1")
           .crossJoin(F.broadcast(vocab))
           .select("_id", F.round(F.log(
               (F.col("c1") + F.col("v")).cast("double")
               / (F.col("c12") + 1)) * 1000000.0)
               .cast("long").alias("micro")))
    return (per.groupBy("_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("micro").alias("surprisal_micro_sum"))
            .select(F.col("_id").alias(id_col), "n_bigrams",
                    "surprisal_micro_sum",
                    F.floor(F.col("surprisal_micro_sum")
                            / F.col("n_bigrams")).cast("long")
                    .alias("avg_surprisal_micro")))


def bigram_surprisal_sql(table: str = "documents", id_col: str = "doc_id",
                         text_col: str = "text") -> str:
    """DuckDB twin of ``bigram_surprisal``."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    return (
        f"WITH w AS (SELECT {id_col} AS _id, {ws} AS ws FROM {table}), "
        "b AS (SELECT _id, unnest(list_transform(generate_series(1, "
        "len(ws) - 1), i -> ws[i])) AS w1, "
        "unnest(list_transform(generate_series(1, len(ws) - 1), "
        "i -> ws[i + 1])) AS w2 FROM w), "
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2), "
        "c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1), "
        "v AS (SELECT count(DISTINCT t.w) AS v FROM "
        "(SELECT unnest(ws) AS w FROM w) t), "
        "p AS (SELECT _id, CAST(round(ln(CAST(c1.c1 + v.v AS DOUBLE) "
        "/ (c12.c12 + 1)) * 1000000.0) AS BIGINT) AS micro "
        "FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v) "
        f"SELECT _id AS {id_col}, count(*) AS n_bigrams, "
        "CAST(sum(micro) AS BIGINT) AS surprisal_micro_sum, "
        "CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT) "
        "AS avg_surprisal_micro FROM p GROUP BY 1"
    )


def _bpe_paired(t: DataFrame, extra: "list[str]") -> DataFrame:
    """Adjacent-symbol pair view of a BPE symbol table ``t(word, *extra,
    pos, sym)``: one lead() + row_number() window partitioned by word
    (words are short — thousands of tiny partitions per task, no skew).
    Shared by training (which aggregates pair weights from it) and
    inference (which only rewrites)."""
    from pyspark.sql.window import Window

    worder = Window.partitionBy("word").orderBy("pos")
    return t.select("word", *extra, "pos", F.col("sym").alias("a"),
                    F.lead("sym").over(worder).alias("b"),
                    F.row_number().over(worder).alias("rn"))


def _bpe_apply_merge(p: DataFrame, A: str, B: str,
                     extra: "list[str]") -> DataFrame:
    """Apply ONE known merge rule (A, B) greedy-leftmost to a paired
    symbol table (from ``_bpe_paired``), returning the rewritten
    ``(word, *extra, pos, sym)`` table. Greedy-leftmost: in a run of
    overlapping occurrences (only possible when A == B, e.g. 'aaaa'
    merging ('a','a')) the 1st, 3rd, ... occurrences merge — encoded as
    islands of row-ordinal-consecutive candidates keeping even offsets.
    Kept marks become the concatenated symbol; their successor rows
    drop. Pure relational (two keys-only mark joins), identical
    expression shape to the unrolled CTEs in the SQL twins."""
    from pyspark.sql.window import Window

    cand = (p.filter((F.col("a") == A) & (F.col("b") == B))
            .select("word", "rn"))
    isl = cand.withColumn(
        "grp", F.col("rn") - F.row_number().over(
            Window.partitionBy("word").orderBy("rn")))
    keep = (isl.withColumn(
        "off", F.col("rn") - F.min("rn").over(
            Window.partitionBy("word", "grp")))
        .filter(F.col("off") % 2 == 0).select("word", "rn"))
    k = keep.select(F.col("word").alias("_kw"),
                    F.col("rn").alias("krn"))
    c = keep.select(F.col("word").alias("_cw"),
                    (F.col("rn") + 1).alias("crn"))
    withrn = p.select("word", *extra, "pos", F.col("a").alias("sym"),
                      "rn")
    return (withrn
            .join(k, (F.col("word") == F.col("_kw"))
                  & (F.col("rn") == F.col("krn")), "left")
            .join(c, (F.col("word") == F.col("_cw"))
                  & (F.col("rn") == F.col("crn")), "left")
            .filter(F.col("crn").isNull())
            .select("word", *extra, "pos",
                    F.when(F.col("krn").isNotNull(),
                           F.lit(A + B)).otherwise(F.col("sym"))
                    .alias("sym")))


def bpe_train(docs: DataFrame, merges: int = 3, id_col: str = "doc_id",
              text_col: str = "text") -> "list[tuple]":
    """TRUE BPE tokenizer training (Sennrich et al. 2016): learn
    ``merges`` merge rules over the corpus vocabulary — the full loop
    that ``bigram_merge_candidates`` only runs one counting step of.
    Returns the learned merge list [(merge_rank, a, b, weight), ...].

    Semantics (the reference algorithm, exactly):

    * the vocabulary is UNIQUE words weighted by corpus count (how real
      BPE trainers scale — work ∝ vocabulary characters, not corpus
      characters); words start as character sequences;
    * each round counts adjacent symbol pairs weighted by word count,
      picks the single best pair under the TOTAL (weight DESC, a ASC,
      b ASC) order, and applies it GREEDY-LEFTMOST: in a run of
      overlapping occurrences (only possible when a == b, e.g. 'aaaa'
      merging ('a','a')) the 1st, 3rd, ... occurrences merge — encoded
      as islands of row-ordinal-consecutive candidates keeping even
      offsets;
    * applying a merge rewrites the symbol table relationally: kept
      marks become the concatenated symbol, their successor rows drop.

    Engine-exact: weights are integer sums and the pick is a total
    order, so ``bpe_train_sql`` (the loop unrolled as CTEs, the picked
    pair a 1-row subquery instead of a driver collect) replays the
    merges value-identically — the ``bpe_merges`` full-oracle row.

    100-TB shape: per round one lead() window partitioned by word (words
    are short — thousands of tiny partitions per task, no skew), one
    map-side-combinable weight agg, one 1-row driver collect (the merge
    rule — driver metadata like the IVF centroids), and one keys-only
    mark join; the work table localCheckpoints per round to cut lineage.
    """
    from ..functions.text import tokens_col

    words = (docs.select(F.explode(tokens_col(F.col(text_col)))
                         .alias("word"))
             .groupBy("word").agg(F.count("*").alias("cnt")))
    t = words.select(
        "word", "cnt",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1))))
        .alias("pos", "sym"))
    t = t.localCheckpoint(eager=True)
    out = []
    for r in range(1, merges + 1):
        p = _bpe_paired(t, ["cnt"])
        best = (p.filter(F.col("b").isNotNull())
                .groupBy("a", "b").agg(F.sum("cnt").alias("weight"))
                .orderBy(F.col("weight").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(1).collect())
        if not best:
            break
        A, B, wgt = best[0].a, best[0].b, best[0].weight
        out.append((r, A, B, int(wgt)))
        t = (_bpe_apply_merge(p, A, B, ["cnt"])
             .localCheckpoint(eager=True))
    return out


def bpe_apply(docs: DataFrame, rules: "list[tuple]",
              id_col: str = "doc_id", text_col: str = "text",
              checkpoint_every: int = 4) -> DataFrame:
    """Corpus-scale BPE tokenizer INFERENCE: tokenize every document
    with a trained merge list (``bpe_train``'s output, or plain
    ``(a, b)`` pairs) — the apply half of the tokenizer lifecycle that
    feeds ``pack_sequences``. One row per emitted token:
    ``(id, word_pos, sym_pos, sym)`` with 1-based positions (word_pos =
    the word's ordinal in the document, sym_pos = the token's ordinal
    within the word).

    100-TB shape — the standard trick real tokenizers use: merges apply
    to the DISTINCT-WORD vocabulary only (work ∝ vocabulary characters
    × merges, tiny next to the corpus), then the word → token-sequence
    map equi-joins back to the corpus token stream (rows ∝ corpus
    tokens, one shuffle; AQE may broadcast the vocab side when small).
    Never per-document merge loops.

    Engine-exact: every merge applies greedy-leftmost via the same
    relational island rewrite as training, so ``bpe_apply_sql`` (train
    chain unrolled + the same application join) replays the
    tokenization value-identically — the ``bpe_apply_tokens``
    full-oracle row.
    """
    from pyspark.sql.window import Window

    from ..functions.text import tokens_col

    pairs = [(r[-3], r[-2]) if len(r) >= 3 else (r[0], r[1])
             for r in rules]
    for a, b in pairs:
        if not (isinstance(a, str) and isinstance(b, str)):
            raise ValueError(f"merge rule must be a string pair: {(a, b)!r}")
    vocab = (docs.select(F.explode(tokens_col(F.col(text_col)))
                         .alias("word")).distinct())
    t = vocab.select(
        "word",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1))))
        .alias("pos", "sym"))
    t = t.localCheckpoint(eager=True)
    for i, (a, b) in enumerate(pairs, 1):
        t = _bpe_apply_merge(_bpe_paired(t, []), a, b, [])
        if i % checkpoint_every == 0 and i < len(pairs):
            t = t.localCheckpoint(eager=True)
    syms = t.select(
        "word", "sym",
        F.row_number().over(Window.partitionBy("word").orderBy("pos"))
        .alias("sym_pos"))
    stream = docs.select(
        F.col(id_col),
        F.posexplode(tokens_col(F.col(text_col))).alias("_wp", "word"))
    return (stream.join(syms, "word")
            .select(F.col(id_col), (F.col("_wp") + 1).alias("word_pos"),
                    "sym_pos", "sym"))


def _bpe_train_ctes(merges: int, table: str, text_col: str) -> str:
    """Shared WITH-clause chain for the BPE SQL twins: vocabulary →
    symbol table t1 → per-round (p{r}, best{r}, cand{r}, keep{r},
    t{r+1}) CTEs. The final symbol table is ``t{merges+1}``; picked
    rules are ``best1..best{merges}``."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    parts = [
        f"WITH w0 AS (SELECT word, count(*) AS cnt FROM ("
        f"SELECT unnest({ws}) AS word FROM {table}) GROUP BY 1), "
        "t1 AS (SELECT word, cnt, g.i AS pos, substr(word, g.i, 1) AS sym "
        "FROM w0, unnest(generate_series(1, len(word))) AS g(i))"
    ]
    for r in range(1, merges + 1):
        parts.append(
            f", p{r} AS (SELECT word, cnt, pos, sym AS a, "
            "lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b, "
            "row_number() OVER (PARTITION BY word ORDER BY pos) AS rn "
            f"FROM t{r}), "
            f"best{r} AS (SELECT a, b, sum(cnt)::BIGINT AS weight "
            f"FROM p{r} WHERE b IS NOT NULL GROUP BY 1, 2 "
            "ORDER BY weight DESC, a ASC, b ASC LIMIT 1), "
            f"cand{r} AS (SELECT p.word, p.rn FROM p{r} p "
            f"JOIN best{r} x ON p.a = x.a AND p.b = x.b), "
            f"keep{r} AS (SELECT word, rn FROM (SELECT word, rn, "
            "rn - min(rn) OVER (PARTITION BY word, grp) AS off FROM ("
            "SELECT word, rn, rn - row_number() OVER ("
            f"PARTITION BY word ORDER BY rn) AS grp FROM cand{r})) "
            "WHERE off % 2 = 0), "
            f"t{r + 1} AS (SELECT t.word, t.cnt, t.pos, "
            f"CASE WHEN k.rn IS NOT NULL THEN (SELECT a || b FROM best{r}) "
            "ELSE t.a END AS sym "
            f"FROM p{r} t "
            f"LEFT JOIN keep{r} k ON t.word = k.word AND t.rn = k.rn "
            f"LEFT JOIN keep{r} c ON t.word = c.word AND t.rn = c.rn + 1 "
            "WHERE c.rn IS NULL)")
    return "".join(parts)


def bpe_train_sql(merges: int = 3, table: str = "documents",
                  text_col: str = "text") -> str:
    """DuckDB twin of ``bpe_train`` — the merge loop unrolled; each
    round's picked pair is a 1-row CTE (ORDER BY weight DESC, a, b
    LIMIT 1) instead of a driver collect. Emits the merge list
    (merge_rank, a, b, weight)."""
    sel = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a, b, weight FROM best{r}"
        for r in range(1, merges + 1))
    return _bpe_train_ctes(merges, table, text_col) + " " + sel


def bpe_apply_sql(merges: int = 3, table: str = "documents",
                  id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of ``bpe_train(merges)`` + ``bpe_apply`` on the SAME
    corpus: the train chain unrolled, then the final symbol table joins
    back to the per-document token stream — one row per emitted token
    (id, word_pos, sym_pos, sym), both positions 1-based."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    return (
        _bpe_train_ctes(merges, table, text_col)
        + f", syms AS (SELECT word, sym, row_number() OVER ("
        f"PARTITION BY word ORDER BY pos) AS sym_pos FROM t{merges + 1}), "
        f"wd AS (SELECT {id_col}, g.i AS word_pos, ws[g.i] AS word FROM "
        f"(SELECT {id_col}, {ws} AS ws FROM {table}), "
        "unnest(generate_series(1, len(ws))) AS g(i)) "
        f"SELECT d.{id_col}, d.word_pos, s.sym_pos, s.sym "
        "FROM wd d JOIN syms s USING (word)")


def ngram_counts(docs: DataFrame, n: int = 3, min_count: int = 1,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus n-gram count export — the KenLM-style LM-training feed
    (the bigram/unigram tables the surprisal operators build inline,
    materialized for any order ``n``): (gram, cnt) with the gram's
    tokens joined by a single space, counts ≥ ``min_count``.

    100-TB shape: the dedupe_substrings gram discipline — one
    posexplode (rows ∝ tokens), n−1 lead()s over one per-doc sort (no
    token arrays), one map-side-combinable count. Grams never span
    documents; docs shorter than ``n`` tokens contribute nothing."""
    from pyspark.sql.window import Window as _W

    from ..functions.text import tokens_col

    if n < 1:
        raise ValueError("ngram_counts: n must be >= 1")
    if min_count < 1:
        raise ValueError("ngram_counts: min_count must be >= 1")
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "tok"))
    wd = _W.partitionBy("_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(wd)
                              for i in range(1, n)]
    return (toks.withColumn(
        "gram", F.when(parts[-1].isNotNull(),
                       F.concat_ws(" ", *parts)))
        .filter(F.col("gram").isNotNull())
        .groupBy("gram").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count))


def ngram_counts_sql(n: int = 3, min_count: int = 1,
                     table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text") -> str:
    """DuckDB twin of ``ngram_counts``."""
    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    gram = " || ' ' || ".join(f"ws[g.i + {i}]" for i in range(n))
    return (
        f"WITH t AS (SELECT {id_col}, {ws} AS ws FROM {table}), "
        f"g AS (SELECT {gram} AS gram FROM t, "
        f"unnest(generate_series(1, len(ws) - {n - 1})) AS g(i)) "
        "SELECT gram, count(*) AS cnt FROM g GROUP BY 1 "
        f"HAVING count(*) >= {min_count}"
    )
