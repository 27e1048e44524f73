"""Deduplication operators for the documents table — the training-data
pipeline family (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine). All candidate generation is equi-join/groupBy on deterministic
md5-derived keys (portable to the DuckDB oracle); no pairwise O(n²) stage
ever runs un-bucketed.

Scale notes: every operator is a single shuffle on a hash key with map-side
combine; LSH band keys are near-uniform (md5), so no skew handling is
needed beyond AQE. The pair-refine stages join only within buckets.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H


def exact_dedupe(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact text hash; report group size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """Shingles become ROWS (explode), so hashing and the k min-reductions
    run inside whole-stage codegen with map-side combine — the nested
    higher-order-function form re-evaluates the token array per element
    (interpreted, O(L²) per doc) and does not scale. Docs with no shingle
    (< n tokens) produce no signature row, same as the SQL oracle.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(H.shingles_col(F.col(text_col), shingle_n)).alias("shingle"))
    h = sh.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long").alias("h"))
    aggs = [
        F.min((F.col("h") * a + b) % H._MERSENNE31).alias(f"m{j}")
        for j, (a, b) in enumerate(H._perm_consts(k))
    ]
    sig = h.groupBy(id_col).agg(*aggs)
    return sig.select(F.col(id_col),
                      F.array(*[F.col(f"m{j}") for j in range(k)]).alias("sig"))


def minhash_lsh_buckets(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8, bands: int = 4,
                        shingle_n: int = 3) -> DataFrame:
    """Explode each doc into its LSH band keys; docs sharing a band key are
    near-dup candidates. rows_per_band = k / bands."""
    rpb = k // bands
    sig = minhash_signatures(df, text_col, id_col, k, shingle_n)
    band_cols = [H.band_key_col(F.col("sig"), b, rpb).alias(f"b{b}")
                 for b in range(1, bands + 1)]
    return (
        sig.select(F.col(id_col), F.array(*band_cols).alias("bks"))
        .select(F.col(id_col), F.explode("bks").alias("band_key"))
    )


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 8,
                            bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band."""
    # both self-join sides read the bucket table; without a cut the
    # k×shingle md5 signature pass runs twice per action. Keys-only
    # (band_key, id) rows — cheap to materialize once; within-query
    # reuse only, nothing persists across runs.
    b = minhash_lsh_buckets(df, text_col, id_col, k, bands, shingle_n) \
        .localCheckpoint(eager=False)
    l = b.select(F.col("band_key"), F.col(id_col).alias("a"))
    r = b.select(F.col("band_key"), F.col(id_col).alias("b"))
    return (
        l.join(r, on="band_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b").distinct()
    )


def simhash_values(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Scalable SimHash: shingles exploded to rows, one md5+hex-parse each,
    per-bit ±1 sums as codegen'd aggregates, bits assembled post-agg.
    Value-identical to functions.hashing.simhash_col / simhash_sql."""
    sh = df.select(F.col(id_col),
                   F.explode(H.shingles_col(F.col(text_col), 3)).alias("shingle"))
    h = sh.select(F.col(id_col),
                  H._hash_prefix_col(F.md5("shingle"),
                                     H._simhash_nchars(bits)).alias("h"))
    aggs = [
        F.sum(F.when(F.call_function("shiftright", F.col("h"), F.lit(b)) % 2 == 1,
                     1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_dedupe(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Group by exact SimHash value (Hamming-0 buckets); near-dup variant
    joins on bit-masked sub-keys. Docs with no shingle are excluded."""
    return (
        simhash_values(df, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _simhash_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(shift, width) per block, widest blocks first — the Manku et al.
    2007 pigeonhole split: two fingerprints within Hamming distance d
    agree exactly on at least one of d+1 blocks."""
    if n_blocks > bits:
        raise ValueError("more blocks than bits")
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0)
              for i in range(n_blocks)]
    shifts, off = [], 0
    for w in widths:
        shifts.append((off, w))
        off += w
    return shifts


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", bits: int = 48,
                           max_hamming: int = 3,
                           max_bucket: int | None = None) -> DataFrame:
    """Hamming-≤d SimHash near-dup pairs → (a, b, hamming), a < b.

    The missing half of ``simhash_dedupe`` (exact Hamming-0 buckets):
    block-permutation candidate generation — split the ``bits``-wide
    fingerprint into d+1 blocks; by pigeonhole, any pair within Hamming
    distance d shares at least one block verbatim, so an equi-join per
    block finds EVERY such pair — then exact refinement by
    ``bit_count(a XOR b) <= d``. Complete (no recall loss), unlike the
    probabilistic MinHash bands.

    100-TB shape: fingerprints shuffle once per block (d+1 small
    integer-keyed shuffles, rows ∝ docs, never ∝ pairs); the only
    quadratic risk is a hot block key, capped by ``max_bucket`` exactly
    like ``embedding_near_dups`` (over-cap buckets DROPPED, the standard
    LSH guardrail — with the cap the operator is no longer complete, and
    the SQL twin replays the same cap so the oracle still matches).
    Integer end to end — no float anywhere."""
    nb = max_hamming + 1
    blocks = _simhash_blocks(bits, nb)
    fp = simhash_values(df, text_col, id_col, bits)
    keys = fp.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("blk"),
                (F.call_function("shiftright", F.col("simhash"), F.lit(s))
                 % F.lit(1 << w)).alias("key"))
            for i, (s, w) in enumerate(blocks)])).alias("bk")) \
        .select(id_col, "simhash", "bk.blk", "bk.key")
    if max_bucket is not None:
        ok = (keys.groupBy("blk", "key").count()
              .filter(F.col("count") <= max_bucket).select("blk", "key"))
        # no broadcast hint: the qualifying-key set is ∝ distinct block
        # keys (corpus-sized), unlike embedding LSH's band-key space
        keys = keys.join(ok, ["blk", "key"], "left_semi")
    lhs = keys.select("blk", "key", F.col(id_col).alias("a"),
                      F.col("simhash").alias("sim_a"))
    rhs = keys.select("blk", "key", F.col(id_col).alias("b"),
                      F.col("simhash").alias("sim_b"))
    cand = (lhs.join(rhs, ["blk", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "sim_a", "sim_b").distinct())
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (cand.select("a", "b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def simhash_near_dup_pairs_sql(table: str = "documents",
                               text_col: str = "text",
                               id_col: str = "doc_id", bits: int = 48,
                               max_hamming: int = 3,
                               max_bucket: int | None = None) -> str:
    """DuckDB twin of ``simhash_near_dup_pairs`` (cap replayed when set).
    Block keys use floor-div + mod — identical to shiftright + mod on the
    non-negative fingerprints."""
    nb = max_hamming + 1
    blocks = _simhash_blocks(bits, nb)
    sh_len = f"len({H.shingles_sql(text_col, 3)})"
    per_block = " UNION ALL ".join(
        f"SELECT _id, sim, {i} AS blk, (sim // {1 << s}) % {1 << w} AS key "
        "FROM fp"
        for i, (s, w) in enumerate(blocks))
    kept = "keys"
    cap = ""
    if max_bucket is not None:
        cap = (", sizes AS (SELECT blk, key, count(*) AS c FROM keys "
               "GROUP BY 1, 2), kept AS (SELECT k.* FROM keys k "
               f"JOIN sizes USING (blk, key) WHERE c <= {max_bucket})")
        kept = "kept"
    return (
        f"WITH fp AS (SELECT {id_col} AS _id, "
        f"{H.simhash_sql(text_col, bits, 3)} AS sim FROM {table} "
        f"WHERE {sh_len} > 0), "
        f"keys AS ({per_block}){cap}, "
        f"cand AS (SELECT DISTINCT ka._id AS a, kb._id AS b, "
        f"ka.sim AS sim_a, kb.sim AS sim_b "
        f"FROM {kept} ka JOIN {kept} kb USING (blk, key) "
        f"WHERE ka._id < kb._id) "
        f"SELECT a, b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming "
        f"FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}"
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.5, k: int = 8,
                        bands: int = 4) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidate pairs (filter-refine):
    candidates from MinHash bands, refined with
    |A ∩ B| / |A ∪ B| ≥ threshold on distinct shingle sets."""
    pairs = minhash_candidate_pairs(df, text_col, id_col, k, bands, shingle_n)
    shd = df.select(
        F.col(id_col),
        F.explode(H.shingles_col(F.col(text_col), shingle_n)).alias("shingle")
    ).distinct()
    sizes = shd.groupBy(id_col).agg(F.count("*").alias("sz"))
    inter = (
        pairs
        .join(shd.select(F.col(id_col).alias("a"), "shingle"), "a")
        .join(shd.select(F.col(id_col).alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
    )
    j = (
        pairs.join(inter, ["a", "b"], "left")
        .na.fill({"inter": 0})
        .join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
    )
    return (
        j.withColumn("jaccard", F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher repetition metrics (Rae et al. 2021 §A1.1, the n-gram
    rules): per document,

    * ``top2_frac`` / ``top3_frac`` — characters of the MOST COMMON word
      2-/3-gram (non-space chars × its count) over total non-space
      characters; ties break to the lexicographically largest gram
      (max over (count, gram) pairs — identical in Spark and DuckDB).
    * ``dup5_frac`` — characters of all 5-grams occurring ≥ 2 times
      (count × non-space chars, occurrences each counted) over total.

    100-TB shape: ONE posexplode of the token array + ONE window shuffle
    on the doc id (lead() builds all gram widths in a single pass), then
    keys-only groupBy aggregates with map-side combine — no O(L²)
    higher-order lambdas (the nested-HOF trap re-evaluates the outer
    array per element; the oracle SQL keeps that expression form, the
    engine never runs it).
    """
    from ..functions import text as TX

    w = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(TX.tokens_col(F.col(text_col))).alias("pos", "w"))
    win = Window.partitionBy("_id").orderBy("pos")
    w2 = w.select(
        "_id", "w",
        *[F.lead("w", i).over(win).alias(f"w{i}") for i in range(1, 5)])
    # totals from the BASE table (token chars == text minus spaces), so
    # zero-token docs keep a row (fracs 0) instead of vanishing
    tot = docs.select(
        F.col(id_col).alias("_id"),
        F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
        .alias("chars"))

    def gram_counts(n: int):
        cols = ["w"] + [f"w{i}" for i in range(1, n)]
        g = (w2.filter(F.col(f"w{n - 1}").isNotNull())
             .select("_id", F.concat_ws(" ", *cols).alias("gram")))
        return g.groupBy("_id", "gram").agg(F.count("*").alias("cnt"))

    _gch = F.length(F.replace(F.col("gram"), F.lit(" "), F.lit("")))

    def top_chars(n: int):
        # chars of the most common n-gram × its count, max over
        # (cnt, gram) pairs — the cross-engine deterministic tie-break
        t = gram_counts(n).groupBy("_id").agg(
            F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("top"))
        gch = F.length(F.replace(t["top"]["gram"], F.lit(" "), F.lit("")))
        return t.select("_id", (t["top"]["cnt"] * gch).alias("tc"))

    def dup_chars(n: int):
        return gram_counts(n).groupBy("_id").agg(
            F.sum(F.when(F.col("cnt") >= 2, F.col("cnt") * _gch)
                  .otherwise(F.lit(0)).cast("long")).alias("dc"))

    out = (tot
           .join(top_chars(2).select("_id", F.col("tc").alias("_n2")),
                 "_id", "left")
           .join(top_chars(3).select("_id", F.col("tc").alias("_n3")),
                 "_id", "left")
           .join(dup_chars(5).select("_id", F.col("dc").alias("_d5")),
                 "_id", "left"))
    chars = F.greatest(F.col("chars"), F.lit(1)).cast("double")
    return out.select(
        F.col("_id").alias(id_col),
        F.round(F.coalesce(F.col("_n2"), F.lit(0)) / chars, 4)
        .alias("top2_frac"),
        F.round(F.coalesce(F.col("_n3"), F.lit(0)) / chars, 4)
        .alias("top3_frac"),
        F.round(F.coalesce(F.col("_d5"), F.lit(0)) / chars, 4)
        .alias("dup5_frac"))


def near_dup_components(pairs: DataFrame, a_col: str = "a",
                        b_col: str = "b", max_iters: int = 50) -> DataFrame:
    """Connected components over an undirected near-dup pair list:
    (member, component) with ``component`` = the smallest member id — the
    cluster step every dedupe pipeline needs after pair generation (keep
    one doc per component, drop the rest).

    100-TB shape: iterative MINIMUM-LABEL PROPAGATION as DataFrame ops —
    each round joins labels across edges and takes the per-vertex min
    (one keys-only shuffle per round, map-side combine), converging in
    O(component diameter) rounds. Near-dup clusters are shallow (a dup
    cluster's diameter is small by construction — pairs come from shared
    LSH buckets), so 2-4 rounds is typical; ``max_iters`` is a backstop.
    Deterministic: labels only decrease, so the fixpoint is detected via
    the monotone label sum — aggregated as DECIMAL(38,0): with hash-sized
    64-bit ids a plain int64 sum overflows at corpus scale (ANSI mode: job
    failure; legacy: silent wraparound that could fake a fixpoint). If the
    loop exhausts ``max_iters`` before the fixpoint (a component whose
    diameter exceeds the budget), the labels are NOT final components —
    the function raises instead of returning them silently. Each round
    persists + localCheckpoints to cut the exponentially-growing join
    lineage (the standard Spark CC plan; GraphFrames does the same under
    the hood).
    """
    a = F.col(a_col)
    b = F.col(b_col)
    edges = (pairs.select(a.alias("v"), b.alias("u"))
             .unionByName(pairs.select(b.alias("v"), a.alias("u")))
             .distinct().persist())
    labels = edges.select("v").distinct() \
        .select("v", F.col("v").alias("label")).persist()
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).first()[0]
    converged = False
    for _ in range(max_iters):
        nbr = (edges.join(labels.withColumnRenamed("v", "u"), on="u")
               .groupBy("v").agg(F.min("label").alias("nbr_min")))
        new_labels = (labels.join(nbr, on="v", how="left")
                      .select("v", F.least(F.col("label"),
                                           F.coalesce(F.col("nbr_min"),
                                                      F.col("label")))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        labels.unpersist()
        labels = new_labels
        s = labels.agg(label_sum).first()[0]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"near_dup_components: no fixpoint after max_iters={max_iters} "
            "rounds — a component's diameter exceeds the budget and the "
            "labels are not final. Raise max_iters (rounds needed ≈ the "
            "largest component's diameter).")
    return labels.select(F.col("v").alias("member"),
                         F.col("label").alias("component"))


def dedupe_corpus(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id", a_col: str = "a",
                  b_col: str = "b", max_iters: int = 50) -> DataFrame:
    """The pair→cluster→drop pipeline as ONE operator: cluster the
    near-dup ``pairs`` (``near_dup_components``) and keep exactly one doc
    per component — the SMALLEST id, which is the component label itself,
    so the keeper set is deterministic by construction. Docs in no pair
    keep themselves.

    100-TB shape: the drop set is keys-only (one id per non-canonical
    member) and the filter is a left_anti equi-join against it — the full
    document rows never shuffle. Fully SQL-expressible, so this sits
    under the FULL oracle gate (``dedupe_corpus`` row).
    """
    comp = near_dup_components(pairs, a_col=a_col, b_col=b_col,
                               max_iters=max_iters)
    drop = (comp.filter(F.col("member") != F.col("component"))
            .select(F.col("member").alias(id_col)))
    return docs.join(drop, on=id_col, how="left_anti")


def dedupe_lines(docs: DataFrame, min_count: int = 2,
                 text_col: str = "text", id_col: str = "doc_id",
                 delimiter: str = "\n",
                 scope_col: str | None = None) -> DataFrame:
    """Corpus-level LINE deduplication — the CCNet/RefinedWeb boilerplate
    pass: lines occurring ``min_count``+ times ACROSS the corpus (nav
    bars, cookie banners, copyright footers) are removed from every
    document. Returns (id, n_lines, n_removed, text_clean).

    ``scope_col`` (e.g. the doc's host) switches to the RefinedWeb
    site-scoped rule: a line is boilerplate only when it repeats WITHIN
    the same scope — two unrelated sites sharing a common sentence is
    content, the same site repeating its nav bar is template. The hot
    key becomes (scope, line); everything else is unchanged.

    Rules: whitespace-only lines never count as hot (removing them would
    collapse paragraph structure); occurrences count per line INSTANCE
    (a doc repeating its own line contributes each copy). ``delimiter``
    splits as a literal and re-joins the clean text.

    100-TB shape: lines explode to rows (∝ corpus lines); the hot set is
    one groupBy(line) count with map-side combine reduced to the small
    over-threshold line strings; membership is a left join the exploded
    side streams through (unhinted: AQE broadcasts a small hot set and
    shuffle-joins a big one) and the regroup is one shuffle
    keyed by doc id. Nothing ever pairs docs. Scoping makes the hot key
    wider but ALSO splits hot-key skew across sites — the (scope, line)
    key is strictly better-distributed than (line) at crawl scale.
    """
    import re as _re

    key = ["line"] if scope_col is None else [scope_col, "line"]
    cols = [F.col(id_col)] + ([] if scope_col is None else [F.col(scope_col)])
    lines = docs.select(
        *cols,
        F.posexplode(F.split(F.col(text_col), _re.escape(delimiter), -1))
        .alias("idx", "line"))
    hot = (lines.filter(F.trim("line") != "")
           .groupBy(*key).agg(F.count("*").alias("c"))
           .filter(F.col("c") >= min_count)
           .select(*key, F.lit(True).alias("_hot")))
    marked = lines.join(hot, on=key, how="left")
    return (marked.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.count("_hot").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("_hot").isNull(),
                           F.struct(F.col("idx"), F.col("line"))))),
                lambda s: s["line"]),
            delimiter).alias("text_clean")))


def dedupe_substrings(docs: DataFrame, k: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact-SUBSTRING deduplication at k-token-gram anchors — the
    ExactSubstr protocol of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"), gram-granular: any k-token
    window whose exact text occurs again ANYWHERE in the corpus
    (another doc or later in the same doc) is removed from every
    occurrence except the globally first one (order: id, position);
    overlapping removals merge into spans and the surviving tokens
    re-join. Returns (id, n_tokens, n_removed, text_clean) — one row
    per input doc, shorter-than-k and empty docs pass through intact.

    100-TB shape: rows ∝ tokens (ONE posexplode). The gram identity is
    a 64-hex md5 built in codegen from ``k`` ``lead()``s over one
    per-doc sort — no O(L·k) token arrays materialize and only the
    hash+keys shuffle; first-occurrence ranking is one window over the
    gram hash; span merging is a prefix-max (gaps-and-islands) over the
    TINY removal set; and coverage is a boundary difference-array
    cumulative sum, so no token-to-span range join ever forms. Every
    step is replayable in ANSI SQL (oracle row ``dedupe_substrings``).
    """
    from ..functions.text import tokens_col

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "tok"))
    wd = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(wd) for i in range(1, k)]
    grams = (toks
             .withColumn("gram", F.when(parts[-1].isNotNull(),
                                        F.md5(F.concat_ws(" ", *parts))))
             .filter(F.col("gram").isNotNull()))
    wg = Window.partitionBy("gram").orderBy("id", "pos")
    removed = (grams
               .withColumn("rnk", F.row_number().over(wg))
               .filter(F.col("rnk") > 1)   # rank 1 of a duplicated gram
               .select("id", "pos",        # is the KEPT occurrence
                       (F.col("pos") + F.lit(k)).alias("end")))
    # merge overlapping/adjacent spans per doc: a span starts a new
    # island when its start clears every previous end (prefix max)
    wp = Window.partitionBy("id").orderBy("pos")
    spans = (removed
             .withColumn("pmax", F.max("end").over(
                 wp.rowsBetween(Window.unboundedPreceding, -1)))
             .withColumn("isl", F.sum(
                 F.when(F.col("pmax").isNull()
                        | (F.col("pos") >= F.col("pmax")), 1)
                 .otherwise(0)).over(wp))
             .groupBy("id", "isl")
             .agg(F.min("pos").alias("s"), F.max("end").alias("e")))
    # boundary difference array: +1 at span start, -1 at span end; the
    # running sum over token order marks covered (removed) positions
    ev = (spans.select("id", F.col("s").alias("pos"), F.lit(1).alias("d"))
          .unionByName(
              spans.select("id", F.col("e").alias("pos"),
                           F.lit(-1).alias("d")))
          .groupBy("id", "pos").agg(F.sum("d").alias("d")))
    cov = (toks.join(ev, on=["id", "pos"], how="left")
           .withColumn("cov", F.sum(F.coalesce(F.col("d"), F.lit(0)))
                       .over(wd)))
    cleaned = (cov.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("cov") > 0, 1).otherwise(0)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("cov") == 0,
                           F.struct(F.col("pos"), F.col("tok"))))),
                lambda s: s["tok"]),
            " ").alias("text_clean")))
    # one row per INPUT doc: zero-token docs never reach the explode
    return (docs.select(F.col(id_col).alias("id"))
            .join(cleaned, on="id", how="left")
            .select("id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
                    F.coalesce("text_clean", F.lit("")).alias("text_clean")))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None) -> DataFrame:
    """Benchmark DECONTAMINATION: flag training docs that share any word
    n-gram with an evaluation/benchmark set — the n-gram-collision
    protocol the Gopher and GPT-3 appendices describe (13-grams there;
    ``n`` is a parameter). Returns one row per doc:
    (id, n_hits = distinct colliding n-grams, contaminated flag).

    100-TB shape: the benchmark side reduces to a DISTINCT gram set, joined
    with no hint — Catalyst's size estimate and AQE's runtime conversion
    broadcast it while it is small (benchmarks are MBs), so training grams
    explode to rows (∝ tokens) but stay MAP-SIDE; only the HIT grams
    (tiny) reach the count-distinct shuffle, and the final left join is
    keys-only.
    No global distinct over corpus grams anywhere.
    """
    bt = bench_text_col or text_col
    bg = (benchmark
          .select(F.explode(H.shingles_col(F.col(bt), n)).alias("gram"))
          .distinct())
    tg = docs.select(
        F.col(id_col),
        F.explode(H.shingles_col(F.col(text_col), n)).alias("gram"))
    hits = (tg.join(bg, on="gram")
            .groupBy(id_col)
            .agg(F.countDistinct("gram").alias("n_hits")))
    return (docs.select(id_col)
            .join(hits, on=id_col, how="left")
            .na.fill({"n_hits": 0})
            .select(F.col(id_col), F.col("n_hits"),
                    (F.col("n_hits") > 0).alias("contaminated")))


def hyperplane_lsh_buckets(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id", tables: int = 4,
                           bits: int = 8, dim: int = 64) -> DataFrame:
    """(id, band_key) rows: ``tables`` independent random-hyperplane LSH
    tables of ``bits`` sign bits each (Charikar SimHash projections,
    deterministic md5-seeded Rademacher hyperplanes — functions.hashing).

    OR-amplified like MinHash bands: two vectors are candidates if they
    collide in ANY table, so recall comes from table count and precision
    from bit count — the single-table sign-pattern scheme this replaces
    could never recover a near-dup across one sign flip. Collision
    probability per table is (1 − θ/π)^bits for angle θ.

    Projection runs as ONE Arrow-batched int64 matmul (pandas_udf): the
    equivalent column-expression form (functions.hashing.
    hyperplane_band_key_col, value-identical, kept as the DuckDB-oracle
    reference) is tables×bits×dim codegen nodes and trips the JVM method
    limit into interpreted mode past ~1k terms.
    """
    @F.pandas_udf("array<string>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(H.hyperplane_band_keys_batch(
            vecs.tolist(), tables, bits, dim))

    return (df.select(F.col(id_col),
                      band_keys(F.col(vec_col).cast("array<double>")).alias("bks"))
            .select(F.col(id_col), F.explode("bks").alias("band_key")))


def embedding_near_dups(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", threshold: float = 0.95,
                        tables: int = 4, bits: int = 8, dim: int = 64,
                        max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup: banded random-hyperplane LSH candidates,
    refined with exact cosine inside buckets.

    100-TB shape: candidate generation is an equi-join on band keys whose
    population halves per bit — bucket sizes are controlled by ``bits``
    (add bits as the corpus grows), and an in-bucket all-pairs explosion
    on a pathological hot bucket is capped by ``max_bucket``: buckets
    with more members are DROPPED from candidate generation (their pairs
    are sacrificed — the standard LSH guardrail; count them first with
    ``hyperplane_lsh_buckets(...).groupBy('band_key').count()``).
    """
    bk = hyperplane_lsh_buckets(df, vec_col, id_col, tables, bits, dim)
    if max_bucket is not None:
        ok = (bk.groupBy("band_key").count()
              .filter(F.col("count") <= max_bucket).select("band_key"))
        bk = bk.join(F.broadcast(ok), "band_key", "left_semi")
    l = bk.select("band_key", F.col(id_col).alias("a"))
    r = bk.select("band_key", F.col(id_col).alias("b"))
    pairs = (l.join(r, "band_key")
             .filter(F.col("a") < F.col("b"))
             .select("a", "b").distinct())
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    return (
        pairs
        .join(v.select(F.col(id_col).alias("a"), F.col("_v").alias("va")), "a")
        .join(v.select(F.col(id_col).alias("b"), F.col("_v").alias("vb")), "b")
        .withColumn("cos", F.round(H.cosine_col(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def url_dedupe(df: DataFrame, url_col: str = "url",
               id_col: str = "doc_id") -> DataFrame:
    """Crawl-frontier URL dedupe: canonicalize (text.canonicalize_url_col
    — https/www/port/fragment/tracking-param/trailing-slash normal form)
    then keep the lowest id per canonical URL. One row PER INPUT doc:
    (id, canonical_url, kept) — kept is the min-id rule, the same
    keep-discipline as exact_dedupe/dedupe_corpus.

    100-TB shape: a map-side expression (the canonical form) + one
    keys-only groupBy; document payloads never shuffle — the kept flag
    comes back via a min() window-free agg + equi-join on the (tiny
    per-group) canonical key."""
    from ..functions.text import canonicalize_url_col
    c = df.select(F.col(id_col),
                  canonicalize_url_col(F.col(url_col)).alias("canonical_url"))
    keep = c.groupBy("canonical_url").agg(F.min(id_col).alias("_keep"))
    return (c.join(keep, "canonical_url")
            .select(id_col, "canonical_url",
                    (F.col(id_col) == F.col("_keep")).alias("kept")))


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide
    a window of ``w`` consecutive gram positions, and select each
    window's MINIMUM hash (ties → the RIGHTMOST position, the paper's
    rule) → the selected (id, pos, gram_hash) set, ~2/(w+1) of the
    grams. The winnowing guarantee: any shared token run of at least
    w+k−1 tokens shares at least one selected fingerprint — the
    position-robust sketch for partial-copy detection that fixed-stride
    sampling cannot give (property-tested).

    Engine-exact: gram hashes are 16-bit md5-prefix integers, the
    window pick is min(struct(hash, −pos)) — a total order — and the
    selected set dedupes on (pos, hash). Docs with fewer than k tokens
    emit nothing; with fewer than w grams, the single clipped window
    selects once (the spec's short-document behavior).

    100-TB shape: rows ∝ tokens — one posexplode, k−1 lead()s over one
    per-doc sort (the dedupe_substrings gram discipline — no token
    arrays), one w-row sliding window, one distinct. Everything
    per-doc-partitioned; nothing global."""
    from ..functions.hashing import _hex4_to_int_col
    from ..functions.text import tokens_col

    if k < 1 or w < 1:
        raise ValueError("winnow: k and w must be >= 1")
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "tok"))
    wd = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(wd)
                              for i in range(1, k)]
    grams = (toks.withColumn(
        "h", F.when(parts[-1].isNotNull(),
                    _hex4_to_int_col(F.md5(F.concat_ws("\x1f", *parts)))))
        .filter(F.col("h").isNotNull())
        .select("id", "pos", "h"))
    # window start s is valid while a full (or final clipped) window
    # fits: s <= max(G - w, 0) in 0-based gram ordinals
    gw = Window.partitionBy("id").orderBy("pos")
    g = (grams.withColumn("_ord", F.row_number().over(gw) - 1)
         .withColumn("_g", F.count("*").over(Window.partitionBy("id"))))
    pick = F.min(F.struct(F.col("h").alias("_h"),
                          (-F.col("pos")).alias("_np"))).over(
        gw.rowsBetween(0, w - 1))
    sel = (g.withColumn("_sel", pick)
           .filter(F.col("_ord") <= F.greatest(F.col("_g") - w, F.lit(0)))
           .select("id", (-F.col("_sel._np")).alias("pos"),
                   F.col("_sel._h").alias("gram_hash"))
           .distinct())
    return sel.select(F.col("id").alias(id_col), "pos", "gram_hash")


def winnow_fingerprints_sql(k: int = 5, w: int = 4,
                            table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    """DuckDB twin of ``winnow_fingerprints``."""
    from ..functions.hashing import hex4_to_int_sql

    ws = f"list_filter(string_split({text_col}, ' '), t -> t != '')"
    parts = " || chr(31) || ".join(
        f"lead(tok, {i}) OVER (PARTITION BY id ORDER BY pos)"
        if i else "tok" for i in range(k))
    last = (f"lead(tok, {k - 1}) OVER (PARTITION BY id ORDER BY pos)"
            if k > 1 else "tok")
    h = hex4_to_int_sql(f"md5({parts})")
    return (
        f"WITH t AS (SELECT {id_col} AS id, ws FROM "
        f"(SELECT {id_col}, {ws} AS ws FROM {table})), "
        "tok AS (SELECT id, g.i - 1 AS pos, ws[g.i] AS tok FROM t, "
        "unnest(generate_series(1, len(ws))) AS g(i)), "
        f"gr AS (SELECT id, pos, CASE WHEN {last} IS NOT NULL THEN "
        f"({h}) END AS h FROM tok), "
        "g2 AS (SELECT id, pos, h, "
        "row_number() OVER (PARTITION BY id ORDER BY pos) - 1 AS _ord, "
        "count(*) OVER (PARTITION BY id) AS _g, "
        "min(struct_pack(_h := h, _np := -pos)) OVER ("
        "PARTITION BY id ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS _sel "
        "FROM gr WHERE h IS NOT NULL) "
        f"SELECT DISTINCT id AS {id_col}, -(_sel._np) AS pos, "
        "_sel._h AS gram_hash FROM g2 "
        f"WHERE _ord <= greatest(_g - {w}, 0)"
    )
