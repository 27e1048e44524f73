"""Webtext operators: dedupe family, text analysis, similarity — including
Spark↔DuckDB parity for every SQL-replayable expression (the oracle
contract these operators will be graded on)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.reference_plans import minhash_sig_col
from vtcomposite_spark.functions import hashing as H
from vtcomposite_spark.functions import text as TX
from vtcomposite_spark.operators import dedupe as D
from vtcomposite_spark.operators import multimodal as MM
from vtcomposite_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def duck(sql):
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{SF}/documents.parquet'")
    con.sql(f"create view embeddings as select * from '{SF}/embeddings.parquet'")
    return con.sql(sql).fetchall()


def test_token_count_parity(spark, docs):
    got = {r.doc_id: r.tc for r in docs.select(
        "doc_id", TX.token_count_col(F.col("text")).alias("tc")).collect()}
    want = dict(duck(
        f"select doc_id, {TX.TOKEN_COUNT_SQL.format(c='text')} from documents"))
    assert got == want


def test_bpe_token_count_parity(spark, docs):
    """GPT-2-style pretokenizer count: Java regex (Spark) and RE2 (DuckDB)
    must agree exactly on the shared pattern subset."""
    got = {r.doc_id: r.n for r in docs.select(
        "doc_id", TX.bpe_token_count_col(F.col("text")).alias("n")).collect()}
    want = dict(duck(
        f"select doc_id, {TX.BPE_TOKEN_COUNT_SQL.format(c='text')} from documents"))
    assert got == want
    # sanity on the tokenizer shape itself
    one = spark.createDataFrame(
        [(1, "I'll pay 12345 dollars, you won't!")], ["doc_id", "text"])
    toks = one.select(TX.bpe_tokens_col(F.col("text")).alias("t")).collect()[0].t
    assert toks == ["I", "'ll", " pay", " 123", "45", " dollars", ",",
                    " you", " won", "'t", "!"]


def test_lang_guess_parity(spark, docs):
    got = {r.doc_id: r.lg for r in docs.select(
        "doc_id", TX.lang_guess_col(F.col("text")).alias("lg")).collect()}
    want = dict(duck(
        f"select doc_id, {TX.lang_guess_sql('text')} from documents"))
    assert got == want
    assert len(set(got.values())) > 1  # heuristic actually discriminates


def test_quality_score_parity(spark, docs):
    got = {r.doc_id: r.q for r in docs.select(
        "doc_id", TX.quality_score_col(F.col("text")).alias("q")).collect()}
    want = dict(duck(
        f"select doc_id, {TX.quality_score_sql('text')} from documents"))
    assert got == pytest.approx(want)


def test_fingerprint_parity(spark, docs):
    got = {r.doc_id: r.fp for r in docs.select(
        "doc_id", TX.fingerprint_col(F.col("text")).alias("fp")).collect()}
    want = dict(duck(
        f"select doc_id, {TX.fingerprint_sql('text')} from documents"))
    assert got == want


def test_minhash_sig_parity(spark, docs):
    got = {r.doc_id: list(r.sig) for r in docs.limit(50).select(
        "doc_id", minhash_sig_col(F.col("text"), 4).alias("sig")).collect()}
    want = dict(duck(
        f"select doc_id, {H.minhash_sig_sql('text', 4)} from documents "
        f"where doc_id in (select doc_id from documents order by doc_id limit 50)"))
    for k, v in got.items():
        assert v == want[k], k


def test_short_docs_no_shingles(spark):
    """Docs with fewer than n tokens must yield an empty shingle array, not
    crash: Spark sequence(1, 0) is the DESCENDING [1, 0], so an unguarded
    slice(toks, 0, n) throws INVALID_PARAMETER_VALUE.START."""
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three"),
         (5, "   "), (6, " a  b ")],
        ["doc_id", "text"])
    got = {r.doc_id: list(r.sh) for r in df.select(
        "doc_id", H.shingles_col(F.col("text"), 3).alias("sh")).collect()}
    assert got == {1: [], 2: [], 3: [], 4: ["one two three"], 5: [], 6: []}
    # the whole dedupe family must survive short docs end-to-end
    sigs = D.minhash_signatures(df, k=4).collect()
    assert {r.doc_id for r in sigs} == {4}  # sub-n docs produce no signature
    assert D.minhash_candidate_pairs(df, k=4, bands=2).collect() == []
    df.select(H.simhash_col(F.col("text"), 4).alias("s")).collect()
    assert D.ngram_jaccard_pairs(df, threshold=0.1, k=4, bands=2).collect() == []


def test_short_docs_shingles_sql_parity(spark):
    """Spark guard and DuckDB range(1,1)=[] agree on the short-doc edge."""
    rows = [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: list(r.sh) for r in df.select(
        "doc_id", H.shingles_col(F.col("text"), 3).alias("sh")).collect()}
    con = duckdb.connect()
    con.sql("create table t(doc_id int, text varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    want = dict(con.sql(
        f"select doc_id, {H.shingles_sql('text', 3)} from t").fetchall())
    assert got == want


def test_simhash_parity(spark, docs):
    got = {r.doc_id: r.sh for r in docs.limit(30).select(
        "doc_id", H.simhash_col(F.col("text"), 8).alias("sh")).collect()}
    want = dict(duck(
        f"select doc_id, {H.simhash_sql('text', 8)} from documents "
        f"where doc_id in (select doc_id from documents order by doc_id limit 30)"))
    assert got == want


def test_cosine_parity(spark, emb):
    pair = emb.limit(2).collect()
    a, b = list(pair[0].embedding), list(pair[1].embedding)
    got = spark.range(1).select(F.round(H.cosine_col(
        F.lit(a).cast("array<double>"), F.lit(b).cast("array<double>")), 6)
        .alias("c")).collect()[0].c
    want = duck(
        "with p as (select embedding::DOUBLE[] e, vec_id from embeddings order by vec_id limit 2) "
        f"select round({H.cosine_sql('a.e', 'b.e')}, 6) from p a, p b "
        "where a.vec_id < b.vec_id")[0][0]
    assert got == pytest.approx(want, abs=1e-6)


def test_exact_dedupe(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"])
    out = {r.keep_id: r.n_dups for r in D.exact_dedupe(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words nothing shared here at all whatsoever everyone"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = {(r.a, r.b) for r in D.minhash_candidate_pairs(df, k=8, bands=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_near_dup_components_hand_graph(spark):
    """Min-label propagation CC: a 4-chain (worst diameter per size), a
    2-cycle-ish triangle, and an isolated pair — component = min member;
    vertices outside the pair list are absent (callers coalesce)."""
    pairs = spark.createDataFrame(
        [(3, 4), (4, 5), (5, 6),      # chain 3-4-5-6 → comp 3
         (10, 11), (11, 12), (10, 12),  # triangle → comp 10
         (20, 21)],                   # pair → comp 20
        "a long, b long")
    comp = {r.member: r.component
            for r in D.near_dup_components(pairs).collect()}
    assert comp == {3: 3, 4: 3, 5: 3, 6: 3,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_near_dup_components_matches_recursive_sql(spark):
    """Randomized graph: engine CC == DuckDB recursive transitive
    closure."""
    import numpy as np
    rng = np.random.default_rng(5)
    rows = [(int(a), int(b)) for a, b in rng.integers(0, 40, (60, 2))
            if a != b]
    pairs = spark.createDataFrame(rows, "a long, b long")
    got = {(r.member, r.component)
           for r in D.near_dup_components(pairs).collect()}
    duckdb.sql("DROP TABLE IF EXISTS _cc_pairs")
    duckdb.sql("CREATE TABLE _cc_pairs(a BIGINT, b BIGINT)")
    duckdb.executemany("INSERT INTO _cc_pairs VALUES (?, ?)", rows)
    want = {tuple(r) for r in duckdb.sql(
        "WITH RECURSIVE ed AS (SELECT a, b FROM _cc_pairs "
        "UNION SELECT b, a FROM _cc_pairs), "
        "walk(v, reach) AS (SELECT a, a FROM ed UNION "
        "SELECT w.v, x.b FROM walk w JOIN ed x ON w.reach = x.a) "
        "SELECT v, min(reach) FROM walk GROUP BY v").fetchall()}
    assert got == want and got


def test_c4_filters_rules_and_sql_parity(spark):
    """Each C4 line/page rule triggered by a hand case + full
    Spark↔DuckDB parity over the cases (incl. the empty-text
    array_to_string NULL divergence, coalesced in the twin)."""
    texts = [
        ("ok", 'He said "stop right there."\nShe replied with a question?'
               '\nIt ended with a quote line too."'),
        ("mixed", "Good line stays right here.\nshort one.\n"
                  "This line has no terminal punct\n"
                  "This mentions JavaScript heavily today.\n"
                  "Another fine sentence ends here!"),
        ("lorem", "Lorem ipsum dolor sit amet today.\n"
                  "A second proper sentence is here.\n"
                  "A third proper sentence is here."),
        ("brace", "function f() { return 1; } is code.\n"
                  "More words follow the code line.\n"
                  "Yet another full sentence here."),
        ("fewsent", "One good sentence only stays here."),
        ("empty", ""),
    ]
    df = spark.createDataFrame(texts, "tag string, text string")
    cols = TX.c4_filter_cols(F.col("text"))
    out = {r.tag: r.asDict() for r in df.select(
        "tag", *[c.alias(n) for n, c in cols.items()]).collect()}
    assert out["ok"]["c4_pass"] and out["ok"]["n_lines_dropped"] == 0
    # terminal-punct, word-count, and javascript rules each drop a line
    assert out["mixed"]["n_lines_kept"] == 2
    assert out["mixed"]["n_lines_dropped"] == 3
    assert not out["mixed"]["c4_pass"]          # only 2 sentences survive
    assert not out["lorem"]["c4_pass"]           # lorem ipsum page drop
    assert out["lorem"]["n_lines_kept"] == 3     # ...but lines were fine
    assert not out["brace"]["c4_pass"]           # curly-brace page drop
    assert not out["fewsent"]["c4_pass"]         # < 3 sentences
    assert out["empty"]["text_clean"] == "" and not out["empty"]["c4_pass"]

    duckdb.sql("DROP TABLE IF EXISTS _c4q")
    duckdb.sql("CREATE TABLE _c4q(tag VARCHAR, text VARCHAR)")
    duckdb.executemany("INSERT INTO _c4q VALUES (?, ?)", texts)
    sqls = TX.c4_filter_sqls("text")
    sel = ", ".join(f"{s} AS {n}" for n, s in sqls.items())
    names = list(sqls)
    for tag, *vals in duckdb.sql(f"SELECT tag, {sel} FROM _c4q").fetchall():
        assert tuple(out[tag][n] for n in names) == tuple(vals), tag


def test_c4_filters_corpus_parity(spark, docs):
    cols = TX.c4_filter_cols(F.col("text"))
    got = sorted(tuple(r) for r in docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]).collect())
    sqls = TX.c4_filter_sqls("text")
    sel = ", ".join(f"{s} AS {n}" for n, s in sqls.items())
    want = sorted(tuple(r) for r in duck(
        f"SELECT doc_id, {sel} FROM documents"))
    assert got == want


def test_gopher_filters_rules_and_sql_parity(spark):
    """Each Gopher rule triggered by a hand case + full Spark↔DuckDB
    parity over the cases."""
    texts = [
        ("ok", "the quick brown fox and the lazy dog ran over the hill "
               * 5),                                   # passes everything
        ("short", "tiny doc and the end"),             # < 25 words
        ("symbols", "# " * 30 + "the and of"),         # symbol ratio > 0.1
        ("bullets", "- item one\n- item two\n- three"),  # bullet lines
        ("ellipsis", "so it goes...\nand on...\nthe and of it"),
        ("duplines", "same line\nsame line\nsame line\nother"),
        ("longwords", " ".join(["extraordinarily"] * 30) + " the and"),
        ("nostops", " ".join(f"w{i}" for i in range(30))),  # no stopwords
    ]
    df = spark.createDataFrame(texts, "tag string, text string")
    cols = TX.gopher_filter_cols(F.col("text"))
    out = {r.tag: r.asDict() for r in df.select(
        "tag", *[c.alias(n) for n, c in cols.items()]).collect()}
    assert out["ok"]["gopher_pass"]
    assert not out["short"]["gopher_pass"] and out["short"]["n_words"] < 25
    assert out["symbols"]["symbol_ratio"] > 0.1
    assert out["bullets"]["bullet_line_frac"] == 1.0
    assert out["ellipsis"]["ellipsis_line_frac"] > 0.3
    assert out["duplines"]["dup_line_frac"] == 0.5
    assert out["longwords"]["mean_word_len"] > 10
    assert out["nostops"]["stopword_hits"] == 0

    duckdb.sql("DROP TABLE IF EXISTS _gq")
    duckdb.sql("CREATE TABLE _gq(tag VARCHAR, text VARCHAR)")
    duckdb.executemany("INSERT INTO _gq VALUES (?, ?)", texts)
    sqls = TX.gopher_filter_sqls("text")
    sel = ", ".join(f"{s} AS {n}" for n, s in sqls.items())
    want = {r[0]: r[1:] for r in duckdb.sql(
        f"SELECT tag, {sel} FROM _gq").fetchall()}
    names = list(sqls)
    for tag, vals in want.items():
        got = tuple(out[tag][n] for n in names)
        assert got == vals, (tag, got, vals)


def test_chunk_documents_hand_case(spark):
    """10 tokens, chunk 4, overlap 1 (stride 3): chunks at 0,3,6,9 with
    the last a single token; overlap tokens appear in both neighbors."""
    from vtcomposite_spark.operators import chunking as CH
    toks = [f"t{i}" for i in range(10)]
    docs = spark.createDataFrame([(1, " ".join(toks)), (2, "")],
                                 "doc_id long, text string")
    out = {r.chunk_idx: (r.n_tokens, r.chunk_text) for r in
           CH.chunk_documents(docs, chunk_tokens=4, overlap=1).collect()}
    assert out == {0: (4, "t0 t1 t2 t3"), 1: (4, "t3 t4 t5 t6"),
                   2: (4, "t6 t7 t8 t9"), 3: (1, "t9")}
    with pytest.raises(ValueError):
        CH.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_sample_by_hash_deterministic_and_salted(spark):
    from vtcomposite_spark.operators import chunking as CH
    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in CH.sample_by_hash(df, 0.2, "doc_id").collect()}
    b = {r.doc_id for r in CH.sample_by_hash(df, 0.2, "doc_id").collect()}
    assert a == b                       # stable across runs
    assert 0.15 < len(a) / 2000 < 0.25  # ≈ fraction
    c = {r.doc_id for r in
         CH.sample_by_hash(df, 0.2, "doc_id", salt="other").collect()}
    assert c != a                       # stratification via salt
    # monotone: a bigger fraction strictly contains a smaller one
    big = {r.doc_id for r in CH.sample_by_hash(df, 0.5, "doc_id").collect()}
    assert a <= big


def test_sample_rounding_half_up_and_mixture_alignment(spark):
    """Tie fractions round HALF-UP (the Spark/DuckDB round rule) in BOTH
    sampling operators: moving a stratum from sample_by_hash to
    sample_mixture at the same rate keeps the identical row set (Python's
    banker's round would keep 2 of 10,000 buckets where F.round keeps 3)."""
    from vtcomposite_spark.operators import chunking as CH
    assert CH._half_up_thresh(0.00025) == 3   # banker's would give 2
    assert CH._half_up_thresh(0.00035) == 4   # and 4 here: not plain ceil
    df = spark.range(0, 50000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    a = {r.doc_id for r in
         CH.sample_by_hash(df, 0.00025, "doc_id", salt="mix").collect()}
    b = {r.doc_id for r in
         CH.sample_mixture(df, {"en": 0.00025}, group_col="lang",
                           id_col="doc_id", salt="mix").collect()}
    assert a == b and a  # same kept set, non-empty at this scale


def test_unigram_surprisal_hand_case_and_twin(spark):
    """Corpus 'a a a b': T=4, surprisal(a)=ln(4/3), surprisal(b)=ln(4);
    doc sums/averages match the closed form; empty docs emit nothing;
    DuckDB twin matches."""
    import math

    import pandas as pd
    from vtcomposite_spark.operators import chunking as CH
    rows = [(1, "a a a"), (2, "b"), (3, "  ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.surprisal_micro_sum,
                      r.avg_surprisal_micro)
           for r in CH.unigram_surprisal(docs).collect()}
    ma = int(math.floor(math.log(4.0 / 3.0) * 1e6 + 0.5))
    mb = int(math.floor(math.log(4.0 / 1.0) * 1e6 + 0.5))
    assert out == {1: (3, 3 * ma, int(math.floor(3 * ma / 3))),
                   2: (1, mb, mb)}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {d: (n, s, a) for d, n, s, a in
            con.sql(CH.unigram_surprisal_sql()).fetchall()}
    assert want == out


def test_distinctive_terms_hand_case(spark):
    """'aa' is frequent in group g1 but corpus-wide (df=3 → low score);
    'zz' appears only in g1 (df=1) and must outrank it."""
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame(
        [(0, "g1", "aa aa zz zz"), (1, "g1", "aa aa"),
         (2, "g2", "aa bb"), (3, "g2", "aa bb")],
        "doc_id long, lang string, text string")
    out = {(r.lang, r.term_rank): (r.term, r.tf, r.df, r.score)
           for r in CH.distinctive_terms(docs, k=2).collect()}
    # g1: zz tf=2 df=1 → 2e6; aa tf=4 df=4 → 1e6
    assert out[("g1", 1)] == ("zz", 2, 1, 2_000_000)
    assert out[("g1", 2)] == ("aa", 4, 4, 1_000_000)
    # g2: bb tf=2 df=2 → 1e6 ties aa tf=2 df=4 → 5e5: bb first
    assert out[("g2", 1)] == ("bb", 2, 2, 1_000_000)
    assert out[("g2", 2)] == ("aa", 2, 4, 500_000)


def test_repetition_stats_hand_cases(spark):
    """Gopher repetition metrics pinned by hand: a doc that is one
    repeated bigram, a no-repeat doc, a tie (lexicographically larger
    gram wins, the cross-engine rule), and an empty doc."""
    docs = spark.createDataFrame(
        [(0, "ab cd ab cd ab cd"),       # 'ab cd' ×3 of 5 bigrams
         (1, "one two three four five"),  # all grams unique
         (2, "x y z x y"),                # 'x y' ×2 vs 'y z'/'z x' ×1
         (3, ""),                         # empty
         (4, "b a b a c a c a")],         # tie 'b a'×2 vs 'a b'... check
        "doc_id long, text string")
    out = {r.doc_id: r for r in D.repetition_stats(docs).collect()}
    # doc 0: chars=12; top bigram 'ab cd' cnt=3, 4 chars → 12/12 = 1.0
    assert out[0].top2_frac == 1.0
    # 5-grams of doc 0: 'ab cd ab cd ab' ×1, 'cd ab cd ab cd' ×1 → no dup
    assert out[0].dup5_frac == 0.0
    # doc 1: every bigram unique, cnt=1; top = lexicographically largest
    # ('two three', 8 chars) of 19 chars
    assert out[1].top2_frac == round(8 / 19, 4)
    # doc 2: 'x y' cnt=2 → 4 chars / 5 chars
    assert out[2].top2_frac == 0.8
    assert out[3].top2_frac == 0.0 and out[3].dup5_frac == 0.0
    # doc 4 bigrams: 'b a'×2, 'a b'×1, 'a c'×2, 'c a'×2 → tie on cnt=2,
    # max gram of {'b a','a c','c a'} = 'c a' (2×2 chars / 8)
    assert out[4].top2_frac == 0.5


def test_pii_redaction_and_host_extraction(spark):
    """Redaction spec (emails first, then phone-shaped spans on the
    email-redacted text), host extraction, and full Spark↔DuckDB parity
    on adversarial cases."""
    rows = [
        ("plain", "no pii here at all"),
        ("email", "mail bob.smith+tag@sub.example.co.uk now"),
        ("phone", "call +1 555-123-4567 today"),
        ("both", "a@b.io and (020) 7946-0958 mixed"),
        ("digits_in_local", "x123456789@nums.example.com only"),
        ("short_digits", "room 12345 is not a phone"),
    ]
    df = spark.createDataFrame(rows, "tag string, text string")
    ne, np_ = TX.pii_counts_cols(F.col("text"))
    out = {r.tag: (r.red, r.ne, r.np) for r in df.select(
        "tag", TX.redact_pii_col(F.col("text")).alias("red"),
        ne.alias("ne"), np_.alias("np")).collect()}
    assert out["plain"] == ("no pii here at all", 0, 0)
    assert out["email"] == ("mail <EMAIL> now", 1, 0)
    assert out["phone"] == ("call <PHONE> today", 0, 1)
    assert out["both"] == ("<EMAIL> and <PHONE> mixed", 1, 1)
    # the digit run inside the email local part must NOT double-redact
    assert out["digits_in_local"] == ("<EMAIL> only", 1, 0)
    assert out["short_digits"][2] == 0  # 5 digits < the 8-char span floor

    duckdb.sql("DROP TABLE IF EXISTS _pii")
    duckdb.sql("CREATE TABLE _pii(tag VARCHAR, text VARCHAR)")
    duckdb.executemany("INSERT INTO _pii VALUES (?, ?)", rows)
    ne_sql, np_sql = TX.pii_counts_sqls("text")
    want = {r[0]: (r[1], r[2], r[3]) for r in duckdb.sql(
        f"SELECT tag, {TX.redact_pii_sql('text')}, {ne_sql}, {np_sql} "
        "FROM _pii").fetchall()}
    assert out == want

    hosts = spark.createDataFrame(
        [("https://a.example.com/p/1",), ("http://b.co",),
         ("ftp://files.x.org/d?q=1",), ("not a url",)], "u string")
    got = [r.h for r in hosts.select(
        TX.url_host_col(F.col("u")).alias("h")).collect()]
    assert got == ["a.example.com", "b.co", "files.x.org", ""]
    duck = [duckdb.sql(
        f"SELECT {TX.url_host_sql(repr(u))}").fetchone()[0]
        for (u,) in [("https://a.example.com/p/1",), ("http://b.co",),
                     ("ftp://files.x.org/d?q=1",), ("not a url",)]]
    assert duck == got


def test_ngram_jaccard_refine(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    df = spark.createDataFrame([(1, base), (2, near)], ["doc_id", "text"])
    out = D.ngram_jaccard_pairs(df, threshold=0.5, k=8, bands=8).collect()
    assert len(out) == 1
    assert 0.5 <= out[0].jaccard < 1.0


def test_simhash_dedupe_groups_identical(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six")], ["doc_id", "text"])
    rows = D.simhash_dedupe(df).collect()
    assert sorted((r.keep_id, r.n_dups) for r in rows) == [(1, 2), (3, 1)]


def test_simhash_near_dup_pairs_complete_vs_brute(spark):
    """Uncapped block-permutation candidates + bit_count refine must find
    EXACTLY the all-pairs Hamming-≤d set (Manku pigeonhole completeness),
    across several d, on a randomized-ish deterministic corpus."""
    rows = [(i, " ".join("tok%d" % ((i * 5 + j * j) % 13)
                         for j in range(5 + i % 5))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r.doc_id: r.simhash
          for r in D.simhash_values(df, bits=48).collect()}
    ids = sorted(fp)
    for d in (1, 3, 5):
        want = sorted(
            (a, b, bin(fp[a] ^ fp[b]).count("1"))
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(fp[a] ^ fp[b]).count("1") <= d)
        got = sorted(map(tuple, D.simhash_near_dup_pairs(
            df, bits=48, max_hamming=d).collect()))
        assert got == want
    assert want  # d=5 found something — the check is not vacuous


def test_simhash_near_dup_pairs_cap_and_sql_twin(spark):
    """A hot block bucket (many identical docs) is dropped by max_bucket
    in BOTH engines; capped output ⊆ uncapped; SQL twin matches exactly
    in the capped and uncapped forms."""
    import duckdb
    import pandas as pd
    rows = [(i, "same same same same text here") for i in range(12)]
    rows += [(100 + i, " ".join("w%d" % ((i + j * 3) % 11)
                                for j in range(7))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    full = sorted(map(tuple, D.simhash_near_dup_pairs(
        df, bits=32, max_hamming=2).collect()))
    capped = sorted(map(tuple, D.simhash_near_dup_pairs(
        df, bits=32, max_hamming=2, max_bucket=8).collect()))
    # the 12 identical docs share every block: 66 pairs at hamming 0,
    # all dropped by the cap
    assert set(capped) < set(full)
    assert sum(1 for a, b, h in full if h == 0) >= 66
    for cap, got in ((None, full), (8, capped)):
        want = sorted(map(tuple, con.sql(D.simhash_near_dup_pairs_sql(
            bits=32, max_hamming=2, max_bucket=cap)).fetchall()))
        assert got == want


def test_simhash_wide_bits_three_form_parity(spark):
    """48-bit fingerprints (conv-parsed 12-hex prefix): scalable
    explode-agg == expression form == DuckDB twin; >60 bits raises."""
    import duckdb
    import pandas as pd
    rows = [(i, " ".join("v%d" % ((i * 7 + j) % 10) for j in range(6)))
            for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: r.simhash for r in D.simhash_values(df, bits=48).collect()}
    b = {r.doc_id: r.s for r in df.select(
        "doc_id", H.simhash_col(F.col("text"), 48).alias("s")).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    c = dict(con.sql(
        f"select doc_id, {H.simhash_sql('text', 48)} from documents").fetchall())
    assert a == b == c and len(a) == 15
    assert any(v >= (1 << 16) for v in a.values())  # genuinely wide
    with pytest.raises(ValueError, match=r"\[1, 60\]"):
        D.simhash_values(df, bits=61).collect()


def test_simhash_block_pigeonhole_fuzz():
    """Pure-math guarantee behind simhash_near_dup_pairs (no Spark): the
    (shift, width) split covers the bit range exactly, and ANY two
    fingerprints within Hamming distance d share at least one block
    verbatim — so the block equi-joins cannot miss a pair. The engine/SQL
    expressions themselves are parity-gated elsewhere."""
    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.integers(1, 60), st.integers(0, 5),
           st.lists(st.integers(0, (1 << 60) - 1), min_size=2, max_size=12))
    def check(bits, d, raw):
        assume(d + 1 <= bits)
        blocks = D._simhash_blocks(bits, d + 1)
        assert sum(w for _, w in blocks) == bits
        assert [s for s, _ in blocks] == [
            sum(w for _, w in blocks[:i]) for i in range(len(blocks))]
        fps = [v % (1 << bits) for v in raw]
        for i, a in enumerate(fps):
            for b in fps[i + 1:]:
                if bin(a ^ b).count("1") <= d:
                    assert any((a >> s) % (1 << w) == (b >> s) % (1 << w)
                               for s, w in blocks)

    check()


def test_embedding_near_dups(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.5]), (2, [0.99, 0.01, 0.0, 0.5]),
         (3, [-1.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"])
    out = D.embedding_near_dups(df, threshold=0.95, tables=2, bits=2,
                                dim=4).collect()
    assert [(r.a, r.b) for r in out] == [(1, 2)]


def test_hyperplane_lsh_recall_clustered(spark):
    """VERDICT r2 done-criterion: banded multi-table hyperplane LSH reaches
    recall >= 0.9 against brute force on a clustered corpus — the
    single-table leading-sign-bits scheme it replaced structurally missed
    near-dups across any sign flip."""
    emb = _clustered_corpus(spark, n_clusters=6, per_cluster=25, dim=16)
    # truth: all-pairs cosine (tables=1, bits=0 => one bucket)
    truth = {(r.a, r.b) for r in D.embedding_near_dups(
        emb, threshold=0.95, tables=1, bits=0, dim=16).collect()}
    assert len(truth) >= 50  # the corpus actually contains near-dups
    got = {(r.a, r.b) for r in D.embedding_near_dups(
        emb, threshold=0.95, tables=8, bits=8, dim=16).collect()}
    assert got <= truth  # refine step admits no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_hyperplane_lsh_bucket_bound(spark):
    """Bucket population halves per bit: on a spread corpus the max bucket
    stays a small fraction of n (the replaced 2^8-fixed-bucket scheme grew
    in-bucket pairs quadratically with corpus size), and max_bucket drops
    pathological hot buckets from pair generation entirely."""
    import numpy as np
    rng = np.random.default_rng(7)
    n = 512
    rows = [(i, [float(x) for x in v / np.linalg.norm(v)])
            for i, v in enumerate(rng.normal(size=(n, 16)))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sizes = [r["count"] for r in D.hyperplane_lsh_buckets(
        emb, tables=1, bits=8, dim=16).groupBy("band_key").count().collect()]
    assert max(sizes) <= n // 16, max(sizes)
    assert sum(sizes) == n

    # a hot bucket (50 identical vectors) is dropped under max_bucket
    hot = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(50)], "vec_id long, embedding array<double>")
    assert D.embedding_near_dups(hot, threshold=0.9, tables=2, bits=4,
                                 dim=16).count() == 50 * 49 // 2
    assert D.embedding_near_dups(hot, threshold=0.9, tables=2, bits=4,
                                 dim=16, max_bucket=10).count() == 0


def test_ann_brute_topk(spark, emb):
    q = emb.filter(F.col("vec_id") < 3)
    out = S.ann_topk_brute(q, emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for qid, rs in by_q.items():
        rs.sort()
        cs = [c for _, c in rs]
        assert cs == sorted(cs, reverse=True)


def test_ann_ivf_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    brute = S.ann_topk_brute(q, emb, k=5)
    ivf = S.ann_topk_ivf(q, emb, k=5, n_centroids=8, nprobe=4)
    b = {(r.query_id, r.corpus_id) for r in brute.collect()}
    i = {(r.query_id, r.corpus_id) for r in ivf.collect()}
    recall = len(b & i) / len(b)
    assert recall >= 0.5, recall  # approximate, but must be meaningfully high


def _clustered_corpus(spark, n_clusters=8, per_cluster=50, dim=16):
    """Deterministic clustered embeddings — the shape that craters the
    degenerate first-N-ids seed (most of the corpus lands in few buckets)."""
    import numpy as np
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + 0.08 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_ivf_recall_clustered(spark):
    """VERDICT r1 done-criterion: k-means centroids reach recall >= 0.9 on a
    CLUSTERED corpus (and beat the degenerate lowest-id seed, whose buckets
    collapse because the first N vectors all come from cluster 0)."""
    emb = _clustered_corpus(spark)
    q = emb.filter(F.col("vec_id") % 40 == 0)  # one query per cluster region
    b = {(r.query_id, r.corpus_id)
         for r in S.ann_topk_brute(q, emb, k=5).collect()}

    def recall(centroids):
        ivf = S.ann_topk_ivf(q, emb, k=5, n_centroids=8, nprobe=2,
                             centroids=centroids)
        i = {(r.query_id, r.corpus_id) for r in ivf.collect()}
        return len(b & i) / len(b)

    r_seed = recall("seed")
    r_kmeans = recall("kmeans")
    assert r_kmeans >= 0.9, (r_kmeans, r_seed)
    assert r_kmeans >= r_seed


def test_kmeans_centroids_deterministic_and_separating(spark):
    emb = _clustered_corpus(spark, n_clusters=4, per_cluster=30)
    c1 = {r.centroid_id: tuple(r.centv)
          for r in S.kmeans_centroids(emb, 4, iters=3).collect()}
    c2 = {r.centroid_id: tuple(r.centv)
          for r in S.kmeans_centroids(emb, 4, iters=3).collect()}
    assert c1 == c2  # bit-deterministic
    assert len(c1) == 4


def test_hyperplane_udf_matches_expression_form(spark):
    """The matmul pandas_udf (hot path) and the column-expression form (the
    DuckDB-oracle reference) must bucket identically — including HALF_UP
    rounding of negative milli-units, where numpy's default banker's
    rounding would diverge from Spark/DuckDB round()."""
    import numpy as np
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in v]) for i, v in
            enumerate(rng.normal(size=(64, 16)))]
    rows.append((64, [0.0015, -0.0025, 0.0005, -0.0005] + [0.0] * 12))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    udf_keys = {(r.vec_id, r.band_key) for r in D.hyperplane_lsh_buckets(
        emb, tables=3, bits=5, dim=16).collect()}
    expr = emb.select("vec_id", F.explode(F.array(*[
        H.hyperplane_band_key_col(F.col("embedding"), t, 5, 16)
        for t in range(3)])).alias("band_key"))
    expr_keys = {(r.vec_id, r.band_key) for r in expr.collect()}
    assert udf_keys == expr_keys


def test_hyperplane_short_vectors_match_expression_form(spark):
    """Vectors SHORTER than dim must bucket like the expression/SQL twin:
    the projection collapses (try_element_at past the end is NULL ⇒ sum
    NULL) and every bit reads '0' — not the sign of a partial sum."""
    rows = [(0, [-0.5357, 0.3616]), (1, [0.9, -0.2, 0.4, -0.8]),
            (2, [0.1]), (3, None)]  # NULL embedding == empty (all-'0' bits)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    udf_keys = {(r.vec_id, r.band_key) for r in D.hyperplane_lsh_buckets(
        emb, tables=2, bits=3, dim=4).collect()}
    expr = emb.select("vec_id", F.explode(F.array(*[
        H.hyperplane_band_key_col(F.col("embedding"), t, 3, 4)
        for t in range(2)])).alias("band_key"))
    expr_keys = {(r.vec_id, r.band_key) for r in expr.collect()}
    assert udf_keys == expr_keys
    assert (0, "0:000") in udf_keys  # short vector => all-zero bits
    assert (2, "0:000") in udf_keys
    assert (3, "0:000") in udf_keys and (3, "1:000") in udf_keys


def test_hyperplane_band_key_sql_bits_zero():
    """bits=0 (the exact single-bucket mode) must generate VALID SQL, like
    the column and batch twins."""
    import duckdb
    sql = H.hyperplane_band_key_sql("embedding", 1, 0, 4)
    assert duckdb.sql(f"SELECT {sql} AS k").fetchone()[0] == "1:"


def test_netpbm_roundtrip_and_auto_decode(spark):
    """REAL uncompressed image codecs: PGM round-trip and PPM decode (incl.
    the spec's comment-header grammar) and decode_image(auto) over a mixed
    IMG1 + P5 + P6 table."""
    import numpy as np
    img = (np.arange(12, dtype=np.uint8).reshape(3, 4) * 7) % 256
    pgm = MM.encode_pgm(img)
    w, h, c, px = MM.decode_pnm(pgm)
    assert (w, h, c) == (4, 3, 1) and (px.reshape(3, 4) == img).all()
    # comment in the header is legal netpbm
    commented = pgm.replace(b"P5\n", b"P5\n# a comment\n", 1)
    assert MM.decode_pnm(commented)[:3] == (4, 3, 1)
    rgb = np.stack([img, img // 2, img * 2], axis=-1).astype(np.uint8)
    ppm = b"P6\n4 3\n255\n" + rgb.tobytes()
    w, h, c, px = MM.decode_pnm(ppm)
    assert (w, h, c) == (4, 3, 3) and (px.reshape(3, 4, 3) == rgb).all()

    fake = MM.synthesize_media(spark, 2, partitions=1)
    import pandas as pd
    real = spark.createDataFrame(
        pd.DataFrame({"media_id": [100, 101], "kind": ["image", "image"],
                      "payload": [pgm, ppm],
                      "meta": [None, None]}), MM.MEDIA_SCHEMA)
    feats = MM.decode_image(fake.unionByName(real)).collect()
    out = {r.media_id: (r.width, r.height) for r in feats}
    assert out[100] == (4, 3) and out[101] == (4, 3)
    assert len(out) == 4
    for r in feats:
        assert 0 <= r.mean_px <= 255
        assert sum(r.histogram) == r.width * r.height


def test_compressed_codec_seam_still_declared(spark):
    med = MM.synthesize_media(spark, 1, partitions=1)
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        MM.decode_image(med, codec="real")


def test_near_dup_components_raises_without_fixpoint(spark):
    """Exhausting max_iters before the fixpoint must RAISE, not return
    half-propagated labels (a 6-chain needs ~5 rounds; 2 can't finish)."""
    import pytest
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a long, b long")
    with pytest.raises(RuntimeError, match="max_iters"):
        D.near_dup_components(pairs, max_iters=2)
    comp = {r.member: r.component
            for r in D.near_dup_components(pairs, max_iters=10).collect()}
    assert comp == {i: 0 for i in range(7)}


def test_dedupe_corpus_keeps_min_per_component(spark):
    """dedupe_corpus keeps exactly the component labels (min ids) plus
    unpaired docs, deterministically."""
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(3, 4), (4, 5), (8, 9)], "a long, b long")
    kept = sorted(r.doc_id for r in
                  D.dedupe_corpus(docs, pairs).select("doc_id").collect())
    assert kept == [0, 1, 2, 3, 6, 7, 8]
    again = sorted(r.doc_id for r in
                   D.dedupe_corpus(docs, pairs).select("doc_id").collect())
    assert again == kept


def test_decontaminate_hand_case(spark):
    """n-gram collision flagging: doc sharing an n-gram window with the
    benchmark is contaminated; short docs (< n tokens) and disjoint docs
    are not; n_hits counts DISTINCT colliding grams."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "said the quick brown fox and left"),             # 1 hit (n=4)
         (2, "the quick brown fox jumps over something else"), # several
         (3, "completely different words here entirely now"),
         (4, "quick brown fox"),                               # < n tokens
         (5, "x the quick brown fox jumps y the quick brown fox jumps z")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_hits, r.contaminated)
           for r in D.decontaminate(docs, bench, n=4).collect()}
    assert out[1] == (1, True)      # "the quick brown fox"... one window
    assert out[2][1] and out[2][0] >= 2
    assert out[3] == (0, False)
    assert out[4] == (0, False)
    # doc 5 repeats the same windows — distinct count, not occurrences
    assert out[5] == (out[5][0], True) and out[5][0] == 2


def test_dedupe_lines_boilerplate(spark):
    """Corpus line dedupe: shared boilerplate lines vanish from every doc,
    unique body lines survive in order, whitespace-only lines are never
    hot, and a doc repeating its own line contributes each copy to the
    count."""
    bp = "all rights reserved"
    docs = spark.createDataFrame(
        [(1, f"{bp}\nalpha body one\n\nbeta body two"),
         (2, f"{bp}\ngamma body"),
         (3, f"solo doc\nself dup\nself dup")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in D.dedupe_lines(docs, min_count=2).collect()}
    assert out[1].n_lines == 4 and out[1].n_removed == 1
    assert out[1].text_clean == "alpha body one\n\nbeta body two"
    assert out[2].text_clean == "gamma body"
    # "self dup" appears twice (same doc) -> hot -> both copies removed
    assert out[3].n_removed == 2 and out[3].text_clean == "solo doc"


def test_sample_mixture_rates_and_determinism(spark):
    """Per-group mixture: rate 1.0 keeps every group member, 0.0 drops
    all, fractional rates are deterministic and per-doc independent
    (changing one group's rate never changes another group's kept set)."""
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(200)],
        "doc_id long, lang string")
    kept = lambda rates, default=0.0: {
        r.doc_id for r in CH.sample_mixture(
            docs, rates, default_rate=default).collect()}
    all_fr = kept({"en": 0.0, "fr": 1.0})
    assert all_fr == {i for i in range(200) if i % 2 == 1}
    half_en = kept({"en": 0.5, "fr": 1.0})
    assert all_fr < half_en and half_en == kept({"en": 0.5, "fr": 1.0})
    # fr kept-set identical whatever en's rate is
    assert {i for i in half_en if i % 2 == 1} == all_fr
    # absent group takes default_rate
    assert kept({"fr": 1.0}, default=1.0) == set(range(200))


def test_dedupe_substrings_exactsubstr_semantics(spark):
    """ExactSubstr at 8-gram anchors: the globally-first occurrence of a
    repeated passage survives intact, every other occurrence loses the
    FULL overlapping span (merged grams), docs shorter than k and empty
    docs pass through, and sub-k self-repetition is untouched."""
    from vtcomposite_spark.operators import dedupe as D

    docs = spark.createDataFrame([
        (1, "a b c d e f g h i j"),        # first occurrence: kept
        (2, "x y a b c d e f g h i j z"),  # repeat: grams a..h/b..i/c..j
        (3, "short doc"),                  # < k tokens
        (4, ""),                           # empty
        (5, "p q r p q r p q r"),          # repetition below k
    ], "doc_id long, text string")
    out = {r.id: r for r in D.dedupe_substrings(docs, k=8).collect()}
    assert len(out) == 5
    assert (out[1].n_removed, out[1].text_clean) == (0, "a b c d e f g h i j")
    # spans [2,10)+[3,11)+[4,12) merge to [2,12): 10 tokens removed
    assert (out[2].n_tokens, out[2].n_removed, out[2].text_clean) \
        == (13, 10, "x y z")
    assert (out[3].n_removed, out[3].text_clean) == (0, "short doc")
    assert (out[4].n_tokens, out[4].text_clean) == (0, "")
    assert (out[5].n_removed, out[5].text_clean) == (0, "p q r p q r p q r")


def test_dedupe_substrings_self_repeat_and_triple(spark):
    """A doc repeating its own long passage keeps only the first copy;
    a gram occurring in three docs survives only in the smallest id."""
    from vtcomposite_spark.operators import dedupe as D

    passage = "one two three four five six seven eight"
    docs = spark.createDataFrame([
        (1, f"{passage} mid {passage}"),
        (2, f"lead-in {passage}"),
        (3, f"{passage} trailer"),
    ], "doc_id long, text string")
    out = {r.id: r for r in D.dedupe_substrings(docs, k=8).collect()}
    assert out[1].text_clean == f"{passage} mid"
    assert out[1].n_removed == 8
    assert out[2].text_clean == "lead-in"
    assert out[3].text_clean == "trailer"


def _corpus_docs_df(spark, n=60):
    rows = [(i, f"tok{i % 7} tok{i % 3} alpha beta{'x' * (i % 2)} "
             f"gamma tok{i % 11}", ["en", "fr", "de"][i % 3],
             f"src{i % 4}", 100 + i * 7 % 50) for i in range(n)]
    rows.append((n, "", "en", "src0", 0))  # zero-token doc
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"), rows


def test_dsir_logratio_twin_parity_and_direction(spark):
    """Engine == DuckDB twin value-exact on a synthesized corpus; docs
    drawn from the target slice average a HIGHER importance log-ratio
    than the rest (the DSIR selection signal points the right way);
    zero-token docs emit nothing."""
    from vtcomposite_spark.operators import chunking as CH
    docs, rows = _corpus_docs_df(spark)
    target = docs.filter(F.col("lang") == "en")
    got = {r.doc_id: (r.n_tokens, r.logratio_micro_sum,
                      r.avg_logratio_micro)
           for r in CH.dsir_logratio(docs, target, buckets=256).collect()}
    duckdb.sql("DROP TABLE IF EXISTS _dsir_docs")
    duckdb.sql("CREATE TABLE _dsir_docs(doc_id BIGINT, text VARCHAR, "
               "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    duckdb.executemany("INSERT INTO _dsir_docs VALUES (?, ?, ?, ?, ?)",
                       rows)
    want = {int(r[0]): (int(r[1]), int(r[2]), int(r[3]))
            for r in duckdb.sql(CH.dsir_logratio_sql(
                "lang = 'en'", buckets=256, table="_dsir_docs"))
            .fetchall()}
    assert got == want
    assert 60 not in got  # the zero-token doc
    en = [got[i][2] for i in got if i % 3 == 0]
    rest = [got[i][2] for i in got if i % 3 != 0]
    assert sum(en) / len(en) > sum(rest) / len(rest)
    with pytest.raises(ValueError, match="buckets"):
        CH.dsir_logratio(docs, target, buckets=100000)


def test_cap_per_group_hand_case_and_salted_identity(spark):
    """Keep-best-n per group under the total (order DESC, id ASC) order:
    ties on the order column break toward the smaller id; the salted
    two-phase prune returns the IDENTICAL rows (exactness of the
    per-salt-bucket pre-prune)."""
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, "a", 30), (4, "a", 20),
         (5, "b", 5)],
        "doc_id long, source string, n_chars long")
    got = {(r.source, r.grp_rank): r.doc_id
           for r in CH.cap_per_group(docs, 2).collect()}
    assert got == {("a", 1): 2, ("a", 2): 3, ("b", 1): 5}
    plain = sorted(tuple(r) for r in CH.cap_per_group(docs, 2).collect())
    for s in (2, 7):
        salted = sorted(tuple(r) for r in
                        CH.cap_per_group(docs, 2,
                                         salt_partitions=s).collect())
        assert salted == plain


def test_pack_sequences_hand_case_and_bucket_parity(spark):
    """Token counts [3, 5, 2] at seq_tokens=4 concatenate to stream
    positions 0-9 → the known slice map; a zero-token doc vanishes; sum
    of slice lengths == total tokens and every sequence except the last
    is exactly full. bucket_docs=1 (every doc its own prefix-sum bucket)
    must equal the single-bucket default — the distributed two-phase
    cumsum is exact."""
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g h"), (3, ""), (4, "i j")],
        "doc_id long, text string")
    out = {(r.seq_idx, r.doc_id):
           (r.doc_tok_start, r.seq_tok_start, r.n_toks)
           for r in CH.pack_sequences(docs, seq_tokens=4).collect()}
    assert out == {(0, 1): (0, 0, 3), (0, 2): (0, 3, 1),
                   (1, 2): (1, 0, 4), (2, 4): (0, 0, 2)}
    assert sum(v[2] for v in out.values()) == 10
    for s in (1, 3):
        per_bucket = {(r.seq_idx, r.doc_id):
                      (r.doc_tok_start, r.seq_tok_start, r.n_toks)
                      for r in CH.pack_sequences(
                          docs, seq_tokens=4, bucket_docs=s).collect()}
        assert per_bucket == out
    with pytest.raises(ValueError):
        CH.pack_sequences(docs, seq_tokens=0)


def test_pack_sequences_twin_parity(spark):
    """Engine (distributed prefix sum) == DuckDB twin (naive global
    window) value-exact on a synthesized corpus spanning many buckets."""
    from vtcomposite_spark.operators import chunking as CH
    docs, rows = _corpus_docs_df(spark)
    got = {(r.seq_idx, r.doc_id):
           (r.doc_tok_start, r.seq_tok_start, r.n_toks)
           for r in CH.pack_sequences(docs, seq_tokens=7,
                                      bucket_docs=8).collect()}
    duckdb.sql("DROP TABLE IF EXISTS _ps_docs")
    duckdb.sql("CREATE TABLE _ps_docs(doc_id BIGINT, text VARCHAR, "
               "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    duckdb.executemany("INSERT INTO _ps_docs VALUES (?, ?, ?, ?, ?)", rows)
    want = {(int(r[0]), int(r[1])): (int(r[2]), int(r[3]), int(r[4]))
            for r in duckdb.sql(CH.pack_sequences_sql(
                7, table="_ps_docs")).fetchall()}
    assert got == want and got


def test_bigram_merge_candidates_hand_case_and_salted(spark):
    """'a b a b c' + 'a b' → (a,b)×3 ranks 1; (b,a) and (b,c) fall at
    min_count=2 and survive at 1 with the (cnt DESC, w1, w2) tie-break;
    the salted two-phase prune returns identical rows."""
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame([(1, "a b a b c"), (2, "a b")],
                                 "doc_id long, text string")
    got = [(r.w1, r.w2, r.cnt, r.pair_rank) for r in
           CH.bigram_merge_candidates(docs, k=10, min_count=2)
           .orderBy("pair_rank").collect()]
    assert got == [("a", "b", 3, 1)]
    got1 = [(r.w1, r.w2, r.cnt, r.pair_rank) for r in
            CH.bigram_merge_candidates(docs, k=10, min_count=1)
            .orderBy("pair_rank").collect()]
    assert got1 == [("a", "b", 3, 1), ("b", "a", 1, 2), ("b", "c", 1, 3)]
    for s in (2, 5):
        assert [(r.w1, r.w2, r.cnt, r.pair_rank) for r in
                CH.bigram_merge_candidates(docs, k=10, min_count=1,
                                           salt_partitions=s)
                .orderBy("pair_rank").collect()] == got1


def test_bigram_surprisal_twin_parity_and_contract(spark):
    """Engine == DuckDB twin value-exact; single-token and empty docs
    emit nothing; a doc made of the corpus's most common transitions
    scores LOWER than a rare-transition doc."""
    from vtcomposite_spark.operators import chunking as CH
    docs, rows = _corpus_docs_df(spark)
    got = {r.doc_id: (r.n_bigrams, r.surprisal_micro_sum,
                      r.avg_surprisal_micro)
           for r in CH.bigram_surprisal(docs).collect()}
    duckdb.sql("DROP TABLE IF EXISTS _bs_docs")
    duckdb.sql("CREATE TABLE _bs_docs(doc_id BIGINT, text VARCHAR, "
               "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    duckdb.executemany("INSERT INTO _bs_docs VALUES (?, ?, ?, ?, ?)", rows)
    want = {int(r[0]): (int(r[1]), int(r[2]), int(r[3]))
            for r in duckdb.sql(CH.bigram_surprisal_sql(
                table="_bs_docs")).fetchall()}
    assert got == want and got
    assert 60 not in got  # empty doc
    small = spark.createDataFrame(
        [(1, "x x x x"), (2, "x q z y"), (3, "solo"), (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r.avg_surprisal_micro
           for r in CH.bigram_surprisal(small).collect()}
    assert set(out) == {1, 2}
    assert out[1] < out[2]


def test_quantize_embeddings_hand_case_and_roundtrip(spark):
    """Known ranges → known codes; a constant dimension codes to 0;
    dequantization error is bounded by (hi−lo)/(2·levels); DuckDB twin
    is value-exact on float inputs (exact float→double widening)."""
    import numpy as np

    from vtcomposite_spark.operators import similarity as S

    rows = [(0, [0.0, 5.0, 1.0]), (1, [1.0, 5.0, 0.0]),
            (2, [0.5, 5.0, 0.25])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.vec_id, r.dim): r.code
           for r in S.quantize_embeddings(emb, bits=8).collect()}
    assert got[(0, 0)] == 0 and got[(1, 0)] == 255
    assert got[(2, 0)] == 128  # round(0.5 * 255) = round(127.5) HALF-UP
    assert all(got[(i, 1)] == 0 for i in range(3))  # constant dim
    assert got[(2, 2)] == round(0.25 * 255)
    # dequant error bound over a random corpus
    rng = np.random.default_rng(7)
    data = [(i, [float(x) for x in rng.normal(size=8).astype("float32")])
            for i in range(40)]
    emb2 = spark.createDataFrame(data,
                                 "vec_id long, embedding array<float>")
    codes = {(r.vec_id, r.dim): r.code
             for r in S.quantize_embeddings(emb2, bits=8).collect()}
    arr = np.array([v for _, v in data], dtype="float64")
    lo, hi = arr.min(axis=0), arr.max(axis=0)
    for (i, d), c in codes.items():
        deq = lo[d] + c * (hi[d] - lo[d]) / 255
        assert abs(deq - arr[i, d]) <= (hi[d] - lo[d]) / (2 * 255) + 1e-12
    # twin parity
    import pandas as pd
    duckdb.sql("DROP TABLE IF EXISTS _qe")
    duckdb.register("_qe_src", pd.DataFrame(
        {"vec_id": [i for i, _ in data],
         "embedding": [np.array(v, dtype="float32") for _, v in data]}))
    duckdb.sql("CREATE TABLE _qe AS SELECT vec_id, "
               "embedding::FLOAT[] AS embedding FROM _qe_src")
    want = {(int(r[0]), int(r[1])): int(r[2]) for r in duckdb.sql(
        S.quantize_embeddings_sql(8, table="_qe")).fetchall()}
    assert codes == want
    with pytest.raises(ValueError):
        S.quantize_embeddings(emb, bits=0)


# --- SemDeDup (semantic dedup; similarity.semdedup) ---

def _knotted_corpus(spark):
    """3 tight duplicate knots (exact copies) + unique fillers, 16-dim.
    Ids interleave knots and fillers so "keep the min id" is non-trivial."""
    import numpy as np
    rng = np.random.default_rng(3)
    base = rng.normal(size=(3, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i in range(60):
        if i % 4 == 3:      # ids 3,7,11,... are knot members
            v = base[(i // 4) % 3]
        else:
            v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")


def test_semdedup_keeps_one_per_knot(spark):
    emb2 = _knotted_corpus(spark)
    out = {r.vec_id: (r.bucket, r.kept)
           for r in S.semdedup(emb2, threshold=0.999,
                               n_centroids=4).collect()}
    assert len(out) == 60  # one row per input vector, always
    # within every (bucket, knot) the smallest id is kept, the rest drop
    knots = {}
    for i in range(60):
        if i % 4 == 3:
            knots.setdefault(((i // 4) % 3, out[i][0]), []).append(i)
    for members in knots.values():
        kept = [m for m in members if out[m][1]]
        assert kept == [min(members)], (members, kept)
    # fillers (random 16-dim, far below 0.999 cosine) all survive
    assert all(out[i][1] for i in range(60) if i % 4 != 3)


def test_semdedup_max_bucket_guardrail(spark):
    hot = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(50)],
        "vec_id long, embedding array<double>")
    # uncapped: one survivor; capped: the over-cap bucket skips pruning
    assert S.semdedup(hot, threshold=0.9, n_centroids=2) \
        .filter("kept").count() == 1
    assert S.semdedup(hot, threshold=0.9, n_centroids=2,
                      max_bucket=10).filter("kept").count() == 50


def test_semdedup_kmeans_variant_runs(spark):
    emb2 = _knotted_corpus(spark)
    out = S.semdedup(emb2, threshold=0.999, n_centroids=4,
                     centroids="kmeans", kmeans_iters=2)
    kept = out.filter("kept").count()
    assert 40 <= kept < 60  # drops some knot members, keeps all fillers


def test_semdedup_sql_twin_parity(spark, emb):
    sub = emb.filter(F.col("vec_id") % 3 == 0)
    got = {(r.vec_id, r.bucket, r.kept)
           for r in S.semdedup(sub, threshold=0.25, n_centroids=6).collect()}
    want = {(int(a), int(b), bool(k)) for a, b, k in duck(
        S.semdedup_sql(0.25, 6, where="vec_id % 3 = 0"))}
    assert got == want


# --- URL canonicalization + crawl dedupe ---

URL_CASES = [
    ("HTTP://WWW.Ex.COM:80/A/b/?utm_source=x", "https://ex.com/A/b"),
    ("https://site.com/p?utm_a=1&v=2#frag", "https://site.com/p?v=2"),
    ("https://site.com/p?v=2&gclid=xyz", "https://site.com/p?v=2"),
    ("http://site.com:443/", "https://site.com"),
    ("https://site.com/p/?utm_x=1", "https://site.com/p"),
    ("https://site.com/p?utm_a=1&utm_b=2&x=1", "https://site.com/p?x=1"),
    ("https://site.com/CaseKept/Path", "https://site.com/CaseKept/Path"),
    ("foo/bar/", "foo/bar"),
]


def test_canonicalize_url_hand_cases_both_engines(spark):
    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    got = [r.c for r in
           df.select(TX.canonicalize_url_col(F.col("url")).alias("c"))
           .collect()]
    assert got == [w for _, w in URL_CASES]
    lits = " UNION ALL ".join(
        f"SELECT '{u}' AS url, {i} AS i" for i, (u, _) in enumerate(URL_CASES))
    rows = duck(f"SELECT {TX.canonicalize_url_sql('url')} AS c FROM "
                f"({lits}) ORDER BY i")
    assert [r[0] for r in rows] == [w for _, w in URL_CASES]


def test_url_dedupe_min_id_rule(spark):
    df = spark.createDataFrame(
        [(1, "https://a.com/x?utm_s=1"), (2, "http://www.a.com/x/"),
         (3, "https://a.com/y"), (4, "https://A.com/x")],
        "doc_id long, url string")
    out = {r.doc_id: (r.canonical_url, r.kept)
           for r in D.url_dedupe(df).collect()}
    assert out[1] == ("https://a.com/x", True)
    assert out[2] == ("https://a.com/x", False)
    assert out[4] == ("https://a.com/x", False)
    assert out[3] == ("https://a.com/y", True)


# --- hard-negative mining (similarity.hard_negatives) ---

def test_hard_negatives_excludes_same_label(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    out = S.hard_negatives(q, emb, k=5)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert len(rows) == 10 * 5
    for r in rows:
        assert labels[r.query_id] != labels[r.corpus_id]
    # ranks descend by cosine within each query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for rs in by_q.values():
        cs = [c for _, c in sorted(rs)]
        assert cs == sorted(cs, reverse=True)


def test_hard_negatives_duckdb_twin_parity(spark, emb):
    q = emb.filter(F.col("vec_id") % 9 == 0)
    got = {(r.query_id, r.corpus_id, r.rank)
           for r in S.hard_negatives(q, emb, k=3).collect()}
    want = {(int(a), int(b), int(r)) for a, b, c, r in duck(
        S.hard_negatives_sql(3, "q.vec_id % 9 = 0"))}
    assert got == want


# --- host-scoped line dedupe (RefinedWeb site-scoped boilerplate) ---

def test_dedupe_lines_scope_col(spark):
    rows = [
        (1, "h1", "nav h1\nunique one\nshared sentence"),
        (2, "h1", "nav h1\nunique two"),
        (3, "h2", "nav h2\nshared sentence\nunique three"),
        (4, "h2", "nav h2\nunique four"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    # global rule: 'shared sentence' (2 occurrences across hosts) is hot
    g = {r.doc_id: r.text_clean
         for r in D.dedupe_lines(df, min_count=2).collect()}
    assert g[1] == "unique one" and g[3] == "unique three"
    # scoped rule: nav lines (repeat within host) drop, the cross-host
    # shared sentence (once per host) SURVIVES
    s = {r.doc_id: r.text_clean
         for r in D.dedupe_lines(df, min_count=2, scope_col="host")
         .collect()}
    assert s[1] == "unique one\nshared sentence"
    assert s[3] == "shared sentence\nunique three"
    assert s[2] == "unique two" and s[4] == "unique four"


# --- BPE tokenizer training (chunking.bpe_train) ---

def test_bpe_train_greedy_leftmost_hand_case(spark):
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaab")], "doc_id long, text string")
    got = CH.bpe_train(docs, merges=3)
    # (a,a): 3 overlapping pairs x cnt 2 in 'aaaa' + 2 in 'aaab' = 8;
    # greedy-leftmost turns 'aaaa' into ('aa','aa') — NOT ('aa','a','a');
    # round 2 ties (a,b)=2 vs (aa,aa)=2 -> 'a' < 'aa' wins the total order
    assert got == [(1, "a", "a", 8), (2, "a", "b", 2),
                   (3, "aa", "aa", 2)]
    # SQL twin replays the same merges
    import pandas as pd
    duckdb.register("_bpe_d", pd.DataFrame(
        {"doc_id": [1, 2], "text": ["aaaa aaaa ab", "aaab"]}))
    want = sorted(duckdb.sql(CH.bpe_train_sql(3, table="_bpe_d"))
                  .fetchall())
    assert got == [(int(r), a, b, int(w)) for r, a, b, w in want]


def _py_bpe_tokenize(word, pairs):
    """Pure-python greedy-leftmost BPE apply — the spec twin."""
    syms = list(word)
    for a, b in pairs:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_apply_hand_case_and_twin(spark):
    from vtcomposite_spark.operators import chunking as CH
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaab")], "doc_id long, text string")
    rules = CH.bpe_train(docs, merges=3)
    got = sorted(tuple(r) for r in CH.bpe_apply(docs, rules).collect())
    # 'aaaa'→['aaaa'] (aa+aa via round 3), 'ab'→['ab'], 'aaab'→['aa','ab']
    assert got == [(1, 1, 1, "aaaa"), (1, 2, 1, "aaaa"), (1, 3, 1, "ab"),
                   (2, 1, 1, "aa"), (2, 1, 2, "ab")]
    # plain (a, b) pair rules tokenize identically to bpe_train 4-tuples
    got2 = sorted(tuple(r) for r in CH.bpe_apply(
        docs, [("a", "a"), ("a", "b"), ("aa", "aa")]).collect())
    assert got2 == got
    # SQL twin (train chain + application join) replays the tokenization
    import pandas as pd
    duckdb.register("_bpe_ap", pd.DataFrame(
        {"doc_id": [1, 2], "text": ["aaaa aaaa ab", "aaab"]}))
    want = sorted((int(i), int(w), int(s), y) for i, w, s, y in
                  duckdb.sql(CH.bpe_apply_sql(3, table="_bpe_ap"))
                  .fetchall())
    assert got == want
    # bad rule shape is loud
    with pytest.raises(ValueError):
        CH.bpe_apply(docs, [("a", 3)])


def test_bpe_apply_matches_pure_python_reference(spark):
    """Randomized corpus over a tiny alphabet (maximizes overlapping
    a==b merge runs): engine tokenization == the per-word pure-python
    greedy-leftmost spec, with trained rules."""
    import random

    from vtcomposite_spark.operators import chunking as CH
    rng = random.Random(20260818)
    rows = [(i, " ".join(
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
        for _ in range(rng.randint(1, 8)))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rules = CH.bpe_train(docs, merges=4)
    pairs = [(a, b) for _, a, b, _ in rules]
    got = sorted(tuple(r) for r in CH.bpe_apply(docs, rules).collect())
    want = sorted(
        (i, wp, sp, sym)
        for i, text in rows
        for wp, word in enumerate(text.split(), 1)
        for sp, sym in enumerate(_py_bpe_tokenize(word, pairs), 1))
    assert got == want


def test_bpe_train_corpus_twin_parity(spark, docs):
    from vtcomposite_spark.operators import chunking as CH
    got = CH.bpe_train(docs, merges=4)
    want = sorted(duck(CH.bpe_train_sql(4)))
    assert got == [(int(r), a, b, int(w)) for r, a, b, w in want]
    # weights strictly ordered data-independently? no — but each round's
    # pick must dominate the NEXT round's weight (merging only removes
    # pair mass for a fixed pair inventory modulo the new symbol)
    assert all(isinstance(a, str) and isinstance(b, str)
               for _, a, b, _ in got)


# --- Product quantization (similarity.pq_encode / pq_topk) ---

def test_pq_encode_hand_case_and_validation(spark):
    """2-dim, m=2 (one dim per subspace), 2 seed centroids: codes are
    the per-dim nearest seed — checkable by eye."""
    rows = [(0, [0.0, 10.0]), (1, [1.0, 0.0]),
            (2, [0.1, 9.0]), (3, [0.9, 1.0]), (4, [0.0, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_id, r.sub): r.code for r in
           S.pq_encode(df, m=2, n_centroids=2).collect()}
    # seeds: vec 0 = (0, 10), vec 1 = (1, 0)
    assert got == {(0, 0): 0, (0, 1): 0, (1, 0): 1, (1, 1): 1,
                   (2, 0): 0, (2, 1): 0, (3, 0): 1, (3, 1): 1,
                   (4, 0): 0, (4, 1): 1}
    with pytest.raises(ValueError):
        S.pq_encode(df, m=3)  # 2 dims not divisible


def test_pq_codes_duckdb_twin_parity(spark, emb):
    got = sorted(tuple(r) for r in
                 S.pq_encode(emb, m=8, n_centroids=16).collect())
    want = sorted(tuple(int(v) for v in r) for r in duck(
        S.pq_encode_sql(m=8, n_centroids=16, dims=64)))
    assert got == want
    # every vector carries exactly m codes drawn from the seed ids
    per_vec = {}
    for vid, sub, code in got:
        per_vec.setdefault(vid, set()).add(sub)
        assert 0 <= code < 16
    assert all(subs == set(range(8)) for subs in per_vec.values())


def test_pq_topk_twin_parity_and_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 20)
    got = sorted(tuple(r) for r in
                 S.pq_topk(q, emb, k=5, m=8, n_centroids=16).collect())
    want = sorted(tuple(int(v) for v in r) for r in duck(
        S.pq_topk_sql(5, m=8, n_centroids=16, dims=64,
                      query_where="vid < 20")))
    assert got == want
    # ADC quality: meaningfully above chance against the exact brute
    # top-5 (5/500 random ≈ 1%); PQ at m=8,k=16 is a coarse 32-bit code
    brute = {(r.query_id, r.corpus_id) for r in
             S.ann_topk_brute(q, emb, k=5).collect()}
    pq = {(g[0], g[1]) for g in got}
    recall = len(brute & pq) / len(brute)
    assert recall >= 0.2, recall


# --- sketches: linear counting + count-min ---

def test_linear_count_accuracy_and_twin(spark):
    from vtcomposite_spark.operators import sketches as SK
    n = 300
    df = spark.createDataFrame(
        [(f"u{i % n}",) for i in range(1200)], "v string")
    r = SK.linear_count(df, "v", k=4096).collect()[0]
    est = r.est_micro / 1e6
    assert abs(est - n) / n < 0.1, est       # ±10% at load 300/4096
    duckdb.sql("DROP TABLE IF EXISTS _lcq")
    duckdb.sql("CREATE TABLE _lcq(v VARCHAR)")
    duckdb.executemany("INSERT INTO _lcq VALUES (?)",
                       [(f"u{i % n}",) for i in range(1200)])
    want = duckdb.sql(SK.linear_count_sql(
        "SELECT v FROM _lcq", "v", k=4096)).fetchone()
    assert (r.n_buckets_hit, r.est_micro) == (want[0], want[1])
    # saturation → null estimate
    sat = SK.linear_count(df, "v", k=2).collect()[0]
    assert sat.n_buckets_hit == 2 and sat.est_micro is None
    with pytest.raises(ValueError):
        SK.linear_count(df, "v", k=0)


def test_countmin_overcount_bound_and_twin(spark):
    from vtcomposite_spark.operators import sketches as SK
    import collections
    vals = [f"t{i % 40}" for i in range(800)] + ["hot"] * 200
    truth = collections.Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    sk = SK.countmin_build(df, "v", depth=4, width=256)
    items = spark.createDataFrame(
        [(t,) for t in truth] + [("absent",)], "v string")
    got = {r.item: r.est for r in
           SK.countmin_estimate(sk, items, "v", depth=4,
                                width=256).collect()}
    # count-min never undercounts; the hot item is near-exact
    assert all(got[t] >= c for t, c in truth.items())
    assert got["hot"] >= 200 and got["hot"] <= 240
    assert got["absent"] >= 0  # may collide, never negative
    duckdb.sql("DROP TABLE IF EXISTS _cmq")
    duckdb.sql("CREATE TABLE _cmq(v VARCHAR)")
    duckdb.executemany("INSERT INTO _cmq VALUES (?)", [(v,) for v in vals])
    duckdb.sql("DROP TABLE IF EXISTS _cmi")
    duckdb.sql("CREATE TABLE _cmi(item VARCHAR)")
    duckdb.executemany("INSERT INTO _cmi VALUES (?)",
                       [(t,) for t in truth] + [("absent",)])
    want = dict(duckdb.sql(SK.countmin_sql(
        "SELECT v FROM _cmq", "v", "SELECT item FROM _cmi",
        depth=4, width=256)).fetchall())
    assert got == {k: int(v) for k, v in want.items()}
    with pytest.raises(ValueError):
        SK.countmin_build(df, "v", depth=0)


def test_bloom_no_false_negatives_and_twin(spark):
    from vtcomposite_spark.operators import sketches as SK
    members = [f"url{i}" for i in range(300)]
    absents = [f"other{i}" for i in range(300)]
    df = spark.createDataFrame([(v,) for v in members], "v string")
    bl = SK.bloom_build(df, "v", m_bits=8192, k_hashes=4)
    items = spark.createDataFrame(
        [(v,) for v in members + absents], "v string")
    got = {r.item: r.maybe for r in
           SK.bloom_contains(bl, items, "v", m_bits=8192,
                             k_hashes=4).collect()}
    assert all(got[v] for v in members)          # NO false negatives
    fp = sum(got[v] for v in absents) / len(absents)
    assert fp < 0.2, fp                          # fp ~(1-e^-kn/m)^k ≈ 2%
    duckdb.sql("DROP TABLE IF EXISTS _blq")
    duckdb.sql("CREATE TABLE _blq(v VARCHAR)")
    duckdb.executemany("INSERT INTO _blq VALUES (?)",
                       [(v,) for v in members])
    duckdb.sql("DROP TABLE IF EXISTS _bli")
    duckdb.sql("CREATE TABLE _bli(item VARCHAR)")
    duckdb.executemany("INSERT INTO _bli VALUES (?)",
                       [(v,) for v in members + absents])
    want = dict(duckdb.sql(SK.bloom_sql(
        "SELECT v FROM _blq", "v", "SELECT item FROM _bli",
        m_bits=8192, k_hashes=4)).fetchall())
    assert got == want
    with pytest.raises(ValueError):
        SK.bloom_build(df, "v", m_bits=100)


# --- winnowing fingerprints (dedupe.winnow_fingerprints) ---

def _py_winnow(tokens, k, w):
    """Pure-python spec twin: 16-bit md5-prefix gram hashes, window
    min with rightmost tie, clipped final window for short docs."""
    import hashlib
    grams = []
    for p in range(len(tokens) - k + 1):
        g = "\x1f".join(tokens[p:p + k])
        grams.append((p, int(hashlib.md5(g.encode()).hexdigest()[:4], 16)))
    if not grams:
        return set()
    sel = set()
    for s in range(max(len(grams) - w, 0) + 1):
        win = grams[s:s + w]
        best = min(win, key=lambda t: (t[1], -t[0]))
        sel.add((best[0], best[1]))
    return sel


def test_winnow_matches_python_spec_and_guarantee(spark):
    import random
    rng = random.Random(7)
    shared = [f"s{i}" for i in range(12)]   # 12 shared tokens
    rows = []
    for i in range(12):
        toks = [f"d{i}_{j}" for j in range(rng.randint(0, 9))]
        if i % 3 == 0:
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared + toks[at:]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in D.winnow_fingerprints(docs, k=5, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.gram_hash))
    for i, text in rows:
        assert got.get(i, set()) == _py_winnow(text.split(), 5, 4), i
    # winnowing guarantee: the 12-token shared run (>= w+k-1 = 8)
    # yields at least one COMMON fingerprint HASH across every pair
    # of docs containing it
    sharers = [i for i, t in rows if "s0" in t.split()]
    hsets = [{h for _, h in got[i]} for i in sharers]
    base = set.intersection(*hsets)
    assert len(sharers) >= 2 and base, sharers


def test_winnow_short_docs_and_twin_parity(spark, docs):
    # < k tokens → nothing; k..k+w-2 grams → clipped single window
    tiny = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e"), (3, "")],
        "doc_id long, text string")
    got = {(r.doc_id, r.pos, r.gram_hash)
           for r in D.winnow_fingerprints(tiny, k=5, w=4).collect()}
    assert {d for d, _, _ in got} == {2}
    assert len(got) == 1  # one gram, one window, one pick
    full = sorted(tuple(r) for r in
                  D.winnow_fingerprints(docs, k=5, w=4).collect())
    want = sorted(tuple(int(v) for v in r) for r in duck(
        D.winnow_fingerprints_sql(5, 4)))
    assert full == want
    import pytest as _pt
    with _pt.raises(ValueError):
        D.winnow_fingerprints(tiny, k=0)


def test_exact_quantiles_hand_and_twin(spark, docs):
    from vtcomposite_spark.operators import sketches as SK
    vals = [5.0, 1.0, 9.0, 3.0, 7.0, 3.0]   # sorted: 1 3 3 5 7 9
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.q_milli: (r.rank, r.value) for r in
           SK.exact_quantiles(df, "x", [0.5, 0.9, 1.0],
                              buckets=4).collect()}
    assert got == {500: (3, 3.0), 900: (6, 9.0), 1000: (6, 9.0)}
    # constant column: every quantile is the constant
    const = spark.createDataFrame([(2.0,)] * 5, "x double")
    gc = {r.q_milli: r.value for r in
          SK.exact_quantiles(const, "x", [0.25, 1.0]).collect()}
    assert gc == {250: 2.0, 1000: 2.0}
    with pytest.raises(ValueError):
        SK.exact_quantiles(df, "x", [0.0])
    # corpus twin parity: token-count quantiles over documents
    from vtcomposite_spark.functions.text import token_count_col
    tc = docs.select(token_count_col(F.col("text")).alias("ntok"))
    full = sorted(tuple(r) for r in
                  SK.exact_quantiles(tc, "ntok",
                                     [0.5, 0.9, 0.99]).collect())
    want = sorted(tuple(float(x) if i == 2 else int(x)
                        for i, x in enumerate(r)) for r in duck(
        SK.exact_quantiles_sql(
            f"SELECT {TX.TOKEN_COUNT_SQL.format(c='text')} AS ntok "
            "FROM documents", "ntok", [0.5, 0.9, 0.99])))
    assert full == want


def test_ngram_counts_hand_and_twin(spark, docs):
    from vtcomposite_spark.operators import chunking as CH
    tiny = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b"), (3, "x")],
        "doc_id long, text string")
    got = {r.gram: r.cnt for r in
           CH.ngram_counts(tiny, n=2).collect()}
    # grams never span docs; doc 3 (< n tokens) contributes nothing
    assert got == {"a b": 3, "b a": 2}
    assert {r.gram: r.cnt for r in
            CH.ngram_counts(tiny, n=2, min_count=3).collect()} == \
        {"a b": 3}
    full = sorted(tuple(r) for r in
                  CH.ngram_counts(docs, n=3, min_count=2).collect())
    want = sorted((g, int(c)) for g, c in duck(
        CH.ngram_counts_sql(3, 2)))
    assert full == want
    with pytest.raises(ValueError):
        CH.ngram_counts(tiny, n=0)
