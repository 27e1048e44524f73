"""Text-analysis column functions for the documents/pages tables.

Every function here is a pure Column expression (JVM-side, codegen'd) chosen
so the exact same computation is writable in ANSI SQL — each has a
``*_SQL`` template used by the DuckDB oracles in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# --- token counting (whitespace tokens; empty segments dropped) ---

def tokens_col(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


TOKEN_COUNT_SQL = "len(list_filter(string_split({c}, ' '), t -> t != ''))"


# --- BPE-ish subword counting: GPT-2-style pretokenizer regex ---
# contractions | optional-space word | optional-space 1-3 digit chunk |
# optional-space punctuation run. Kept to syntax with identical semantics
# in Java regex (Spark) and RE2 (DuckDB) so the oracle replays it exactly.

BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]{1,3}| ?[^a-zA-Z0-9\s]+"


def bpe_tokens_col(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def bpe_token_count_col(text: Column) -> Column:
    """Subword-ish token count: the GPT-2 pretokenizer split (digits
    chunked to ≤3, punctuation runs, contraction suffixes) WITHOUT a merge
    table — a deterministic, engine-portable upper bound on BPE tokens."""
    return F.size(bpe_tokens_col(text))


BPE_TOKEN_COUNT_SQL = (
    "len(regexp_extract_all({c}, "
    "'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]{{1,3}}| ?[^a-zA-Z0-9\\s]+'))"
)


# --- language-ID: stopword heuristic over padded text ---

_LANG_MARKERS = [
    ("en", [" the ", " and ", " of "]),
    ("de", [" der ", " und ", " die "]),
    ("fr", [" le ", " la ", " et "]),
    ("es", [" el ", " los ", " de la "]),
]


def lang_guess_col(text: Column) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    expr = F.lit("unknown")
    for lang, markers in reversed(_LANG_MARKERS):
        cond = None
        for m in markers:
            c = padded.contains(m)
            cond = c if cond is None else (cond | c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def lang_guess_sql(c: str) -> str:
    padded = f"(' ' || lower({c}) || ' ')"
    clauses = []
    for lang, markers in _LANG_MARKERS:
        cond = " OR ".join(f"contains({padded}, '{m}')" for m in markers)
        clauses.append(f"WHEN ({cond}) THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'unknown' END"


# --- quality score: length/word-shape/stopword composite, 3 decimals ---

def quality_score_col(text: Column) -> Column:
    toks = token_count_col(text)
    chars = F.length(text)
    spaces = chars - F.length(F.replace(text, F.lit(" "), F.lit("")))
    awl = (chars - spaces) / F.greatest(toks, F.lit(1))
    length_part = F.least(toks / F.lit(100.0), F.lit(1.0)) * 0.5
    shape_part = F.when((awl >= 3) & (awl <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
    stop_part = F.when(lang_guess_col(text) != "unknown", F.lit(0.2)).otherwise(F.lit(0.0))
    return F.round(length_part + shape_part + stop_part, 3)


def quality_score_sql(c: str) -> str:
    toks = TOKEN_COUNT_SQL.format(c=c)
    awl = f"((length({c}) - (length({c}) - length(replace({c}, ' ', '')))) / greatest({toks}, 1))"
    return (
        f"round(least({toks} / 100.0, 1.0) * 0.5"
        f" + (CASE WHEN {awl} >= 3 AND {awl} <= 10 THEN 0.3 ELSE 0.0 END)"
        f" + (CASE WHEN ({lang_guess_sql(c)}) != 'unknown' THEN 0.2 ELSE 0.0 END), 3)"
    )


# --- Gopher-style document quality filters (Rae et al. 2021, §A1.1) ---
# Each rule is one JVM column expression with an exact DuckDB twin; the
# engine and the oracle compute identical doubles (rounded to 4 places
# before comparison). Thresholds are parameters; the defaults follow the
# published rule set, scaled to short web snippets where noted.

def _lines_col(text: Column) -> Column:
    return F.split(text, "\n")


def gopher_filter_cols(text: Column, min_words: int = 25,
                       max_words: int = 100_000) -> dict[str, Column]:
    """{metric name → Column} for the Gopher repetition/quality rules:
    word count bounds, mean word length in [3, 10], fraction of words
    with an alphabetic character ≥ 0.8, symbol-to-word ratio (# and
    ellipsis) ≤ 0.1, bullet-start line fraction ≤ 0.9, ellipsis-end line
    fraction ≤ 0.3, duplicate-line fraction ≤ 0.3, ≥ 2 distinct stopword
    markers — plus the conjunction ``gopher_pass``."""
    words = tokens_col(text)
    n_words = F.size(words)
    safe_n = F.greatest(n_words, F.lit(1)).cast("double")
    chars = F.length(text)
    spaces = chars - F.length(F.replace(text, F.lit(" "), F.lit("")))
    mean_wl = F.round((chars - spaces) / safe_n, 4)
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))) / safe_n, 4)
    n_hash = chars - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell = F.size(F.split(text, r"\.\.\.")) - 1
    symbol_ratio = F.round((n_hash + n_ell) / safe_n, 4)
    lines = _lines_col(text)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]")))
        / n_lines, 4)
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines, 4)
    dup_line_frac = F.round(
        (F.size(lines) - F.size(F.array_distinct(lines))) / n_lines, 4)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    all_markers = sorted({m for _, ms in _LANG_MARKERS for m in ms})
    stop_hits = sum((padded.contains(m).cast("int") for m in all_markers),
                    F.lit(0))
    cols = {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_word_frac": alpha_frac,
        "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "dup_line_frac": dup_line_frac,
        "stopword_hits": stop_hits,
    }
    cols["gopher_pass"] = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_wl >= 3) & (mean_wl <= 10)
        & (alpha_frac >= 0.8) & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9) & (ellipsis_frac <= 0.3)
        & (dup_line_frac <= 0.3) & (stop_hits >= 2))
    return cols


def gopher_filter_sqls(c: str, min_words: int = 25,
                       max_words: int = 100_000) -> dict[str, str]:
    """DuckDB twins of gopher_filter_cols, same names, same rounding."""
    words = f"list_filter(string_split({c}, ' '), t -> t != '')"
    n_words = f"len({words})"
    safe_n = f"greatest({n_words}, 1)::DOUBLE"
    mean_wl = (f"round((length({c}) - (length({c}) - "
               f"length(replace({c}, ' ', '')))) / {safe_n}, 4)")
    alpha = (f"round(len(list_filter({words}, "
             f"w -> regexp_matches(w, '[a-zA-Z]'))) / {safe_n}, 4)")
    n_hash = f"(length({c}) - length(replace({c}, '#', '')))"
    n_ell = f"(len(string_split_regex({c}, '\\.\\.\\.')) - 1)"
    symbol = f"round(({n_hash} + {n_ell}) / {safe_n}, 4)"
    lines = f"string_split({c}, chr(10))"
    n_lines = f"greatest(len({lines}), 1)::DOUBLE"
    bullet = (f"round(len(list_filter({lines}, "
              f"l -> regexp_matches(trim(l), '^[-*•]'))) / {n_lines}, 4)")
    ell_line = (f"round(len(list_filter({lines}, "
                f"l -> l LIKE '%...')) / {n_lines}, 4)")
    dup_line = (f"round((len({lines}) - len(list_distinct({lines})))"
                f" / {n_lines}, 4)")
    padded = f"(' ' || lower({c}) || ' ')"
    all_markers = sorted({m for _, ms in _LANG_MARKERS for m in ms})
    stop = "(" + " + ".join(
        f"(CASE WHEN contains({padded}, '{m}') THEN 1 ELSE 0 END)"
        for m in all_markers) + ")"
    sqls = {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_word_frac": alpha,
        "symbol_ratio": symbol,
        "bullet_line_frac": bullet,
        "ellipsis_line_frac": ell_line,
        "dup_line_frac": dup_line,
        "stopword_hits": stop,
    }
    sqls["gopher_pass"] = (
        f"({n_words} >= {min_words} AND {n_words} <= {max_words}"
        f" AND {mean_wl} >= 3 AND {mean_wl} <= 10"
        f" AND {alpha} >= 0.8 AND {symbol} <= 0.1"
        f" AND {bullet} <= 0.9 AND {ell_line} <= 0.3"
        f" AND {dup_line} <= 0.3 AND {stop} >= 2)")
    return sqls


def c4_filter_cols(text: Column, min_line_words: int = 3,
                   min_sentences: int = 3) -> dict[str, Column]:
    """C4's line-level cleaning pass (Raffel et al. 2020, §2.2) — the
    complement to the Gopher DOC-level bundle: lines are kept only when
    they end in terminal punctuation (``. ! ? "``), carry at least
    ``min_line_words`` words, and do not mention "javascript"
    (case-insensitive); the page then drops entirely when the cleaned
    text has fewer than ``min_sentences`` terminal marks (the sentence
    proxy — consistent in both engines), mentions "lorem ipsum", or
    contains a curly brace (code leakage). Returns {name → Column}:
    ``text_clean`` (kept lines re-joined in order), ``n_lines_kept``,
    ``n_lines_dropped``, ``c4_pass``.

    Zero shuffle: one split + one single-level array filter + re-join,
    all codegen (a stateless per-line rule needs no explode/regroup,
    and the word-count rule is a regexp quantifier, not a nested
    lambda — the nested-HOF hazard stays out)."""
    wc = r"\S+(\s+\S+){%d,}" % (min_line_words - 1)
    lines = _lines_col(text)
    keep = F.filter(
        lines,
        lambda l: F.trim(l).rlike('[.!?"]$')
        & l.rlike(wc)
        & ~F.lower(l).contains("javascript"))
    clean = F.array_join(keep, "\n")
    marks = F.length(clean) - F.length(F.translate(clean, ".!?", ""))
    low = F.lower(clean)
    c4_pass = ((marks >= min_sentences)
               & ~low.contains("lorem ipsum")
               & ~clean.contains("{")
               & (F.size(keep) > 0))
    return {
        "text_clean": clean,
        "n_lines_kept": F.size(keep).cast("long"),
        "n_lines_dropped": (F.size(lines) - F.size(keep)).cast("long"),
        "c4_pass": c4_pass,
    }


def c4_filter_sqls(c: str, min_line_words: int = 3,
                   min_sentences: int = 3) -> dict[str, str]:
    """DuckDB twins of ``c4_filter_cols``, same names, same rules."""
    wc = r"\S+(\s+\S+){%d,}" % (min_line_words - 1)
    lines = f"string_split({c}, chr(10))"
    keep = (f"list_filter({lines}, l -> "
            "regexp_matches(trim(l), '[.!?\"]$') AND "
            f"regexp_matches(l, '{wc}') AND "
            "NOT contains(lower(l), 'javascript'))")
    # coalesce: DuckDB's array_to_string over an empty list yields NULL
    # where Spark's array_join yields ''
    clean = f"coalesce(array_to_string({keep}, chr(10)), '')"
    marks = f"(length({clean}) - length(translate({clean}, '.!?', '')))"
    c4_pass = (f"({marks} >= {min_sentences} "
               f"AND NOT contains(lower({clean}), 'lorem ipsum') "
               f"AND NOT contains({clean}, '{{') "
               f"AND len({keep}) > 0)")
    return {
        "text_clean": clean,
        "n_lines_kept": f"len({keep})::BIGINT",
        "n_lines_dropped": f"(len({lines}) - len({keep}))::BIGINT",
        "c4_pass": c4_pass,
    }


# --- PII scrub: email/phone redaction (regex kept to the Java∩RE2
# common syntax so Spark and DuckDB replace identically) ---

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"[+(]?[0-9][0-9()\- ]{6,}[0-9]"


def redact_pii_col(text: Column) -> Column:
    """Emails then phones replaced with typed placeholders. Order is part
    of the spec: emails first (their local parts may contain digit runs),
    then phone-shaped digit spans on the already-email-redacted text."""
    no_mail = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(no_mail, PHONE_PATTERN, "<PHONE>")


def pii_counts_cols(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) — emails counted on the raw text, phones on
    the email-redacted text, mirroring redact_pii_col's pass order."""
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0))
    no_mail = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(no_mail, F.lit(PHONE_PATTERN), 0))
    return n_emails, n_phones


def redact_pii_sql(c: str) -> str:
    return (f"regexp_replace(regexp_replace({c}, '{EMAIL_PATTERN}', "
            f"'<EMAIL>', 'g'), '{PHONE_PATTERN}', '<PHONE>', 'g')")


def pii_counts_sqls(c: str) -> tuple[str, str]:
    no_mail = f"regexp_replace({c}, '{EMAIL_PATTERN}', '<EMAIL>', 'g')"
    return (f"len(regexp_extract_all({c}, '{EMAIL_PATTERN}'))",
            f"len(regexp_extract_all({no_mail}, '{PHONE_PATTERN}'))")


# --- URL host extraction (scheme://host[/...]) ---

HOST_PATTERN = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def url_host_col(url: Column) -> Column:
    return F.regexp_extract(url, HOST_PATTERN, 1)


def url_host_sql(c: str) -> str:
    return f"coalesce(regexp_extract({c}, '{HOST_PATTERN}', 1), '')"


# --- document fingerprint: md5 of the normalized head ---

def fingerprint_col(text: Column) -> Column:
    norm = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.md5(F.substring(norm, 1, 64))


def fingerprint_sql(c: str) -> str:
    return f"md5(substr(lower(regexp_replace({c}, '\\s+', ' ', 'g')), 1, 64))"


# --- HTML → text extraction (the north-rule scan→extract step) ---
#
# Deterministic whitelist extraction, NOT a full HTML5 parser: take the
# <body> content (whole document when no body tag), drop comments and
# <script>/<style> blocks, turn structural block tags into exactly one
# newline each, strip every remaining tag, and decode a fixed entity
# whitelist (&amp; last, so double-escapes resolve one level — standard).
# Text-node bytes pass through UNCHANGED — no whitespace collapsing, no
# trim — which is what makes "byte-identical extracted text per url"
# (BASELINE.json input_hint) a checkable invariant: a body that wraps
# the text verbatim extracts to the text verbatim. Callers wanting
# C4-style normalization compose with the quality utilities.
#
# Every pattern is backreference/lookaround-free and uses inline (?is)
# flags, so the Java (Spark) and RE2 (DuckDB) engines replay it
# character-for-character (tests/test_text.py runs the hand matrix on
# both). All five passes are JVM codegen regexp_replace — the only
# Python in the pipeline is the gzip-sniff seam in sources/pages.py.

BODY_PATTERN = r"(?is)<body(\s[^>]*)?>(.*)</body>"
_COMMENT_PAT = r"(?s)<!--.*?-->"
_SCRIPT_PAT = r"(?is)<script(\s[^>]*)?>.*?</script>"
_STYLE_PAT = r"(?is)<style(\s[^>]*)?>.*?</style>"
_BLOCK_TAGS = ("p|div|br|li|ul|ol|table|tr|h[1-6]|blockquote|section"
               "|article|header|footer|pre|hr")
_BLOCK_PAT = rf"(?is)</?({_BLOCK_TAGS})(\s[^>]*)?\s*/?>"
_ANY_TAG_PAT = r"(?s)<[^>]*>"
# fixed decode order; (&amp; → &) LAST so "&amp;lt;" → "&lt;", not "<"
HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def extract_text_col(html_str: Column) -> Column:
    """Extracted text Column from a DECODED html string Column."""
    body = F.when(F.regexp_like(html_str, F.lit(BODY_PATTERN)),
                  F.regexp_extract(html_str, BODY_PATTERN, 2)) \
        .otherwise(html_str)
    x = F.regexp_replace(body, _COMMENT_PAT, "")
    x = F.regexp_replace(x, _SCRIPT_PAT, "")
    x = F.regexp_replace(x, _STYLE_PAT, "")
    x = F.regexp_replace(x, _BLOCK_PAT, "\n")
    x = F.regexp_replace(x, _ANY_TAG_PAT, "")
    for ent, ch in HTML_ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return x


def extract_text_sql(c: str) -> str:
    """DuckDB twin of :func:`extract_text_col` (RE2; 'g' = global)."""
    body = (f"CASE WHEN regexp_matches({c}, '{BODY_PATTERN}') "
            f"THEN regexp_extract({c}, '{BODY_PATTERN}', 2) ELSE {c} END")
    x = f"regexp_replace({body}, '{_COMMENT_PAT}', '', 'g')"
    x = f"regexp_replace({x}, '{_SCRIPT_PAT}', '', 'g')"
    x = f"regexp_replace({x}, '{_STYLE_PAT}', '', 'g')"
    x = f"regexp_replace({x}, '{_BLOCK_PAT}', chr(10), 'g')"
    x = f"regexp_replace({x}, '{_ANY_TAG_PAT}', '', 'g')"
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        x = f"replace({x}, '{ent}', '{lit}')"
    return x


# --- content sniffing: magic-byte MIME classification ---
#
# The "is this actually HTML" curation step (served Content-Type lies;
# CC pipelines filter on sniffed type). Pure JVM: one hex() of the
# payload head + prefix CASE — binary never crosses to Python. The
# whitelist is the fixed set a text pipeline routes on; everything
# else is 'other'. gzip members classify as 'gzip' (sniff AFTER the
# decode seam to classify the inner payload).

_MAGIC_PREFIXES = [          # (hex-of-bytes prefix, label)
    ("1F8B", "gzip"),
    ("255044462D", "pdf"),          # %PDF-
    ("89504E470D0A1A0A", "png"),
    ("FFD8FF", "jpeg"),
    ("474946383", "gif"),           # GIF87a/89a
    ("504B0304", "zip"),
]


def _hex_ci(txt: str) -> str:
    """Case-insensitive hex regex for an ASCII string: each letter is a
    two-code alternation, pair alignment preserved."""
    out = []
    for ch in txt:
        if ch.isalpha():
            out.append(f"({ord(ch.upper()):02X}|{ord(ch.lower()):02X})")
        else:
            out.append(f"{ord(ch):02X}")
    return "".join(out)


_WS_HEX = "(20|09|0A|0D)"
#: '<!doctype html' / '<html' after optional whitespace — matched on the
#: hex of the head, so the sniff is PURE BYTES (no decode, no UTF-8
#: validity question; Java and RE2 see the same ASCII hex string)
HTML_HEX_PAT = (f"^{_WS_HEX}*(3C21{_hex_ci('doctype')}{_WS_HEX}+"
                f"{_hex_ci('html')}|3C{_hex_ci('html')})")
XML_HEX_PAT = f"^{_WS_HEX}*3C3F786D6C"  # '<?xml' (lowercase per spec)


def sniff_mime_col(payload: Column) -> Column:
    """'gzip'|'pdf'|'png'|'jpeg'|'gif'|'zip'|'html'|'xml'|'other' from a
    BINARY payload's first bytes (null payload → null). Everything runs
    on the hex of a 64-byte head — one JVM expression, binary never
    crosses to Python and is never decoded."""
    head_hex = F.upper(F.hex(F.substring(payload, 1, 64)))
    expr = F.when(payload.isNull(), F.lit(None))
    for pfx, label in _MAGIC_PREFIXES:
        expr = expr.when(head_hex.startswith(pfx), F.lit(label))
    return (expr
            .when(head_hex.rlike(HTML_HEX_PAT), F.lit("html"))
            .when(head_hex.rlike(XML_HEX_PAT), F.lit("xml"))
            .otherwise(F.lit("other")))


# --- SURT keys (Sort-friendly URI Reordering Transform) ---
#
# The Common-Crawl/OpenWayback index key: host labels reversed and
# comma-joined, then ')' + the lowercased path+query — so one domain's
# urls (and all its subdomains') become ONE contiguous key range and
# "everything under example.com" is a prefix scan, not a suffix match.
# Deterministic subset: scheme/port/'www.' dropped, fragment dropped,
# whole key lowercased; query-parameter reordering is out of scope
# (documented — full SURT also alphabetizes query args).

def surt_col(url: Column) -> Column:
    host = F.regexp_replace(
        F.regexp_replace(F.lower(url_host_col(url)), r"^www\.", ""),
        r":\d+$", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.regexp_replace(
        F.regexp_replace(url, SCHEME_HOST_PATTERN, ""), r"#.*", ""))
    return F.concat(rev, F.lit(")"),
                    F.when(path == "", F.lit("/")).otherwise(path))


def surt_sql(c: str) -> str:
    host = (f"regexp_replace(regexp_replace(lower({url_host_sql(c)}), "
            "'^www\\.', ''), ':\\d+$', '')")
    rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    path = (f"lower(regexp_replace(regexp_replace({c}, "
            f"'{SCHEME_HOST_PATTERN}', ''), '#.*', ''))")
    return (f"({rev} || ')' || CASE WHEN {path} = '' THEN '/' "
            f"ELSE {path} END)")


# --- outlink extraction: <a href> harvesting + reference resolution ---
#
# The link-graph feed (pagerank/trustrank/cocitation run on its edges).
# Deterministic subset of RFC 3986 resolution, engine-portable like the
# extractor above: absolute http(s) hrefs pass through; scheme-relative
# (//h/p) take the base scheme; root-relative (/p) take scheme://host;
# other relatives resolve against the base DIRECTORY (no ../ folding —
# documented out of scope); fragments drop first; non-http schemes
# (mailto:, javascript:, data:) drop. href must be quoted (' or ");
# a mismatched-quote pair is matched leniently (single char class).

# href must be a real attribute: either right after '<a ' or preceded
# by whitespace/quote — 'data-href'/'ng-href' lookalikes never match
HREF_PATTERN = (
    r"""(?is)<a\s(?:[^>]*[\s"'])?href\s*=\s*["']([^"'>]*)["']""")
_SCHEME_PREFIX = r"^[a-zA-Z][a-zA-Z0-9+.-]*:"


def resolve_href_col(href: Column, base_url: Column) -> Column:
    """Resolved absolute url for one href (null = dropped). Plain
    columns — the operator path explodes hrefs first and applies this
    in codegen (nested-HOF outer-expression re-evaluation is the repo's
    documented hazard; the HOF form is a parity reference in
    tests/reference_plans.py)."""
    sh = F.regexp_extract(base_url, SCHEME_HOST_PATTERN, 0)
    scheme = F.regexp_extract(base_url, _SCHEME_PREFIX, 0)
    rest = F.regexp_replace(
        F.substring(base_url, F.length(sh) + F.lit(1), F.length(base_url)),
        r"[?#].*", "")
    stripped = F.regexp_replace(rest, r"[^/]*$", "")
    dirp = F.concat(sh, F.when(stripped == "", F.lit("/"))
                    .otherwise(stripped))
    h = F.regexp_replace(href, "#.*", "")
    return (F.when(h == "", F.lit(None))
            .when(h.rlike("^https?://"), h)
            .when(h.rlike(_SCHEME_PREFIX), F.lit(None))
            .when(h.startswith("//"), F.concat(scheme, h))
            .when(h.startswith("/"), F.concat(sh, h))
            .otherwise(F.concat(dirp, h)))


def _resolve_href_sql(href_expr: str, base_c: str) -> str:
    """The RFC 3986-subset resolution CASE over a DuckDB href
    expression — shared by the links and anchors twins."""
    sh = f"coalesce(regexp_extract({base_c}, '{SCHEME_HOST_PATTERN}'), '')"
    scheme = f"coalesce(regexp_extract({base_c}, '{_SCHEME_PREFIX}'), '')"
    rest = (f"regexp_replace(substr({base_c}, length({sh}) + 1), "
            "'[?#].*', '')")
    stripped = f"regexp_replace({rest}, '[^/]*$', '')"
    dirp = (f"({sh} || CASE WHEN {stripped} = '' THEN '/' "
            f"ELSE {stripped} END)")
    h = f"regexp_replace({href_expr}, '#.*', '')"
    return (
        f"CASE WHEN {h} = '' THEN NULL "
        f"WHEN regexp_matches({h}, '^https?://') THEN {h} "
        f"WHEN regexp_matches({h}, '{_SCHEME_PREFIX}') THEN NULL "
        f"WHEN starts_with({h}, '//') THEN {scheme} || {h} "
        f"WHEN starts_with({h}, '/') THEN {sh} || {h} "
        f"ELSE {dirp} || {h} END")


def extract_links_sql(html_c: str, base_c: str) -> str:
    """list of resolved outlink urls in DuckDB SQL (dropped hrefs
    filtered out; duplicates preserved — dedupe is the caller's call):
    the oracle form of ``sources.pages.extract_links``."""
    pat = HREF_PATTERN.replace("'", "''")
    resolve = _resolve_href_sql("x", base_c)
    return (f"list_filter(list_transform("
            f"regexp_extract_all({html_c}, '{pat}', 1), "
            f"x -> {resolve}), x -> x IS NOT NULL)")


# Full anchor ELEMENTS (open tag through </a>) — non-greedy across the
# body; nested markup inside the anchor is kept and tag-stripped from
# the text. Java and RE2 agree on (?is) flags and non-greedy .*?.
ANCHOR_ELEM_PATTERN = r"(?is)<a\s[^>]*>.*?</a>"


def extract_anchors_sql(html_c: str, base_c: str) -> str:
    """Outlinks WITH their anchor text in DuckDB SQL — the oracle form of
    ``sources.pages.extract_anchors``: a list of struct(dst_url, anchor);
    unnest + field access in the caller. Anchor text = the element's
    tag-stripped body, whitespace collapsed and trimmed; unresolvable
    hrefs (fragment-only, non-http schemes) drop with their text."""
    epat = ANCHOR_ELEM_PATTERN.replace("'", "''")
    hpat = HREF_PATTERN.replace("'", "''")
    txt = ("trim(regexp_replace(regexp_replace(x, '(?s)<[^>]*>', '', 'g'), "
           r"'\s+', ' ', 'g'))")
    resolve = _resolve_href_sql(f"regexp_extract(x, '{hpat}', 1)", base_c)
    return (f"list_filter(list_transform("
            f"regexp_extract_all({html_c}, '{epat}', 0), "
            f"x -> struct_pack(dst_url := {resolve}, anchor := {txt})), "
            "s -> s.dst_url IS NOT NULL)")


# --- URL canonicalization (crawl-dedupe normalization) ---
#
# The CommonCrawl-style normal form: lowercase scheme://host, http →
# https, strip leading "www.", strip default :80/:443 ports, drop the
# fragment, drop tracking query params (utm_*, fbclid, gclid), drop an
# emptied "?", strip one trailing "/". Path/query case is PRESERVED
# (paths are case-sensitive). Every rule is a plain regexp with no
# backreferences or lookaround, so the Java (Spark) and RE2 (DuckDB)
# engines agree character-for-character.

SCHEME_HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
TRACK_MID_PATTERN = r"(utm_[a-z0-9]+|fbclid|gclid)=[^&#]*&"
TRACK_END_PATTERN = r"[?&](utm_[a-z0-9]+|fbclid|gclid)=[^&#]*$"


def canonicalize_url_col(url: Column) -> Column:
    prefix = F.regexp_extract(url, SCHEME_HOST_PATTERN, 0)
    rest = F.substring(url, F.length(prefix) + F.lit(1), F.length(url))
    p = F.lower(prefix)
    p = F.regexp_replace(p, r"^http://", "https://")
    p = F.regexp_replace(p, r"^https://www\.", "https://")
    p = F.regexp_replace(p, r":443$|:80$", "")
    r = F.regexp_replace(rest, r"#.*", "")
    r = F.regexp_replace(r, TRACK_MID_PATTERN, "")
    r = F.regexp_replace(r, TRACK_END_PATTERN, "")
    r = F.regexp_replace(r, r"\?$", "")
    out = F.concat(p, r)
    return F.regexp_replace(out, r"/$", "")


def canonicalize_url_sql(c: str) -> str:
    prefix = f"coalesce(regexp_extract({c}, '{SCHEME_HOST_PATTERN}'), '')"
    rest = f"substr({c}, length({prefix}) + 1)"
    p = f"lower({prefix})"
    p = f"regexp_replace({p}, '^http://', 'https://')"
    p = f"regexp_replace({p}, '^https://www\\.', 'https://')"
    p = f"regexp_replace({p}, ':443$|:80$', '')"
    r = f"regexp_replace({rest}, '#.*', '')"
    r = f"regexp_replace({r}, '{TRACK_MID_PATTERN}', '', 'g')"
    r = f"regexp_replace({r}, '{TRACK_END_PATTERN}', '')"
    r = f"regexp_replace({r}, '\\?$', '')"
    return f"regexp_replace({p} || {r}, '/$', '')"
