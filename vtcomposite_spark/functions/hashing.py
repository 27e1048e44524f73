"""Portable hashing primitives for dedupe/similarity — md5-based so every
hash is bit-identical between Spark and any ANSI SQL engine (the DuckDB
oracle replays them exactly). No engine-specific hash functions
(xxhash64/murmur differ across engines); md5 is the portability anchor.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import tokens_col

HEX = "0123456789abcdef"


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles: contiguous n-token windows joined by spaces.

    Docs with fewer than n tokens produce an empty shingle array. The
    ``F.when`` guard is load-bearing: Spark's sequence(1, 0) yields the
    DESCENDING array [1, 0], so slice(toks, 0, n) would throw
    INVALID_PARAMETER_VALUE.START on short docs (DuckDB's range(1, 1) is
    empty, so the SQL twin needs no guard).
    """
    toks = tokens_col(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(c: str, n: int = 3) -> str:
    toks = f"list_filter(string_split({c}, ' '), t -> t != '')"
    return (f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
            f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))")


_MERSENNE31 = 2147483647


def _perm_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (odd multiplier, offset)."""
    return [((j * 2654435761 % _MERSENNE31) | 1, (j * 40503 + 17) % _MERSENNE31)
            for j in range(1, k + 1)]


def minhash_sig_sql(c: str, k: int = 8, n: int = 3) -> str:
    """k-element MinHash signature, DuckDB twin of
    ``operators.dedupe.minhash_signatures``: ONE md5 per shingle (its
    first 8 hex chars → 32-bit int), then k affine permutations
    (a_j·h + b_j) mod 2^31−1 with min-reduce."""
    sh = shingles_sql(c, n)
    hex8 = hex_to_int_sql("md5(s)", 8)
    hs = f"list_transform({sh}, s -> {hex8})"
    sig = ", ".join(
        f"list_min(list_transform({hs}, h -> (h * {a} + {b}) % {_MERSENNE31}))"
        for a, b in _perm_consts(k))
    return f"[{sig}]"


def band_key_col(sig: Column, band: int, rows_per_band: int) -> Column:
    """LSH band key: concat of the band's signature rows (1-indexed band)."""
    start = (band - 1) * rows_per_band + 1
    return F.concat_ws("|", F.lit(str(band)),
                       *[F.element_at(sig, start + i).cast("string")
                         for i in range(rows_per_band)])


def band_key_sql(sig: str, band: int, rows_per_band: int) -> str:
    start = (band - 1) * rows_per_band + 1
    parts = " || '|' || ".join(f"(({sig})[{start + i}])::VARCHAR"
                               for i in range(rows_per_band))
    return f"('{band}' || '|' || {parts})"


def _hex4_to_int_col(h: Column) -> Column:
    """First 4 hex chars of a digest → int in [0, 65536). Implemented with
    strpos arithmetic (no conv()) so the SQL replay is engine-agnostic."""
    v = F.lit(0)
    for i in range(1, 5):
        d = F.instr(F.lit(HEX), F.substring(h, i, 1)) - 1
        v = v * 16 + d
    return v


def hex_to_int_sql(h: str, nchars: int) -> str:
    parts = [f"(strpos('{HEX}', substr({h}, {i}, 1)) - 1)"
             for i in range(1, nchars + 1)]
    expr = parts[0]
    for p in parts[1:]:
        expr = f"(({expr}) * 16 + {p})"
    return expr


def hex4_to_int_sql(h: str) -> str:
    return hex_to_int_sql(h, 4)


def _simhash_nchars(bits: int) -> int:
    """Hex chars of the md5 prefix a ``bits``-wide SimHash consumes: 4
    (the historic 16-bit minimum) up to 15 (60 bits — the widest prefix
    that stays a positive BIGINT in both engines)."""
    if not 1 <= bits <= 60:
        raise ValueError("simhash bits must be in [1, 60]")
    return max(4, -(-bits // 4))


def _hash_prefix_col(h: Column, nchars: int) -> Column:
    """First ``nchars`` hex chars of a digest → integer. The 4-char form
    keeps the historic strpos arithmetic (byte-identical plans for the
    gated 16-bit rows); wider prefixes use conv(), which the SQL twin
    replays with the same strpos chain (``hex_to_int_sql``) — both are
    plain base-16 parses of the same substring."""
    if nchars == 4:
        return _hex4_to_int_col(h)
    return F.conv(F.substring(h, 1, nchars), 16, 10).cast("long")


def simhash_col(text: Column, bits: int = 16, n: int = 3) -> Column:
    """SimHash over word n-grams: per bit b, sign of the sum over shingles of
    ±1 according to bit b of the shingle's md5 prefix (16-60 bits wide)."""
    sh = shingles_col(text, n)
    nchars = _simhash_nchars(bits)
    hv = F.transform(sh, lambda s: _hash_prefix_col(F.md5(s), nchars))
    out = F.lit(0).cast("long")
    for b in range(bits):
        bit_sum = F.aggregate(
            hv, F.lit(0),
            lambda acc, v: acc + F.when(
                F.call_function("shiftright", v, F.lit(b)) % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        out = out + F.when(bit_sum > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_sql(c: str, bits: int = 16, n: int = 3) -> str:
    sh = shingles_sql(c, n)
    nchars = _simhash_nchars(bits)
    hv = f"list_transform({sh}, s -> {hex_to_int_sql('md5(s)', nchars)})"
    terms = []
    for b in range(bits):
        bit_sum = (f"list_sum(list_transform({hv}, "
                   f"v -> CASE WHEN (v // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN coalesce({bit_sum}, 0) > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


# --- vector math (embeddings) ---

def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine_col(a: Column, b: Column) -> Column:
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot_col(a, b) / (na * nb)


def cosine_sql(a: str, b: str) -> str:
    dot = f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"
    na = f"sqrt(list_sum(list_transform({a}, v -> v * v)))"
    nb = f"sqrt(list_sum(list_transform({b}, v -> v * v)))"
    return f"({dot} / ({na} * {nb}))"


# --- random-hyperplane LSH (embedding near-dup bucketing) ---

def hyperplane_signs(table: int, bit: int, dim: int) -> list[int]:
    """Deterministic Rademacher (+1/-1) hyperplane for (table, bit): one
    sign per embedding dimension, derived from md5 so BOTH engines embed
    the SAME literals (no in-engine float hashing to keep in sync).
    SimHash-style random projections — Charikar, STOC'02."""
    import hashlib
    out = []
    for i in range(dim):
        h = hashlib.md5(f"hp:{table}:{bit}:{i}".encode()).hexdigest()
        out.append(1 if int(h[:8], 16) % 2 == 1 else -1)
    return out


def hyperplane_bit_sql(c: str, table: int, bit: int, dim: int) -> str:
    """'1'/'0' sign bit of the hyperplane projection in DuckDB SQL. The
    projection is a sum of SIGNED INTEGER milli-units (round(x*1000) as
    BIGINT), so it is order-independent and bit-identical across engines
    — a float dot product could flip sign under a different summation
    order (the round-2 float-avg drift lesson)."""
    signs = hyperplane_signs(table, bit, dim)
    terms = [
        f"({'' if s > 0 else '-'}CAST(round(CAST({c}[{i + 1}] AS DOUBLE)"
        f" * 1000) AS BIGINT))"
        for i, s in enumerate(signs)]
    return f"(CASE WHEN ({' + '.join(terms)}) >= 0 THEN '1' ELSE '0' END)"


def hyperplane_band_key_sql(c: str, table: int, bits: int, dim: int) -> str:
    if bits == 0:  # degenerate single-bucket table, same as the batch
        return f"'{table}:'"
    parts = " || ".join(hyperplane_bit_sql(c, table, b, dim)
                        for b in range(bits))
    return f"('{table}:' || {parts})"


def hyperplane_band_keys_batch(mat, tables: int, bits: int,
                               dim: int | None = None) -> list[list[str]]:
    """``hyperplane_band_key_sql``'s keys for a 2-D float batch: ONE
    int64 matmul against the stacked sign matrix instead of
    tables×bits×dim expression nodes (a Column-expression form exceeds
    the JVM codegen method limit past ~1k terms and falls back to
    interpreted; tests/reference_plans.py keeps it as the parity
    reference). Rounding matches Spark/DuckDB round(): HALF_UP away from
    zero, NOT numpy's banker's rounding."""
    import numpy as np
    # a NULL embedding behaves like an empty one: the SQL twin's
    # NULL_vec[i] is NULL ⇒ projection NULL ⇒ every bit '0'
    # — the NaN-pad path below produces exactly that, so substituting []
    # keeps the declared engine/oracle bit-identity instead of crashing
    rows = [r if r is not None else [] for r in mat]
    n = len(rows)
    if n == 0:  # empty Arrow batch
        return []
    if bits == 0:  # degenerate single-bucket-per-table (exact all-pairs)
        keys = [f"{t}:" for t in range(tables)]
        return [list(keys) for _ in range(n)]
    if dim is None:
        dim = max(len(r) for r in rows)
    # ragged / short vectors: NaN-pad so the projection collapses to NaN
    # and every bit reads '0' — exactly the SQL twin's behavior (an
    # index past the end is NULL ⇒ whole sum NULL ⇒ ELSE '0')
    lens = np.array([len(r) for r in rows])
    if (lens == lens[0]).all() and int(lens[0]) >= dim:
        m = np.asarray(np.stack(rows), dtype=np.float64)[:, :dim]
    else:
        m = np.full((n, dim), np.nan, dtype=np.float64)
        for i, r in enumerate(rows):
            k = min(len(r), dim)
            m[i, :k] = np.asarray(r[:k], dtype=np.float64)
    x = m * 1000.0
    # float64 throughout: milli-unit values and their 64-dim sums are
    # integers well below 2^53, so the matmul is EXACT, and NaN propagates
    # (int64 would make NaN undefined instead of '0'-bits)
    vq = np.sign(x) * np.floor(np.abs(x) + 0.5)
    S = np.array([hyperplane_signs(t, b, dim)
                  for t in range(tables) for b in range(bits)],
                 dtype=np.float64)        # (tables*bits, dim)
    proj = vq @ S.T
    bit_chars = np.where(proj >= 0, b"1"[0], b"0"[0]).astype(np.uint8)
    out: list[list[str]] = []
    for r in range(n):
        row = bit_chars[r].tobytes()
        out.append([f"{t}:" + row[t * bits:(t + 1) * bits].decode()
                    for t in range(tables)])
    return out
