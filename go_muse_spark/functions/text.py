"""Dual-dialect (Spark SQL / DuckDB) expression builders for text +
vector training-data ops: tokenization, polynomial hashing, MinHash,
SimHash, shingles, fingerprints, LSH hyperplanes.

Everything is *pure integer/float arithmetic over the same IEEE types*,
expressed in both dialects from one template — so the DuckDB oracle can
verify the Spark plan value-for-value (no engine-specific hash functions
like xxhash64 anywhere). On the Spark side these are JVM expressions
(whole-stage codegen), not Python UDFs.

Conventions:
  P  = 1e9+7 modulus for all polynomial hashes
  token hash  h(t)   = fold over chars: acc*31 + ascii(c) (mod P)
  minhash_k          = min over distinct token hashes of (a_k*h+b_k) mod P
  simhash (16-bit)   = sign-sum over distinct token hashes per bit
  hyperplane w(p,d)  = LCG((p*64+d)) scaled to [-1,1) — deterministic,
                       identical in both engines
"""

from __future__ import annotations

P = 1_000_000_007
LCG_A, LCG_C, LCG_M = 1103515245, 12345, 2147483648


def _d(dialect: str) -> dict[str, str]:
    if dialect == "spark":
        return dict(
            transform="transform",
            fmin="array_min",
            size="size",
            distinct="array_distinct",
            charsplit="split({x}, '')",
            wordsplit="split({x}, ' ')",
        )
    if dialect == "duck":
        return dict(
            transform="list_transform",
            fmin="list_min",
            size="len",
            distinct="list_distinct",
            charsplit="string_split_regex({x}, '')",
            wordsplit="string_split({x}, ' ')",
        )
    raise ValueError(dialect)


def fold(dialect: str, arr: str, expr: str) -> str:
    """Left fold `acc <op> x` over an int array; acc starts at BIGINT 0.

    expr uses `acc` and `x`, e.g. "(acc * 31 + x) % 1000000007".
    """
    if dialect == "spark":
        return f"aggregate({arr}, 0L, (acc, x) -> {expr})"
    return f"list_reduce(list_prepend(0::BIGINT, {arr}), (acc, x) -> {expr})"


def char_hash(dialect: str, s: str) -> str:
    """Polynomial char hash of a string expression (mod P)."""
    t = _d(dialect)
    chars = t["charsplit"].format(x=s)
    codes = f"{t['transform']}({chars}, c -> ascii(c))"
    return fold(dialect, codes, f"(acc * 31 + x) % {P}")


def tokens(dialect: str, text_col: str = "text") -> str:
    return _d(dialect)["wordsplit"].format(x=text_col)


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic odd multipliers + offsets for k hash families."""
    return [((2 * i + 3) % P, (104729 * (i + 1)) % P) for i in range(k)]


def shingle_hashes(
    dialect: str, n: int = 3, text_col: str = "text", toks_src: str | None = None
) -> str:
    """Polynomial hashes of distinct word n-gram shingles.

    toks_src: see shingles() — pass a staged token-array column on the
    Spark hot path to keep shingling linear in document length."""
    t = _d(dialect)
    sh = f"{t['distinct']}({shingles(dialect, n, text_col, toks_src)})"
    return f"{t['transform']}({sh}, t -> {char_hash(dialect, 't')})"


def minhash_array(
    dialect: str, k: int = 16, text_col: str = "text", src: str | None = None
) -> str:
    """Array of k minhash values over distinct shingle hashes (default
    3-gram shingles — unigram sets are useless on small vocabularies)."""
    t = _d(dialect)
    th = src or shingle_hashes(dialect, 3, text_col)
    parts = [
        f"{t['fmin']}({t['transform']}({th}, h -> ({a} * h + {b}) % {P}))"
        for a, b in minhash_coeffs(k)
    ]
    ctor = "array" if dialect == "spark" else "list_value"
    return f"{ctor}({', '.join(parts)})"


def band_hash(dialect: str, sig: str, band: int, rows: int = 4) -> str:
    """Polynomial combine of one LSH band (`rows` signature slots)."""
    base = 1 if dialect == "duck" else 0  # duck lists are 1-based
    expr = "0"
    for r in range(rows):
        idx = band * rows + r + base
        expr = f"(({expr}) * 1315423911 + {sig}[{idx}]) % {P}"
    return expr


def simhash(
    dialect: str, bits: int = 16, text_col: str = "text", src: str | None = None
) -> str:
    """Sign-sum simhash over distinct 3-gram shingle hashes (bits<=30).

    Pass src= a column holding the precomputed hash array — the builders
    repeat src textually per bit, so inline recomputation is quadratic.
    """
    th = src or shingle_hashes(dialect, 3, text_col)
    terms = []
    for b in range(bits):
        pow2 = 1 << b
        # (h div 2^b) % 2 via exact double division (h < 2^30)
        bit = f"(cast(floor(x / {pow2}.0) as bigint) % 2)"
        s = fold(dialect, th, f"acc + (2 * {bit} - 1)")
        terms.append(f"(CASE WHEN ({s}) > 0 THEN {pow2} ELSE 0 END)")
    return " + ".join(terms)


def shingles(
    dialect: str, n: int = 3, text_col: str = "text", toks_src: str | None = None
) -> str:
    """Word n-gram shingle array ('' guard when fewer than n tokens).

    toks_src: name of a column already holding the token array. Without
    it the word split is expanded TEXTUALLY into every element access of
    the shingle lambda, which Catalyst does not de-duplicate — O(words)
    re-splits per shingle = O(words^2) per document (measured: a
    150-word corpus shingled ~10x slower than linear). Spark callers on
    a hot path should stage `tokens()` into a column first and pass its
    name; the DuckDB dialect strings feed tiny oracle fixtures where the
    quadratic term is irrelevant."""
    t = _d(dialect)
    toks = toks_src or tokens(dialect, text_col)
    if dialect == "spark":
        body = (
            f"transform(sequence(0, size({toks}) - {n}), "
            + "i -> concat_ws(' ', "
            + ", ".join(f"{toks}[i + {j}]" for j in range(n))
            + "))"
        )
        return f"CASE WHEN size({toks}) < {n} THEN array() ELSE {body} END"
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    body = f"list_transform(generate_series(1, len({toks}) - {n - 1}), i -> {parts})"
    return f"CASE WHEN len({toks}) < {n} THEN [] ELSE {body} END"


def jaccard(dialect: str, a: str, b: str) -> str:
    """Jaccard of two (distinct-element) array expressions, double."""
    t = _d(dialect)
    if dialect == "spark":
        inter = f"size(array_intersect({a}, {b}))"
        union = f"size(array_union({a}, {b}))"
    else:
        inter = f"len(list_intersect({a}, {b}))"
        union = f"len(list_distinct(list_concat({a}, {b})))"
    # J(empty, empty) := 0 (greatest(,1) guard keeps ANSI mode happy)
    return f"(cast({inter} as double) / greatest({union}, 1))"


def lcg_weight(dialect: str, plane: str, dim: str) -> str:
    """Deterministic hyperplane weight in [-1, 1): exact in both engines."""
    seed = f"(cast({plane} as bigint) * 64 + ({dim}))"
    h = f"((cast({LCG_A} as bigint) * {seed} + {LCG_C}) % {LCG_M})"
    return f"(cast({h} as double) / {LCG_M} * 2.0 - 1.0)"


# Stride for lcg_sign's (plane, index) mixing: a prime far above any real
# plane count, so distinct planes never alias on indices < LCG_STRIDE.
LCG_STRIDE = 1000003


def lcg_sign(dialect: str, plane: str, idx: str) -> str:
    """Deterministic ±1 hash sign of (plane, idx) — INTEGER-exact, so a
    signature built from it is bit-identical in Spark, DuckDB, and numpy.

    The seed is reduced mod LCG_M BEFORE the multiply: idx may be a spine
    position in the millions (a decade of minutely buckets), and
    LCG_A * (plane*STRIDE + idx) would overflow int64 around idx ~ 8e9;
    after the pre-mod the product is bounded by LCG_A * LCG_M < 2^62.
    The expression is dialect-neutral (CASE / %% / bigint casts parse
    identically in both engines); the arg is kept for sibling symmetry.
    """
    seed = f"(((cast({plane} as bigint) * {LCG_STRIDE}) + ({idx})) % {LCG_M})"
    h = f"((cast({LCG_A} as bigint) * {seed} + {LCG_C}) % {LCG_M})"
    return f"(CASE WHEN {h} * 2 >= {LCG_M} THEN 1 ELSE -1 END)"


def hyperplane_bucket(
    dialect: str, emb_col: str = "embedding", planes: int = 16, dims: int = 64
) -> str:
    """LSH bucket id: sign bits of `planes` deterministic hyperplanes."""
    terms = []
    for p in range(planes):
        if dialect == "spark":
            prods = (
                f"transform(sequence(0, {dims - 1}), "
                f"d -> {emb_col}[d] * {lcg_weight(dialect, str(p), 'd')})"
            )
        else:
            prods = (
                f"list_transform(generate_series(1, {dims}), "
                f"d -> cast({emb_col}[d] as double)"
                f" * {lcg_weight(dialect, str(p), '(d - 1)')})"
            )
        dot = fold_double(dialect, prods)
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def fold_double(dialect: str, arr: str) -> str:
    """Sum a double array preserving left-to-right order (both engines)."""
    if dialect == "spark":
        return f"aggregate({arr}, cast(0.0 as double), (acc, x) -> acc + x)"
    return f"list_reduce(list_prepend(0.0::DOUBLE, {arr}), (acc, x) -> acc + x)"


# BPE-ish pre-tokenization: alnum runs + single non-alnum marks (the
# GPT-2-style pre-split, minus unicode classes so Java regex (Spark) and
# RE2 (DuckDB) agree byte-for-byte on ASCII corpora)
BPE_PATTERN = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"


def bpe_tokens(dialect: str, text_col: str = "text") -> str:
    """Array of BPE-style subtokens (regexp_extract_all, both engines)."""
    if dialect == "spark":
        return f"regexp_extract_all({text_col}, '{BPE_PATTERN}', 0)"
    if dialect == "duck":
        return f"regexp_extract_all({text_col}, '{BPE_PATTERN}')"
    raise ValueError(dialect)


def dot_product(dialect: str, a: str, b: str, dims: int = 64) -> str:
    """Ordered-sum dot product of two fixed-dim double arrays."""
    if dialect == "spark":
        prods = f"zip_with({a}, {b}, (u, v) -> u * v)"
    else:
        # explicit double widen: DuckDB evaluates FLOAT * FLOAT/DOUBLE in
        # float32 (see quantized_vec), which would diverge from Spark's
        # widened-double products at the 1e-7 level
        prods = (
            f"list_transform(generate_series(1, {dims}),"
            f" i -> cast({a}[i] as double) * cast({b}[i] as double))"
        )
    return fold_double(dialect, prods)


def quantized_vec(dialect: str, v: str) -> str:
    """Float array -> bigint array at 1e-6 grid (round half away from 0).

    The quantized dot product is an EXACT int64 sum — order-independent,
    so a numpy/BLAS path on the Spark side and a sequential fold on the
    DuckDB side produce the identical integer (the float fold, by
    contrast, pins both engines to left-to-right order). Ties at .5
    cannot occur: (2k+1)/2e6 has a factor 5^6 in the denominator, which
    no binary float can represent, so half-up (SQL) and half-even
    (numpy rint) agree on every representable input."""
    t = _d(dialect)
    # cast BEFORE the multiply: DuckDB evaluates FLOAT * 1000000.0 in
    # float32 (typeof = FLOAT), where the product can round exactly
    # onto a .5 (observed: -0.1319035f * 1e6 -> -131903.5f vs the
    # true -131903.49936...) and the tie-impossibility argument below
    # collapses; an explicit double widen restores the shared grid.
    return (
        f"{t['transform']}({v},"
        f" x -> cast(round(cast(x as double) * 1000000.0) as bigint))"
    )


def dot_product_q(dialect: str, a: str, b: str, dims: int = 64) -> str:
    """Exact int64 dot of two pre-quantized bigint arrays (see
    quantized_vec). Products <= 64 * (1e6*|x|)^2 stay far inside int64
    for unit-scale embeddings."""
    if dialect == "spark":
        prods = f"zip_with({a}, {b}, (u, v) -> u * v)"
    else:
        prods = f"list_transform(generate_series(1, {dims}), i -> {a}[i] * {b}[i])"
    return fold(dialect, prods, "acc + x")
