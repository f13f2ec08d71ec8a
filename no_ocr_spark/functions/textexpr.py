"""Dialect-paired expression builders (spark | duckdb).

Each function returns SQL-expression *text* for the requested dialect; the
Spark string goes through `F.expr(...)` (pure Catalyst, zero Python
dispatch; higher-order functions such as `transform` and `aggregate` are
`CodegenFallback` in Spark 4.1, so their lambdas are interpreted per
element) and the DuckDB string goes into the oracle SQL. Both
engines were empirically verified to agree on the primitives used here
(char split, ascii, left-fold, sequence generation, set ops, bit ops).

The text hashes of the training-data operators (fingerprint, hash
sampling, MinHash/SimHash/Jaccard/substring dedup, DSIR, perplexity,
frontier sharding) are rendered here for DuckDB only: that rendering is
the oracles' formula and the reference the Spark side is tested against.
The Spark side runs the same formula in compiled kernels
(functions/docsig.py), one walk over each document's code points. The
vectors section at the end covers retrieval in both dialects: dot
products, cosine, MaxSim, quantization and nearest-centroid assignment.
"""

from __future__ import annotations

P64 = 1_000_000_007  # modulus for polynomial hashes (fits products in int64)
MULT = 31

# deterministic MinHash parameters (k=8 permutations)
MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23]
MINHASH_B = [1, 2, 4, 8, 16, 32, 64, 128]


def _check(dialect: str) -> None:
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect {dialect!r}")


def words(dialect: str, s: str) -> str:
    _check(dialect)
    if dialect == "spark":
        return f"split({s}, ' ')"
    return f"string_split({s}, ' ')"


def word_shingles(dialect: str, words_expr: str, k: int) -> str:
    """k-word shingle strings from a words array (distinct NOT applied)."""
    _check(dialect)
    if dialect == "spark":
        # sequence(1, 0) yields a DESCENDING array in Spark — guard short docs
        return (
            f"case when size({words_expr}) >= {k} then "
            f"transform(sequence(1, size({words_expr}) - {k} + 1), "
            f"i -> array_join(slice({words_expr}, i, {k}), ' ')) "
            f"else array() end"
        )
    return (
        f"list_transform(generate_series(1, greatest(len({words_expr}) - {k} + 1, 0)), "
        f"i -> array_to_string({words_expr}[i:i+{k}-1], ' '))"
    )


def intersect_size(dialect: str, a: str, b: str) -> str:
    _check(dialect)
    if dialect == "spark":
        return f"size(array_intersect({a}, {b}))"
    return f"len(list_intersect({a}, {b}))"


def union_size(dialect: str, a: str, b: str) -> str:
    _check(dialect)
    if dialect == "spark":
        return f"size(array_union({a}, {b}))"
    return f"len(list_distinct(list_concat({a}, {b})))"


# --------------------------------------------------------- hashes (DuckDB)
#
# DuckDB splits a string into code points (string_split(s, '')) and ascii()
# returns each one's code point, so a poly hash folds over code points,
# astral ones included; jvm/DocSig.java walks the same code points.


def _fold(arr: str, init: str, lam: str) -> str:
    """Left fold. `lam` uses (acc, x); DuckDB's list_reduce has no init
    arg, so the init is prepended to the list."""
    return f"list_reduce(list_prepend(({init}), {arr}), (acc, x) -> {lam})"


def poly_hash(s: str, p: int = P64, mult: int = MULT) -> str:
    """Deterministic polynomial string hash over code points."""
    codes = f"list_transform(string_split({s}, ''), c -> ascii(c)::BIGINT)"
    return _fold(codes, "0::BIGINT", f"(acc * {mult} + x) % {p}")


def word_hashes(words_expr: str, p: int = P64, mult: int = MULT) -> str:
    """Hash every word once (list<bigint>). A non-default `mult` yields an
    independent hash family — wide simhash signatures (> 30 bits) draw
    their high bits from a second family this way."""
    return f"list_transform({words_expr}, w -> {poly_hash('w', p, mult)})"


def positional_shingle_hashes(wh_col: str, k: int, p: int = P64,
                              mult: int = 131) -> str:
    """Element i (1-based) is the hash of words i..i+k-1,
    fold(h * mult + wh_j) mod p COMPOSED from precomputed word hashes
    (O(words x k)) — the layout the repeated-substring remover needs to
    map duplicated grams back to word spans. Docs shorter than k words
    yield an empty list."""
    gram = f"{wh_col}[i]"
    for j in range(1, k):
        gram = f"(({gram}) * {mult} + {wh_col}[i + {j}]) % {p}"
    return (f"list_transform(generate_series(1, "
            f"greatest(len({wh_col}) - {k - 1}, 0)), i -> {gram})")


def shingle_hashes_from_word_hashes(wh_col: str, k: int = 3, p: int = P64,
                                    mult: int = 131) -> str:
    """The distinct positional k-shingle hashes. k=3 by default: with
    small vocabularies (like the driver's synthetic docs) 2-word shingle
    universes are tiny and MinHash slots degenerate (everyone shares the
    globally-minimal shingle); cubing the universe restores
    discrimination."""
    return f"list_distinct({positional_shingle_hashes(wh_col, k, p, mult)})"


def minhash_signature_from_hashes(hashes_col: str, k: int = 8,
                                  p: int = P64) -> str:
    """MinHash signature over a precomputed shingle-hash list column."""
    terms = []
    for j in range(k):
        a, b = MINHASH_A[j], MINHASH_B[j]
        terms.append(f"coalesce(list_min(list_transform({hashes_col}, "
                     f"h -> ({a} * h + {b}) % {p})), {p})")
    return f"list_value({', '.join(terms)})"


def simhash_from_word_hashes(wh_col: str, n_bits: int = 16) -> str:
    """SimHash over a PRECOMPUTED word-hash list column: bit b is set iff
    the sum over words of (+1 if bit b of the word's hash else -1) is
    positive. NOTE: poly hashes are mod P64 (~2^30), so only bits 0..29
    carry signal — n_bits must be <= 30."""
    if n_bits > 30:
        raise ValueError("poly_hash provides 30 useful bits")
    signs = f"list_transform({wh_col}, h -> (((h) >> (b)) & 1) * 2 - 1)"
    bit_sum = _fold(signs, "0::BIGINT", "acc + x")
    body = f"(case when ({bit_sum}) > 0 then ((1::BIGINT) << (b)) else 0 end)"
    return (f"list_reduce(list_prepend(0::BIGINT, "
            f"generate_series(0, {n_bits - 1})), (acc, b) -> acc + {body})")


def count_substr(dialect: str, s: str, needle: str) -> str:
    """Occurrences of a literal substring — (len(s) - len(replace)) / len(n).
    Same formula both dialects."""
    ln = "length" if dialect == "spark" else "len"
    return (f"(({ln}({s}) - {ln}(replace({s}, '{needle}', ''))) "
            f"/ {len(needle)})")


def token_count_regex(dialect: str, s: str) -> str:
    """BPE-ish token count: runs of letters, runs of digits, single other
    non-space chars."""
    pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    if dialect == "spark":
        return f"size(regexp_extract_all({s}, '{pat}', 0))"
    return f"len(regexp_extract_all({s}, '{pat}'))"


def surt_key(dialect: str, url: str) -> str:
    """SURT-form url key (Sort-friendly URI Reordering Transform — the
    key Common Crawl's CDX index sorts by): lowercase, scheme stripped,
    leading `www.` dropped, host labels REVERSED and comma-joined,
    non-default port kept, `)` then the path. Query strings are kept
    as-is (canonical SURT also sorts query params; url_canonicalize in
    webops.py owns param normalization — compose it upstream if needed).

    `http://www.Host7.example:8080/a/b?x=1` -> `example,host7:8080)/a/b?x=1`
    """
    _check(dialect)
    if dialect == "spark":
        ns = f"regexp_replace(lower({url}), '^https?://', '')"
        hostport = f"split_part({ns}, '/', 1)"
        path = (f"case when length({ns}) = length({hostport}) then '/' "
                f"else substring({ns}, length({hostport}) + 1) end")
        host = f"split_part({hostport}, ':', 1)"
        port = (f"case when contains({hostport}, ':') "
                f"then ':' || split_part({hostport}, ':', 2) else '' end")
        labels = f"split(regexp_replace({host}, '^www\\\\.', ''), '\\\\.')"
        return (f"concat(array_join(reverse({labels}), ','), {port}, ')', "
                f"{path})")
    ns = f"regexp_replace(lower({url}), '^https?://', '')"
    hostport = f"split_part({ns}, '/', 1)"
    path = (f"CASE WHEN length({ns}) = length({hostport}) THEN '/' "
            f"ELSE substring({ns}, length({hostport}) + 1) END")
    host = f"split_part({hostport}, ':', 1)"
    port = (f"CASE WHEN contains({hostport}, ':') "
            f"THEN ':' || split_part({hostport}, ':', 2) ELSE '' END")
    labels = f"string_split(regexp_replace({host}, '^www\\.', ''), '.')"
    return (f"array_to_string(list_reverse({labels}), ',') || {port} || ')' "
            f"|| {path}")


# ------------------------------------------------------------------ vectors
#
# The vector family: dot products, cosine, MaxSim, quantization, the
# nearest-centroid argmax and the SQ8 elements, for every retrieval,
# PQ and SQ8 operator. Spark scores and DuckDB oracle scores are the same
# doubles bit for bit, for three reasons:
#
#   * every dot product is a LEFT fold from 0 over the element products,
#     ((0 + x1*y1) + x2*y2) + ..., in both engines (Spark aggregate over
#     zip_with, DuckDB list_reduce over list_prepend(0)); 0.0 + t == t in
#     IEEE double, and integer folds are exact in any order;
#   * a collected double re-enters a plan as CAST('<repr>' AS DOUBLE):
#     repr is the shortest round-trip decimal and string-to-double
#     parsing is correctly rounded, so the literal is the collected
#     double (a bare decimal literal would parse as DECIMAL);
#   * a nearest-centroid pick is one greatest() over
#     struct(csim, -cid) (argmax_cid), which is exactly
#     row_number() OVER (ORDER BY csim DESC, cid ASC) = 1: ties on csim
#     go to max(-cid) = min cid, a NULL csim sorts below every value
#     (the window's DESC NULLS LAST) and NaN above (as in Spark's sort).
#
# A zero-norm vector has no cosine. Spark divides with try_divide so the
# cosine is NULL, as it is in DuckDB, instead of raising DIVIDE_BY_ZERO
# under ANSI mode.

DIM = 64             # embedding width
SUBVECS = 4          # multi-vector view: 4 sub-vectors of 16 dims
SUBDIM = DIM // SUBVECS
SQ8_LEVELS = 255     # SQ8 codes are 0..SQ8_LEVELS


def dot(dialect: str, a: str, b: str, typ: str = "double") -> str:
    """<a, b> as a left fold from 0: `double` casts each element,
    `bigint` multiplies exact int64 elements as they are."""
    _check(dialect)
    if typ not in ("double", "bigint"):
        raise ValueError(f"unknown dot type {typ!r}")
    exact = typ == "bigint"
    if dialect == "spark":
        xy = "x * y" if exact else "cast(x as double) * cast(y as double)"
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> {xy}), "
                f"cast(0 as {typ}), (acc, x) -> acc + x)")
    ai, bi = (f"{a}[i]", f"{b}[i]") if exact else (f"{a}[i]::DOUBLE",
                                                    f"{b}[i]::DOUBLE")
    return (f"list_reduce(list_prepend(0::{typ.upper()}, "
            f"list_transform(generate_series(1, len({a})), "
            f"i -> {ai} * {bi})), (acc, x) -> acc + x)")


def cosine_from(dialect: str, ab: str, aa: str, bb: str) -> str:
    """Cosine from <a, b>, <a, a> and <b, b>; NULL on a zero norm."""
    _check(dialect)
    den = f"(sqrt({aa}) * sqrt({bb}))"
    if dialect == "spark":
        return f"try_divide(({ab}), {den})"
    return f"({ab}) / {den}"


def cosine(dialect: str, a: str, b: str) -> str:
    return cosine_from(dialect, dot(dialect, a, b), dot(dialect, a, a),
                       dot(dialect, b, b))


def array_lit(vals: list) -> str:
    """Spark array literal for collected values: ints as exact bigint
    literals, floats as CAST('<repr>' AS DOUBLE)."""
    return "array({})".format(", ".join(
        f"{v}L" if isinstance(v, int) else f"CAST('{v!r}' AS DOUBLE)"
        for v in vals))


def csim_lit(vec: str, vals: list) -> str:
    """Spark round(cosine(vec, literal vector), 6), the ranking key of
    every nearest-centroid pick."""
    return f"round({cosine('spark', vec, array_lit(vals))}, 6)"


def argmax_cid(csims: list[tuple[int, str]]) -> str:
    """Spark cid of the largest csim expression, ties to the smallest
    cid, NULL csims last: -greatest(struct(csim, -cid), ...).ncid."""
    structs = ", ".join(f"named_struct('csim', {csim}, 'ncid', {-cid}L)"
                        for cid, csim in csims)
    return f"-greatest({structs}).ncid"


def quantize(dialect: str, e: str) -> str:
    """Deterministic integer quantization (scale 1e7 ~ float32's
    precision): k-means sums, SQ8 ranges and PQ codebooks then run in
    EXACT int64, order-independent and identical across engines — the
    same reason the reference's vector-index twin runs INT8 scalar
    quantization (`no-ocr-api/tests/lance_vs_qdrant.py:247-257`).
    round() is away-from-zero on ties in BOTH engines (Spark HALF_UP ==
    C round)."""
    _check(dialect)
    if dialect == "spark":
        return (f"transform({e}, v -> "
                f"cast(round(cast(v as double) * 10000000, 0) as bigint))")
    return f"list_transform({e}, v -> round(v::DOUBLE * 10000000)::BIGINT)"


def multivec(dialect: str, e: str) -> str:
    """DIM-wide vector -> array of SUBVECS sub-vectors (the reference's
    multi-vector page embedding, search.py:83-84, arity by convention)."""
    _check(dialect)
    if dialect == "spark":
        return (f"transform(sequence(0, {SUBVECS - 1}), "
                f"i -> slice({e}, i * {SUBDIM} + 1, {SUBDIM}))")
    return (f"list_transform(generate_series(0, {SUBVECS - 1}), "
            f"i -> {e}[i * {SUBDIM} + 1 : i * {SUBDIM} + {SUBDIM}])")


def maxsim(dialect: str, q_mv: str, d_mv: str) -> str:
    """MaxSim(q, d) = sum_i max_j dot(q_i, d_j) over nested multi-vectors
    (array<array<double>>), the reference's stored vector shape —
    `list<list<float32,128>>` per page (`no-ocr-api/np_ocr/search.py:
    78-87`). Flat vectors go through multivec first."""
    _check(dialect)
    if dialect == "spark":
        inner = f"array_max(transform({d_mv}, dv -> {dot('spark', 'qv', 'dv')}))"
        return (f"aggregate({q_mv}, cast(0 as double), "
                f"(acc, qv) -> acc + {inner})")
    inner = f"list_max(list_transform({d_mv}, dv -> {dot('duckdb', 'qv', 'dv')}))"
    return (f"list_reduce(list_prepend(0::DOUBLE, "
            f"list_transform({q_mv}, qv -> {inner})), (acc, x) -> acc + x)")


def _sq8_code(dialect: str, qv: str, minqs: str, spans: str) -> str:
    """SQ8 code of element i: round_half_up((q - min) * 255 / span) in
    exact int64, as ((q - min) * 510 + span) div (2 * span); integer
    division of non-negative values truncates the same in Spark (`div`)
    and DuckDB (`//`). A constant dimension (span 0) codes to 0."""
    if dialect == "spark":
        return (f"case when element_at({spans}, i) = 0 then cast(0 as bigint) "
                f"else ((element_at({qv}, i) - element_at({minqs}, i)) "
                f"* {2 * SQ8_LEVELS} + element_at({spans}, i)) "
                f"div (2 * element_at({spans}, i)) end")
    return (f"case when {spans}[i] = 0 then 0::BIGINT "
            f"else (({qv}[i] - {minqs}[i]) * {2 * SQ8_LEVELS} + {spans}[i]) "
            f"// (2 * {spans}[i]) end")


def _sq8_dequant(dialect: str, code: str, minqs: str, spans: str) -> str:
    """Element i back on the float scale: (min + code * span / 255) / 1e7."""
    if dialect == "spark":
        return (f"(cast(element_at({minqs}, i) as double) "
                f"+ cast({code} as double) "
                f"* cast(element_at({spans}, i) as double) / {SQ8_LEVELS}.0) / 1e7")
    return (f"({minqs}[i]::DOUBLE + {code}::DOUBLE * {spans}[i]::DOUBLE "
            f"/ {SQ8_LEVELS}.0) / 1e7")


def _over_dims(dialect: str, body: str) -> str:
    if dialect == "spark":
        return f"transform(sequence(1, {DIM}), i -> {body})"
    return f"list_transform(generate_series(1, {DIM}), i -> {body})"


def sq8_codes_expr(dialect: str, qv: str, minqs: str, spans: str) -> str:
    """array<int64 codes in 0..255>: exact integer round-half-up."""
    _check(dialect)
    return _over_dims(dialect, _sq8_code(dialect, qv, minqs, spans))


def sq8_dequant_expr(dialect: str, codes: str, minqs: str,
                     spans: str) -> str:
    """codes -> double array back on the original float scale."""
    _check(dialect)
    code = f"element_at({codes}, i)" if dialect == "spark" else f"{codes}[i]"
    return _over_dims(dialect, _sq8_dequant(dialect, code, minqs, spans))


def sq8_dequant_direct_expr(qv: str, minqs: str, spans: str) -> str:
    """Spark fused encode+dequant: the code of each element is computed
    inline, ONE transform of DIM elements per row, with the same
    arithmetic per element as encode-then-dequant.

    Composing `sq8_dequant_expr` over a `codes` column lets
    CollapseProject inline the DIM-element codes transform INSIDE each
    element of the dequant transform: element_at(transform(...), i)
    re-evaluates the whole inner array per dimension — O(DIM^2)
    interpreted higher-order-function work per row (measured 5x on the
    IVF x SQ8 checkpoint leg)."""
    code = f"({_sq8_code('spark', qv, minqs, spans)})"
    return _over_dims("spark", _sq8_dequant("spark", code, minqs, spans))
