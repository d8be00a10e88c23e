"""Deterministic, cross-engine text/hash fragments.

Why fragments instead of UDFs: every primitive here (normalization,
shingling, salted-md5 MinHash, SimHash bit math, Jaccard) is expressed with
built-in higher-order functions, so it runs JVM-side inside whole-stage
codegen on Spark — no Python in the hot path — and has a DuckDB twin that
produces bit-identical values for the correctness oracle. md5 is the shared
hash family: both engines agree on md5 hex output byte-for-byte, and
lexicographic MIN over salted md5 digests is a valid MinHash family member
(each salt = one independent hash function).

Spark vs DuckDB dialect notes:
* ``transform``/``aggregate``/``sequence`` (Spark) ↔ ``list_transform``/
  ``list_reduce``/``range`` (DuckDB; range is end-exclusive);
* Spark ``regexp_replace`` replaces all matches; DuckDB needs the ``'g'``
  flag;
* both engines fold floats strictly left-to-right in these fragments, so
  double arithmetic is order-stable and bit-identical.
"""

from __future__ import annotations

# -- normalization -----------------------------------------------------------
#
# Canonicalization scope (deliberately ASCII-only — cross-engine exactness
# beats linguistic completeness for a dedup canonical form):
#
# * Case fold: ``translate(col, 'A..Z', 'a..z')`` — identical by
#   construction in Java and DuckDB. Java's ``lower()`` is Unicode- and
#   context-sensitive where DuckDB's is not (``lower('İ')`` → ``i``+U+0307
#   in Java vs plain ``i`` in DuckDB; final ``Σ`` → ``ς`` in Java vs ``σ``
#   in DuckDB), so non-ASCII letters are passed through UNCHANGED — both
#   engines then agree byte-for-byte.
# * Whitespace: the exact class {TAB LF VT FF CR SPACE}. Java's regex
#   ``\s`` matches U+000B vertical tab but RE2's (DuckDB) does not, so no
#   ``\s`` appears in either dialect: control whitespace is first mapped
#   to SPACE via ``translate`` over ``chr(9..13)`` (chr() sidesteps the
#   engines' different string-literal backslash-escape rules), then runs
#   collapse with the escape-free regex ``' +'``. Unicode spaces (NBSP,
#   U+2028, U+3000, …) are NOT whitespace here — neither engine's default
#   ``\s`` matched them before, so behavior on them is unchanged.

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
#: TAB LF VT FF CR as a literal-free SQL expression (valid in both engines)
_CTL_WS = "concat(chr(9), chr(10), chr(11), chr(12), chr(13))"


def fold_spark(col: str) -> str:
    """ASCII-only case fold — bit-identical in Spark and DuckDB (see the
    canonicalization-scope note above)."""
    return f"translate({col}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def fold_duck(col: str) -> str:
    return f"translate({col}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def norm_spark(col: str = "text") -> str:
    """ASCII case fold + whitespace-collapse + trim — the canonical form
    for dedup (mirrors what the reference would get from Postgres ``lower``
    + ``regexp_replace``; dedup itself is new surface, SURVEY §7.2.7).
    Cross-engine-exact by construction; scope documented at the top of
    this section."""
    return (
        f"trim(regexp_replace(translate({fold_spark(col)}, {_CTL_WS}, '     '), "
        f"' +', ' '))"
    )


def norm_duck(col: str = "text") -> str:
    # trim(x, ' ') — EXPLICIT space-only trim set. DuckDB's one-argument
    # trim strips Unicode whitespace (em space U+2003 etc.) where Spark's
    # strips ASCII space only; found by the wide-Unicode fuzz in
    # tests/test_fragment_parity.py.
    return (
        f"trim(regexp_replace(translate({fold_duck(col)}, {_CTL_WS}, '     '), "
        f"' +', ' ', 'g'), ' ')"
    )


# -- salted id-hash buckets --------------------------------------------------


def idbucket_spark(salt: str, mod: int, col: str = "doc_id") -> str:
    """0..mod-1 bucket from the first 4 hex digits of a salted id md5 —
    the hash-deterministic assignment primitive behind splits, samples,
    and shards (curation c01/c02/c10, multimodal m09). conv() yields
    ≤65535, exact in the implicit double."""
    return (
        f"CAST(conv(substring(md5(concat('{salt}:', CAST({col} AS STRING))), 1, 4), 16, 10) "
        f"% {mod} AS BIGINT)"
    )


def idbucket_duck(salt: str, mod: int, col: str = "doc_id") -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('{salt}:', CAST({col} AS VARCHAR))), 1, 4)) "
        f"AS BIGINT) % {mod}"
    )


# -- character shingles ------------------------------------------------------


def shingles_spark(norm: str, k: int = 5) -> str:
    """All character k-grams of a normalized string (1-indexed substring in
    both engines). ``greatest(...,1)`` keeps short docs from producing an
    empty set.

    ``norm`` MUST be a materialized column, never an inline expression: the
    lambda body re-evaluates its free references per element, so an inlined
    regexp-normalization would run once per shingle (~2000× per doc)."""
    return (
        f"transform(sequence(1, greatest(length({norm}) - {k - 1}, 1)), "
        f"i -> substring({norm}, i, {k}))"
    )


def shingles_duck(norm: str, k: int = 5) -> str:
    return (
        f"list_transform(range(1, greatest(length({norm}) - {k - 1}, 1) + 1), "
        f"i -> substr({norm}, i::INT, {k}))"
    )


def tokens_spark(norm: str) -> str:
    return f"split({norm}, ' ')"


def tokens_duck(norm: str) -> str:
    return f"string_split({norm}, ' ')"


# -- word n-grams ------------------------------------------------------------


def word_ngrams_spark(toks: str, n: int = 3) -> str:
    """All word n-grams (space-joined) of a token array; empty array for
    docs shorter than n tokens (the CASE also dodges Spark's descending
    ``sequence(1, 0)`` surprise).

    Like :func:`shingles_spark`, ``toks`` MUST be a materialized column —
    the lambda indexes it per element, and an inlined split+normalize
    expression would be re-evaluated once per n-gram."""
    terms = ", ".join(f"element_at({toks}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), i -> concat_ws(' ', {terms})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def word_ngrams_duck(toks: str, n: int = 3) -> str:
    terms = ", ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> concat_ws(' ', {terms}))"
    )


# -- MinHash (one md5 per shingle + affine family) ---------------------------
#
# The naive salted-md5 family (md5(salt || s) per hash function) costs
# B*R md5 passes over every shingle — at sf0.1 that is ~170M digests and
# dominated the whole bench. Instead: ONE md5 per shingle, folded to a
# 28-bit integer, then each of the B*R MinHash functions is a cheap affine
# transform h_i(x) = (a_i*x + b_i) mod (2^31-1) — the standard
# universal-hash MinHash family. Products stay < 2^59, exact in plain
# 64-bit integer math on both engines, so values are bit-identical and the
# hot loop never touches DECIMAL/HUGEINT.

MERSENNE31 = (1 << 31) - 1


def _affine_coef(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash function i — powers of fixed primes
    mod 2^31-1 (a != 0 since the modulus is prime)."""
    return pow(1000003, i + 1, MERSENNE31), pow(998244353, i + 1, MERSENNE31)


def base_hash_spark(s: str) -> str:
    """string → 28-bit integer: top 7 hex chars of md5. The only digest
    pass in the MinHash pipeline."""
    return f"CAST(conv(substring(md5({s}), 1, 7), 16, 10) AS BIGINT)"


def base_hash_duck(s: str) -> str:
    return f"CAST(concat('0x', substr(md5({s}), 1, 7)) AS BIGINT)"


def affine_spark(h: str, i: int) -> str:
    """Scalar hash function i over a pre-hashed value. Spark-side MinHash is
    ``min(affine_spark('h', i))`` over exploded hashes — an aggregate, not a
    lambda, because expressions inside higher-order-function lambdas are
    re-evaluated per element (no codegen subexpression elimination), which
    would re-run the md5 pass once per hash function."""
    a, b = _affine_coef(i)
    return f"pmod({a} * {h} + {b}, {MERSENNE31})"


def hashes_duck(shingles: str) -> str:
    """DuckDB oracle twin: md5 once per DISTINCT shingle (min is invariant
    under duplicates, so distinct-vs-multiset doesn't matter)."""
    return (
        f"list_transform(list_distinct({shingles}), s -> {base_hash_duck('s')})"
    )


def minhash_duck(hashes: str, i: int) -> str:
    a, b = _affine_coef(i)
    return (
        f"list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {MERSENNE31}))"
    )


def band_signature_duck(hashes: str, band: int, rows: int) -> str:
    """Band signature = concat of R independent MinHashes. Two docs collide
    on a band with probability jaccard^R — R tunes precision, the band
    count B tunes recall (1-(1-j^R)^B). (Spark builds the same signatures
    from the ``min(affine_spark(...))`` aggregate columns — see
    ``operators/dedup.py``.)"""
    parts = " || '|' || ".join(
        f"({minhash_duck(hashes, band * rows + r)})::VARCHAR" for r in range(rows)
    )
    return f"({parts})"


# -- Jaccard over distinct shingle sets --------------------------------------


def jaccard_spark(s1: str, s2: str) -> str:
    return (
        f"CAST(size(array_intersect(array_distinct({s1}), array_distinct({s2}))) AS DOUBLE) / "
        f"size(array_union({s1}, {s2}))"
    )


def jaccard_duck(s1: str, s2: str) -> str:
    return (
        f"len(list_intersect(list_distinct({s1}), list_distinct({s2})))::DOUBLE / "
        f"len(list_distinct({s1} || {s2}))"
    )


# -- SimHash (16-bit, word tokens, md5 bit source) ---------------------------

#: hex digits with bit 0 set — a token votes +1 on bit j<half iff hex
#: digit j of its md5 is odd
ODD_HEX = "('1','3','5','7','9','b','d','f')"
#: hex digits with bit 1 set — the second independent bit per digit, used
#: for bits j>=half so one 32-digit md5 yields up to 64 SimHash bits
BIT1_HEX = "('2','3','6','7','a','b','e','f')"


def digests_duck(tokens: str) -> str:
    return f"list_transform({tokens}, t -> md5(t))"


def simhash_vote_spark(d: str, j: int, bits: int) -> str:
    """One conditional-sum vote aggregate for SimHash bit j over a token
    digest column: bits below half read bit 0 of hex digit j, bits above
    read bit 1 of hex digit j-half — two independent bits per digit, so a
    single md5 pass supports a 60+-bit fingerprint."""
    half = bits // 2
    if j < half:
        pos, hexset = j + 1, ODD_HEX
    else:
        pos, hexset = j - half + 1, BIT1_HEX
    return f"sum(IF(substring({d}, {pos}, 1) IN {hexset}, 1, -1))"


def simhash_duck(digests: str, bits: int) -> str:
    """DuckDB oracle twin of the Spark conditional-sum SimHash (same
    two-bits-per-hex-digit scheme as :func:`simhash_vote_spark`)."""
    half = bits // 2
    vote_low = (
        f"list_sum(list_transform({digests}, d -> "
        f"CASE WHEN substr(d, (j + 1)::INT, 1) IN {ODD_HEX} THEN 1 ELSE -1 END))"
    )
    vote_hi = (
        f"list_sum(list_transform({digests}, d -> "
        f"CASE WHEN substr(d, (j - {half} + 1)::INT, 1) IN {BIT1_HEX} THEN 1 ELSE -1 END))"
    )
    return (
        f"CAST(list_sum(list_transform(range(0, {bits}), j -> "
        f"CASE WHEN (CASE WHEN j < {half} THEN {vote_low} ELSE {vote_hi} END) > 0 "
        f"THEN (1::BIGINT << j::INT) ELSE 0 END)) AS BIGINT)"
    )


# -- embedding math (float[] -> double, strict left fold) --------------------


def dot_spark(a: str, b: str) -> str:
    """Sequential double-precision dot product: cast each float32 exactly to
    float64, multiply pairwise, strict left fold — bit-identical to the
    DuckDB twin."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (acc, x) -> acc + x)"
    )


def norm2_spark(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def norm2_duck(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, x -> x::DOUBLE * x::DOUBLE), "
        f"(acc, x) -> acc + x))"
    )


def cosine_spark(a: str, b: str) -> str:
    return f"{dot_spark(a, b)} / ({norm2_spark(a)} * {norm2_spark(b)})"


def cosine_duck(a: str, b: str) -> str:
    return f"{dot_duck(a, b)} / ({norm2_duck(a)} * {norm2_duck(b)})"


# -- Python twins (Arrow-batched worker passes) -------------------------------
#
# The dedup chain's shingle+digest pass runs as an Arrow-batched Python
# pass (guide §4.2) instead of the JVM transform/substring/array_distinct
# expression chain — per-shingle string churn in codegen measured slower
# than hashlib's C md5 over the same data. These twins MUST stay
# bit-identical to the Spark/DuckDB fragments above; the pin is
# tests/test_shingle_arrow_parity.py, which compares the Python pass
# against the retired expression chain value-for-value on real corpora.

_PY_NORM_TRANS = str.maketrans(
    _ASCII_UPPER + "\t\n\x0b\x0c\r", _ASCII_LOWER + "     "
)


def norm_py(text: str) -> str:
    """Python twin of :func:`norm_spark`: ASCII case fold, control
    whitespace → space, space-run collapse, space-only trim — the same
    exact character classes (str.translate is per code point, like both
    engines' ``translate``; ``strip(' ')`` is ASCII-space-only, like
    Spark's ``trim``)."""
    import re

    return re.sub(" +", " ", text.translate(_PY_NORM_TRANS)).strip(" ")


def shingles_py(nrm: str, k: int = 5) -> list[str]:
    """Python twin of :func:`shingles_spark`: all char k-grams, 1-indexed;
    short docs (len < k) yield ONE shingle — the whole string (Spark's
    ``substring`` truncates), empty docs yield ``['']``."""
    if len(nrm) >= k:
        return [nrm[i : i + k] for i in range(len(nrm) - k + 1)]
    return [nrm]


def base_hash_py(s: str) -> int:
    """Python twin of :func:`base_hash_spark`: top 7 hex chars of md5 over
    the UTF-8 bytes, as an integer (Spark casts the string to BINARY —
    UTF-8 — before md5; DuckDB hashes the VARCHAR's UTF-8 bytes)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:7], 16)
