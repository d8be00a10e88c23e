"""Deduplication operators over the ``documents`` table — exact, MinHash-LSH
near-dup, SimHash, n-gram Jaccard.

New surface beyond the reference (SURVEY §7.2.7): the reference exports
whatever Postgres returns; a training-data pipeline needs dedup as a
first-class operator family. Everything here is built from built-in
higher-order functions (JVM-side, whole-stage codegen — no Python UDFs) and
every query has a bit-identical DuckDB oracle via
``floorist_spark.functions.textfrag``.

Scale design (100 TB):

* exact dedup is a hash aggregate on md5(text) — map-side partial, one
  shuffle on the digest, never on the full text;
* MinHash-LSH generates candidates by **banded bucket join only** (B=8
  bands, R=4 rows): docs pair up iff a band signature collides, so the
  candidate count is ~sum over buckets of |bucket|^2, never O(N^2). At
  sf0.01 that is ~220 candidate pairs of 125k possible;
* the Jaccard verify runs only on LSH candidates;
* SimHash near-dup uses the pigeonhole trick: hamming<=3 over 60 bits
  implies at least one of 4 15-bit chunks matches exactly, so candidates
  come from an equi-join on (chunk_id, chunk_value) — again no O(N^2);
* embedding near-dup buckets by coordinate-sign LSH before any pairing.

Skew note: a degenerate band signature (e.g. every empty doc hashing
equally) would make one bucket quadratic. AQE skew-join splitting only
splits partitions — a single bucket of m identical signatures is still
m² candidate rows — so band buckets larger than ``MAX_BAND_BUCKET`` are
EXCLUDED from candidate generation (both engines, identically) and
surfaced through :func:`lsh_overflow_buckets` for quarantine handling.
An over-cap bucket means thousands of near-identical documents; those
collapse for cents via exact/normalized dedup (d01/d02) — LSH candidates
exist for the nontrivial near-dup tail, not for mass-identical spam.

Sharing note: the shingle+digest pass, the MinHash signature table, and
the verified near-dup pairs are session-lifetime memos
(:func:`floorist_spark.operators._cache.memo`), so the d03→d04→d09→d10→
d13 chain computes each exactly once per dataset instead of once per
entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from floorist_spark.functions import textfrag as tf
from floorist_spark.operators._canon import CANON_DOCS_D as _CDOCS
from floorist_spark.operators._cache import local_checkpoint, memo, track
from floorist_spark.session import load_table

#: B bands x R rows: candidate collision probability is 1-(1-j^R)^B —
#: R=4 suppresses false candidates ~j^4 while recall at the 0.8 Jaccard
#: threshold stays 1-(1-0.8^4)^8 ≈ 0.985.
NBANDS = 8
NROWS = 4
SHINGLE_K = 5
SIMHASH_BITS = 60
JACCARD_THRESHOLD = 0.8

#: Degenerate-bucket guard: band buckets with more members than this are
#: excluded from the candidate self-join (a bucket of m docs contributes
#: ~m²/2 pairs; one 10M-doc bucket of empty/boilerplate docs would be
#: 5·10¹³ candidate rows at 100 TB regardless of AQE). Normal near-dup
#: clusters are orders of magnitude smaller, so on healthy corpora the
#: filter removes nothing — pinned by the oracle hash gate at sf0.01 and
#: sf0.1 and by the planted-degenerate test in test_dedup_scale.py.
MAX_BAND_BUCKET = 256

_NORM_S = tf.norm_spark("text")
_NORM_D = tf.norm_duck("text")
_SHINGLES_D = tf.shingles_duck(_NORM_D)


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan fanned out to the session parallelism. The testdata
    table is one small parquet file → one input split, which would leave
    the CPU-heavy per-row hash/shingle work single-threaded; repartition
    shuffles only the raw text (cheap) and buys full-core execution. On a
    real cluster the input has many splits and this is a no-op-sized
    rebalance."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): per-doc char-5-gram arrays. The normalized text is
    materialized as a column first — inlining the regexp normalization into
    the shingle lambda would re-run it per shingle (see textfrag).

    The input is CANONICALIZED (one representative row per doc_id, least
    payload — see :mod:`_canon`): the whole similarity chain keys on
    doc_id, and the round-9 degenerate sweep showed every chain entry
    silently diverging from its oracle on re-ingested/duplicated ids.
    Exact-dup censuses (d01/d02/d15c) deliberately stay raw."""
    from floorist_spark.operators._canon import canonical_docs

    return (
        canonical_docs(spark, sf_dir)
        .select("doc_id", F.expr(_NORM_S).alias("nrm"))
        .select("doc_id", F.expr(tf.shingles_spark("nrm", SHINGLE_K)).alias("sh"))
    )


# ---------------------------------------------------------------------------
# d01 — exact dedup (hash groupBy)
# ---------------------------------------------------------------------------

def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on md5 of the raw text, keep the lowest doc_id.
    Deterministic alternative to dropDuplicates (which keeps an arbitrary
    row). Shuffles 32-byte digests, not documents."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


D01_SQL = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
"""


# ---------------------------------------------------------------------------
# d02 — normalized dedup (case/whitespace-insensitive)
# ---------------------------------------------------------------------------

def d02_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on the normalized form (lower + whitespace collapse) — catches
    the near-identical copies exact dedup misses. Same shuffle shape as
    d01."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.expr(f"md5(CAST({_NORM_S} AS BINARY))").alias("norm_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


D02_SQL = f"""
SELECT md5({_NORM_D}) AS norm_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY keep_doc_id
"""


# ---------------------------------------------------------------------------
# d03 — MinHash-LSH candidate pairs (banded)
# ---------------------------------------------------------------------------

def _shingle_minhash_batches(batches):
    """mapInPandas body of :func:`_shingle_rows`: per doc, the DISTINCT
    hashed char-5-gram set (first-occurrence order, like array_distinct)
    plus all B*R MinHash mins as vectorized numpy affine transforms over
    those hashes. Bit-exact twin of the retired JVM expression chain
    (``transform(array_distinct(sh), s -> md5-fold)`` and the 32 min
    aggregates) — pinned value-for-value by
    tests/test_shingle_arrow_parity.py; every primitive is a textfrag
    Python twin (norm_py/shingles_py/base_hash_py). Affine products stay
    < 2^59, exact in int64 — same argument as affine_spark. A NULL text
    normalizes to a single NULL shingle and all-NULL mins, exactly like
    the expression chain (greatest(NULL-4,1)=1; min over NULLs is
    NULL)."""
    import hashlib

    import numpy as np
    import pandas as pd

    nsig = NBANDS * NROWS
    a = np.array([tf._affine_coef(i)[0] for i in range(nsig)], dtype=np.int64)
    b = np.array([tf._affine_coef(i)[1] for i in range(nsig)], dtype=np.int64)
    a_col = a[:, None]
    b_col = b[:, None]
    m31 = tf.MERSENNE31
    k = SHINGLE_K
    md5 = hashlib.md5
    null_mh = [None] * nsig
    for pdf in batches:
        ids: list = []
        shs: list = []
        mhs: list = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                sh: list = [None]
                mh: list = null_mh
            else:
                nrm = tf.norm_py(text)
                if len(nrm) >= k:
                    grams = dict.fromkeys(
                        nrm[i : i + k] for i in range(len(nrm) - k + 1)
                    )
                else:
                    grams = (nrm,)
                sh = [
                    int(md5(g.encode("utf-8")).hexdigest()[:7], 16)
                    for g in grams
                ]
                h = np.asarray(sh, dtype=np.int64)
                mh = ((a_col * h[None, :] + b_col) % m31).min(axis=1).tolist()
            ids.append(doc_id)
            shs.append(sh)
            mhs.append(mh)
        yield pd.DataFrame({"doc_id": ids, "sh": shs, "mh": mhs})


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<bigint>, mh: array<bigint>) — the memoized
    shingle+digest+signature pass, ONE Arrow-batched Python scan per
    dataset (guide §4.2: md5-per-shingle is C speed in hashlib, and the
    32 affine mins fall out of the same numpy array for free, replacing
    the explode + 32-aggregate shuffle the signature table used to
    cost). At cluster scale this memo is the signature table you would
    checkpoint to storage."""

    def build() -> DataFrame:
        docs = canonical_docs_parallel(spark, sf_dir).select("doc_id", "text")
        return docs.mapInPandas(
            _shingle_minhash_batches,
            "doc_id bigint, sh array<bigint>, mh array<bigint>",
        )

    return memo(spark, "dedup_hashed_shingles", sf_dir, build)


def canonical_docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical docs with at least session-parallelism partitions — an
    opaque mapInPandas pass inherits its input partitioning, and the
    memoized canonical table can come out of AQE with fewer partitions
    than cores at test scale. Only rebalances when the input is UNDER
    parallelism (tiny by definition); on a many-split cluster scan this
    is a no-op, so the full corpus is never reshuffled just to feed the
    Python pass."""
    from floorist_spark.operators._canon import canonical_docs

    docs = canonical_docs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    return docs


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<bigint>) — per-doc DISTINCT hashed char-5-gram
    sets, the root intermediate of the whole MinHash family (band
    signatures, candidate joins, Jaccard verifies all derive from it).
    A projection of the memoized :func:`_shingle_rows` pass."""
    return _shingle_rows(spark, sf_dir).select("doc_id", "sh")


def _hashed_shingles_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retired JVM expression-chain implementation of
    :func:`_hashed_shingles` (r12) — kept UNMEMOIZED as the reference
    twin for the Arrow pass's bit-exactness pin
    (tests/test_shingle_arrow_parity.py). Not used by any operator."""
    return _shingled_docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            f"transform(array_distinct(sh), s -> {tf.base_hash_spark('s')})"
        ).alias("sh"),
    )


def _signature_mins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh{B*R-1}): the MinHash signature table — a
    projection of the memoized :func:`_shingle_rows` pass (the mins are
    computed in the same numpy scan that hashes the shingles; min is
    invariant under distinct-vs-multiset shingles, so deriving from the
    distinct hashed sets gives the same signatures as hashing every
    position). The retired explode + 32-min-aggregate build is kept as
    :func:`_signature_mins_expr` for the bit-exactness pin."""
    rows = _shingle_rows(spark, sf_dir)
    return rows.select(
        "doc_id",
        *[F.col("mh")[i].alias(f"mh{i}") for i in range(NBANDS * NROWS)],
    )


def _signature_mins_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference twin of :func:`_signature_mins` (the pre-r12 explode +
    min-aggregate chain over the hashed sets) for the parity pin. Not
    used by any operator."""
    ex = _hashed_shingles(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("h")
    )
    return ex.groupBy("doc_id").agg(
        *[
            F.expr(f"min({tf.affine_spark('h', i)})").alias(f"mh{i}")
            for i in range(NBANDS * NROWS)
        ]
    )


def _band_sigs_expr() -> str:
    return ", ".join(
        "concat_ws('|', "
        + ", ".join(f"CAST(mh{b * NROWS + r} AS STRING)" for r in range(NROWS))
        + ")"
        for b in range(NBANDS)
    )


def _raw_band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, sig): one row per doc per band, UNCAPPED (band
    signature = the R row-hashes concatenated). Derives from the memoized
    signature table, so re-deriving it per consumer costs a posexplode
    over cached rows — no corpus rescan."""
    mins = _signature_mins(spark, sf_dir)
    return mins.select(
        "doc_id",
        F.posexplode(F.expr(f"array({_band_sigs_expr()})")).alias("band", "sig"),
    )


def lsh_overflow_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine surface: the (band, sig, bucket_size) rows excluded from
    candidate generation by ``MAX_BAND_BUCKET``. Empty on healthy corpora;
    non-empty means a mass-identical cohort that belongs in exact dedup
    (d01/d02), not in the pairwise LSH path. Map-side-combined count, one
    shuffle of (band, sig) digests."""
    return (
        _raw_band_rows(spark, sf_dir)
        .groupBy("band", "sig")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > MAX_BAND_BUCKET)
    )


def _cand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): the distinct capped-band LSH candidate pairs,
    memoized. Seven symmetric consumers (d03, the d04 verify chain, d13,
    d25, d27, d28, d31) previously re-ran the band self-join + distinct
    each; the pair table is thousands of rows of two bigints, so keeping
    it session-cached is free and every consumer starts from the same
    materialized pair set.

    Build shape (r12): pairs are generated from ONE bucket-grouping of
    the band rows — groupBy(band, sig) + collect_list, cap filter on the
    bucket's row count (count(*), so NULL doc_ids count exactly like the
    old census), then all in-bucket (a < b) pairs as a local array
    expression. The former shape evaluated the band rows up to four
    times in one query (overflow census + broadcast anti-join + both
    self-join sides — a broadcast defeats exchange reuse) and paid two
    extra exchanges; the bucket cap (MAX_BAND_BUCKET) bounds the kept
    arrays and the local pair fan-out exactly as it bounded the join.
    Degenerate-bucket note: an OVER-cap bucket's collect_list buffer is
    linear in its size before the filter discards it (the planted 20k
    cohort in test_dedup_scale = 160 KB) — against the quadratic pair
    blow-up the cap exists to prevent, that is the cheap side of the
    trade; corpora with quarantine-grade buckets (many millions of
    identical docs) belong in d01/d02 via lsh_overflow_buckets before
    LSH runs at all. Pair-set equality with the self-join shape verified
    (exceptAll both ways = 0 at sf0.1) and pinned by the d03/d04 oracle
    gates."""

    def build() -> DataFrame:
        buckets = (
            _raw_band_rows(spark, sf_dir)
            .groupBy("band", "sig")
            .agg(
                F.collect_list("doc_id").alias("ids"),
                F.count(F.lit(1)).alias("bsz"),
            )
            .filter(F.col("bsz") <= MAX_BAND_BUCKET)
        )
        return (
            buckets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, x -> "
                        "filter(transform(ids, y -> "
                        "struct(x AS doc_a, y AS doc_b)), "
                        "p -> p.doc_a < p.doc_b)))"
                    )
                ).alias("p")
            )
            .select("p.doc_a", "p.doc_b")
            .distinct()
        )

    return memo(spark, "dedup_cand_pairs", sf_dir, build)


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, i, u, j): every candidate pair with its
    exact hashed-shingle set arithmetic, memoized — the per-pair
    array_intersect/array_union over the shingle sets is the expensive
    part of the whole verify family, and d04/d09/d10/d13/d27/d28/d31
    each recomputed it from the hashed memo before this. All consumer
    quantities are projections: Spark's array_intersect/array_union
    already return duplicate-free arrays, so ``i`` equals the
    array_distinct-wrapped intersect size ``jaccard_spark`` spells out
    (verified bit-exact over every candidate pair at sf0.01/sf0.1), and
    ``j = CAST(i AS DOUBLE) / u`` is the identical IEEE division."""

    def build() -> DataFrame:
        hashed = _hashed_shingles(spark, sf_dir)
        return (
            _cand_pairs(spark, sf_dir)
            .join(hashed.alias("da"), F.col("doc_a") == F.col("da.doc_id"))
            .join(hashed.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
            .select(
                "doc_a",
                "doc_b",
                F.expr("size(da.sh)").alias("n_a"),
                F.expr("size(db.sh)").alias("n_b"),
                F.expr("size(array_intersect(da.sh, db.sh))").alias("i"),
                F.expr("size(array_union(da.sh, db.sh))").alias("u"),
            )
            .withColumn("j", F.expr("CAST(i AS DOUBLE) / u"))
        )

    return memo(spark, "dedup_scored_pairs", sf_dir, build)


def d03_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from banded MinHash: docs sharing any band
    signature. The self-join keys on (band, sig) — bucket-local, never
    all-pairs; the distinct collapses multi-band collisions. Pairs come
    from the shared candidate memo; only the presentation order is built
    here."""
    return _cand_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _duck_bands() -> str:
    sigs = ", ".join(tf.band_signature_duck("hs", b, NROWS) for b in range(NBANDS))
    # bands_all -> bands applies the MAX_BAND_BUCKET degenerate-bucket cap
    # (window count per (band, sig)), mirroring the Spark side exactly
    return f"""
    WITH docs AS MATERIALIZED (
      -- MATERIALIZED: docs (the shingle+digest pass, the expensive part
      -- of every dedup oracle) is referenced by bands AND the Jaccard
      -- joins; DuckDB inlines plain CTEs per reference
      SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS hs FROM {_CDOCS} documents),
    bands_all AS (
      SELECT doc_id, band, sigarr[band + 1] AS sig FROM (
        SELECT doc_id, [{sigs}] AS sigarr FROM docs
      ), (SELECT unnest(range(0, {NBANDS})) AS band)
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, band, sig FROM (
        SELECT doc_id, band, sig,
               count(*) OVER (PARTITION BY band, sig) AS bsz
        FROM bands_all
      ) WHERE bsz <= {MAX_BAND_BUCKET}
    )
    """


D03_SQL = f"""
{_duck_bands()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band, sig)
WHERE a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# d04 — LSH candidates + exact Jaccard verify
# ---------------------------------------------------------------------------

def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) — LSH candidates that passed the exact
    Jaccard >= 0.8 verify. Memoized: d04 returns it ordered, d09 clusters
    it, d10 consumes d09 — one near-dup pipeline run per dataset for the
    whole chain."""

    def build() -> DataFrame:
        return (
            _scored_pairs(spark, sf_dir)
            .select("doc_a", "doc_b", F.col("j").alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )

    return memo(spark, "dedup_verified_pairs", sf_dir, build)


def d04_lsh_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: banded LSH candidates (bucket-capped,
    see MAX_BAND_BUCKET), then exact Jaccard over the HASHED distinct
    char-5-gram sets on candidates only, keep pairs >= 0.8. Hashing the
    shingles first (same 28-bit base hash as the MinHash pass) makes the
    set intersection integer-typed — far cheaper than string-set math on
    both engines, identical across them, and off by at most a negligible
    collision term. The expensive verify touches ~1.4k candidate pairs,
    not 125k.

    Every stage derives from session-lifetime memos (hashed shingles →
    signatures → verified pairs): the shingle+digest pass runs a single
    time per dataset even across the d03/d04/d09/d10/d13 chain. (At
    cluster scale those memos are what you'd checkpoint to a signature
    table.)"""
    return _verified_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


D04_SQL = f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents),
scored AS (
  SELECT doc_a, doc_b, {tf.jaccard_duck("da.sh", "db.sh")} AS jaccard
  FROM cand JOIN sh da ON doc_a = da.doc_id JOIN sh db ON doc_b = db.doc_id
)
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# d05 — SimHash fingerprints
# ---------------------------------------------------------------------------

def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the unordered SimHash fingerprint table,
    memoized. Before the memo, every consumer recomputed the fingerprint
    pass (tokenize → md5 → 60 vote aggregates) per reference: the d06
    self-join evaluated it TWICE in one query (the broadcast side defeats
    exchange reuse — plans/r11/d06_simhash_near_pairs_before.txt shows the
    full Generate→HashAggregate chain duplicated) and d12/d29 re-ran it
    per entry. One fingerprint pass per dataset now feeds the whole
    SimHash family, matching the MinHash memo discipline (guide §2.4).
    Unordered on purpose: d05's presentation orderBy otherwise survives
    inside consumers as a range exchange + sort on EACH join side."""

    def build() -> DataFrame:
        from floorist_spark.operators._canon import canonical_docs

        ex = (
            canonical_docs(spark, sf_dir)
            .select(
                "doc_id", F.explode(F.expr(tf.tokens_spark(_NORM_S))).alias("t")
            )
            .select("doc_id", F.md5("t").alias("d"))
        )
        votes = ex.groupBy("doc_id").agg(
            *[
                F.expr(tf.simhash_vote_spark("d", j, SIMHASH_BITS)).alias(f"v{j}")
                for j in range(SIMHASH_BITS)
            ]
        )
        bits = " + ".join(
            f"IF(v{j} > 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
            for j in range(SIMHASH_BITS)
        )
        return votes.select("doc_id", F.expr(bits).alias("simhash"))

    return memo(spark, "dedup_simhash_fp", sf_dir, build)


def d05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from word tokens (md5 bit source — two
    independent bits per hex digit, +/-1 votes; 60 bits keeps random
    collisions at hamming<=3 negligible even at billions of pairs). Same
    explode-then-aggregate shape as MinHash: one md5 per token, then the
    60 bit-votes are conditional ``sum`` aggregates in a single
    groupBy(doc_id) — no per-bit re-hashing, shuffle carries only
    (doc_id, 60 ints) after map-side combine."""
    return _simhash_fp(spark, sf_dir).orderBy("doc_id")


D05_SQL = f"""
WITH digs AS (
  SELECT doc_id, {tf.digests_duck(tf.tokens_duck(_NORM_D))} AS digs FROM {_CDOCS} documents
)
SELECT doc_id, {tf.simhash_duck("digs", SIMHASH_BITS)} AS simhash
FROM digs ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d06 — SimHash near-dup pairs (pigeonhole chunk join)
# ---------------------------------------------------------------------------

def d06_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with hamming(simhash) <= 3: any such pair must agree exactly on
    at least one of the 4 15-bit chunks (pigeonhole), so candidates come
    from an equi-join on (chunk_id, chunk_value) — the scale-safe SimHash
    dedup: 4*32768 buckets, so random docs essentially never become
    candidates. bit_count(a XOR b) verifies the exact distance."""
    fp = _simhash_fp(spark, sf_dir)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), c -> (shiftright(simhash, c * 15) & 32767))"
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


D06_SQL = f"""
WITH digs AS (
  SELECT doc_id, {tf.digests_duck(tf.tokens_duck(_NORM_D))} AS digs FROM {_CDOCS} documents
),
fp AS (
  SELECT doc_id, {tf.simhash_duck("digs", SIMHASH_BITS)} AS simhash FROM digs
),
chunks AS (
  SELECT doc_id, simhash, c AS chunk_id, (simhash >> (c * 15)::INT) & 32767 AS chunk_val
  FROM fp, (SELECT unnest(range(0, 4)) AS c)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM chunks a JOIN chunks b USING (chunk_id, chunk_val)
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# d07 — embedding-cosine near-dup (sign-LSH bucketed)
# ---------------------------------------------------------------------------

#: The default a production pipeline should inherit: embeddings at cosine
#: >= 0.95 are near-duplicates for typical sentence encoders.
COSINE_DUP_THRESHOLD = 0.95

#: The catalog/demo threshold, passed EXPLICITLY by the d07 entry: the
#: synthetic embeddings are near-random (max pairwise cosine ~0.51 at
#: sf0.01), so the demo calibrates down to keep the verify path exercised
#: with real pairs. Kept separate from the production constant so nobody
#: copies 0.35 into a real pipeline.
COSINE_DEMO_THRESHOLD = 0.35


def d07_embedding_neardup(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_DEMO_THRESHOLD
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, with candidates
    restricted to vectors sharing an 8-bit coordinate-sign LSH bucket
    (vectors at cosine ~1 almost surely agree on all coordinate signs).
    The join keys on the bucket — candidate count is sum(|bucket|^2), never
    O(N^2); the exact cosine verifies candidates only. Same bucket family
    as similarity.s02; thresholded-pair output shape matches d04."""
    from floorist_spark.operators.similarity import _sign_bucket_spark

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr(_sign_bucket_spark("embedding")).alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("q_emb"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("c_emb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(tf.cosine_spark("q_emb", "c_emb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def _d07_sql() -> str:
    from floorist_spark.operators.similarity import _sign_bucket_duck

    return f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket FROM embeddings
), scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {tf.cosine_duck("a.embedding", "b.embedding")} AS cosine
  FROM b a JOIN b b ON a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {COSINE_DEMO_THRESHOLD}
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# d09 — dedup cluster assignment (connected components of near-dup pairs)
# ---------------------------------------------------------------------------

def d09_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the VERIFIED near-dup graph (d04: LSH
    candidates that passed the exact Jaccard >= 0.8 check): every document
    gets ``cluster_id`` = min doc_id reachable through verified edges
    (singletons map to themselves). This is the step that turns pairwise
    near-dup verdicts into a keep-one-per-cluster decision.

    Clustering the VERIFIED graph, not raw fingerprint candidates, is a
    scale-correctness requirement: a 50k-doc stress test showed a 32-bit
    SimHash candidate graph randomly merges ~2k unrelated pairs (birthday
    effect at hamming<=3), while Jaccard-verified edges have no false
    positives at any corpus size (`tests/test_dedup_scale.py`).

    Spark has no recursive SQL, so this is iterative min-label propagation
    — the one legitimate driver-side loop in this engine: each round is a
    fully distributed join+agg over the (tiny) label table, the loop count
    is the graph diameter (2-4 for dup clusters), and ``localCheckpoint``
    cuts the compounding lineage each round. At billions of docs the same
    loop runs with the label table disk-backed (this is exactly
    GraphFrames' label-propagation shape). Oracle: DuckDB recursive CTE."""
    return _cluster_labels(spark, sf_dir).orderBy("doc_id")


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id), UNORDERED — d09's converged label table,
    memoized. Five bench consumers (d09, d10, d16, c22 and the c16/c23
    mixture chain) each re-ran the whole propagation loop (2-4 rounds of
    join + localCheckpoint + convergence collect) per entry before this;
    the labels derive deterministically from the memoized verified-pair
    memo, so one loop per dataset serves them all. The final checkpoint's
    blocks back the memo's persisted copy (truncated lineage), so the
    handle is registered with memo_aux — freed with the memo tier, not at
    the per-entry boundary."""
    from floorist_spark.operators._cache import memo_aux

    def build() -> DataFrame:
        pairs = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
        edges = pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ).toDF("src", "dst")

        # Deliberately corpus-wide, NOT endpoint-restricted (r11
        # interleaved A/B, 3 reps each at sf0.1: this shape med 2.75s
        # vs loop-over-edge-endpoints-then-left-join-singletons med
        # 3.62s): restricting the rounds to the ~477 edge endpoints
        # saves per-round bytes but adds a second distinct plus a
        # corpus-sized singleton re-attach join at the end, which costs
        # more than the smaller rounds save here. At cluster scale the
        # trade flips (N rows per round vs |dup endpoints|) — revisit
        # on the real topology, where the re-attach is one co-located
        # storage join.
        labels, ckpt = local_checkpoint(
            load_table(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("doc"), F.col("doc_id").alias("lbl"))
            # one label per document IDENTITY — duplicated ingest rows
            # would otherwise each emit their own cluster row (id-only
            # distinct, equivalent to _canon for a key-only projection)
            .distinct()
        )
        # labels are monotonically non-increasing (least of self and
        # neighbor min), so sum(lbl) is a sufficient convergence check —
        # one cheap aggregate per round instead of a self-join diff
        prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        while True:
            nbr = (
                edges.join(labels, edges.src == labels.doc)
                .groupBy("dst")
                .agg(F.min("lbl").alias("nlbl"))
            )
            labels, new_ckpt = local_checkpoint(
                labels.join(nbr, labels.doc == nbr.dst, "left").select(
                    "doc",
                    F.least(
                        F.col("lbl"), F.coalesce("nlbl", "lbl")
                    ).alias("lbl"),
                )
            )
            # the new checkpoint is materialized eagerly, so the previous
            # round's blocks are dead — free them now instead of letting
            # every round's label table accumulate in executor memory
            ckpt.unpersist()
            ckpt = new_ckpt
            cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum

        memo_aux(ckpt)
        return labels.select(
            F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id")
        )

    return memo(spark, "dedup_cluster_labels", sf_dir, build)


D09_SQL = f"""
WITH RECURSIVE {_duck_bands().strip().removeprefix("WITH").strip()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents),
scored AS (
  SELECT doc_a, doc_b, {tf.jaccard_duck("da.sh", "db.sh")} AS jaccard
  FROM cand JOIN sh da ON doc_a = da.doc_id JOIN sh db ON doc_b = db.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT DISTINCT doc_id AS doc, doc_id AS lbl FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id, min(lbl) AS cluster_id
FROM reach GROUP BY doc ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d10 — curation keep-decision (clusters x quality)
# ---------------------------------------------------------------------------

def d10_curation_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation end-stage: one keep-decision per near-dup cluster —
    the member with the highest quality score (ties to the lowest doc_id)
    survives. Composes d09's connected components with the text family's
    quality scoring; per-cluster argmax is a window row_number, so the
    only added shuffle is on cluster_id."""
    from floorist_spark.operators._canon import canonical_docs
    from floorist_spark.operators.text import quality_score_expr
    from pyspark.sql.window import Window

    # unordered memoized labels: d09's orderBy is presentation-only and
    # would cost each consumer a useless range-exchange+sort (the d05 rule)
    clusters = _cluster_labels(spark, sf_dir)
    # quality of the CANONICAL representative (not t02's raw per-row
    # scores): clusters are identity-keyed, so the keep decision must
    # score each doc_id exactly once — t02 itself stays per-ingest-row
    quality = canonical_docs(spark, sf_dir).select(
        "doc_id", F.expr(quality_score_expr()).alias("quality_score")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    joined = clusters.join(quality, "doc_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("cluster_id")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            "n_members",
            F.col("quality_score").alias("best_quality"),
        )
        .orderBy("cluster_id")
    )


def _d10_sql() -> str:
    from floorist_spark.operators.text import _LEN_SCORE_D, _STOP_RATIO_D

    # everything up to d09's final SELECT = the shared CTE chain ending
    # with the recursive `reach`
    ctes = D09_SQL[: D09_SQL.rindex("SELECT doc AS doc_id")].strip().rstrip()
    return f"""
{ctes}
, clusters AS (
  SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc
),
quality AS (
  SELECT doc_id,
    0.5::DOUBLE * ({_LEN_SCORE_D}) + 0.5::DOUBLE * ({_STOP_RATIO_D}) AS quality_score
  FROM {_CDOCS} documents
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN quality q USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc_id,
       CAST(n_members AS BIGINT) AS n_members, quality_score AS best_quality
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# d11 — semantic dedup (cluster-then-prune over embeddings)
# ---------------------------------------------------------------------------

def d11_semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_DEMO_THRESHOLD
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    partition the embedding space into clusters, then drop every vector
    that has a LOWER-id neighbor above the cosine threshold *within its
    cluster* — the published greedy rule, which makes pruning embarrassingly
    parallel per cluster (d09's connected components are the cross-cluster
    exact alternative; SemDeDup trades that global view for per-cluster
    locality at 100 TB).

    Scale shape: assignment is one corpus scan against a broadcast centroid
    set (s03's IVF plan; production trains MLlib k-means with K ~ N/10^4 so
    clusters stay bounded — s05 pins that path). Pairing joins the cluster
    key only, so candidates are sum(|cluster|^2) within clusters, never
    O(N^2) — the join is hash-partitioned on centroid_id and AQE splits
    skewed clusters. The assigned table feeds three consumers (both pair
    sides + the final flag join), so it is persisted once."""
    from floorist_spark.operators.similarity import N_CENTROIDS
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    assigned = (
        emb.select(F.col("vec_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "q_emb", "centroid_id",
            F.expr(tf.cosine_spark("q_emb", "c_emb")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "q_emb", "centroid_id")
    )
    assigned = track(assigned.persist())
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("q_emb").alias("a_emb"), "centroid_id"
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("q_emb").alias("b_emb"), "centroid_id"
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(F.expr(tf.cosine_spark("a_emb", "b_emb")) >= threshold)
        .select("vec_b")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned.vec_id == dropped.vec_b, "left")
        .select(
            "vec_id",
            "centroid_id",
            F.expr("vec_b IS NULL").alias("is_kept"),
        )
        .orderBy("vec_id")
    )


def _d11_sql() -> str:
    from floorist_spark.operators.similarity import N_CENTROIDS

    cos_assign = tf.cosine_duck("q.embedding", "c.embedding")
    cos_pair = tf.cosine_duck("a.q_emb", "b.q_emb")
    return f"""
WITH scored AS (
  SELECT q.vec_id, q.embedding AS q_emb, c.vec_id AS centroid_id,
         {cos_assign} AS cos
  FROM embeddings q, embeddings c WHERE c.vec_id < {N_CENTROIDS}
), assigned AS (
  SELECT vec_id, q_emb, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id AS vec_b
  FROM assigned a JOIN assigned b ON a.centroid_id = b.centroid_id
  WHERE a.vec_id < b.vec_id AND {cos_pair} >= {COSINE_DEMO_THRESHOLD}
)
SELECT a.vec_id, a.centroid_id, d.vec_b IS NULL AS is_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_b
ORDER BY a.vec_id
"""


# ---------------------------------------------------------------------------
# d12 — cross-modal near-dup (text ∪ embedding signals)
# ---------------------------------------------------------------------------

def d12_crossmodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs flagged by EITHER signal family, with provenance:
    SimHash text pairs (d06, hamming <= 3) full-outer-joined with
    embedding-cosine pairs (d07) on the id pair — the multi-signal merge a
    production pipeline runs before adjudicating conflicts (text-dup but
    not embed-dup usually means boilerplate; embed-only means paraphrase).
    The testdata ids align doc_id == vec_id by construction.

    Scale shape: pure composition — both inputs are already
    bucketed-candidate pair sets (tiny relative to the corpus), so the
    merge is a join of two pair tables on their natural key; no new scan
    of documents or embeddings beyond what d06/d07 perform."""
    t = d06_simhash_near_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        "hamming",
    )
    e = d07_embedding_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        "cosine",
    )
    return (
        t.join(e, ["id_a", "id_b"], "full")
        .select(
            "id_a",
            "id_b",
            F.expr("hamming IS NOT NULL").alias("text_dup"),
            F.expr("cosine IS NOT NULL").alias("embed_dup"),
            "hamming",
            "cosine",
        )
        .orderBy("id_a", "id_b")
    )


def _d12_sql() -> str:
    return f"""
WITH t AS ({D06_SQL}), e AS ({_d07_sql()})
SELECT coalesce(t.doc_a, e.vec_a) AS id_a,
       coalesce(t.doc_b, e.vec_b) AS id_b,
       t.doc_a IS NOT NULL AS text_dup,
       e.vec_a IS NOT NULL AS embed_dup,
       t.hamming, e.cosine
FROM t FULL OUTER JOIN e ON t.doc_a = e.vec_a AND t.doc_b = e.vec_b
ORDER BY id_a, id_b
"""


def d13_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash quality audit: for every LSH candidate pair, the Jaccard
    ESTIMATE implied by the signatures (fraction of the B*R row-hashes that
    agree — the unbiased MinHash estimator) next to the EXACT Jaccard over
    hashed shingle sets, plus the absolute error. This is the operator a
    production dedup pipeline runs when tuning B/R or auditing whether the
    signature family is behaving (estimate should concentrate around truth
    with sd ~= sqrt(j(1-j)/32)).

    Scale shape: identical to d04 — one shingle+digest pass (cached), the
    signature table derives from it by aggregation, candidates by banded
    bucket join, and BOTH scoring joins touch only the ~1.4k candidate
    pairs. The estimate join carries (doc_id, 32 bigints); nothing here is
    all-pairs. Determinism: estimate = matches/32 (exact in binary),
    exact Jaccard = integer-cardinality ratio, error = one IEEE subtract —
    all bit-identical across engines."""
    nmh = NBANDS * NROWS
    mins = _signature_mins(spark, sf_dir)

    ma = mins.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(nmh)]
    )
    mb = mins.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(nmh)]
    )
    matches = " + ".join(f"CAST(a{i} = b{i} AS INT)" for i in range(nmh))
    return (
        _scored_pairs(spark, sf_dir)
        .select("doc_a", "doc_b", F.col("j").alias("exact_jaccard"))
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .withColumn("est_jaccard", F.expr(f"CAST(({matches}) AS DOUBLE) / {nmh}"))
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            "exact_jaccard",
        )
        .withColumn("abs_err", F.expr("abs(est_jaccard - exact_jaccard)"))
        .orderBy("doc_a", "doc_b")
    )


def _d13_sql() -> str:
    nmh = NBANDS * NROWS
    mh_cols = ", ".join(f"{tf.minhash_duck('hs', i)} AS mh{i}" for i in range(nmh))
    matches = " + ".join(
        f"CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END" for i in range(nmh)
    )
    return f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
cdocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand
  )
),
-- signature/shingle work restricted to docs that appear in a candidate
-- pair (and exact Jaccard evaluated once, in its own CTE) — the naive
-- form recomputed 32 minhash list-passes for EVERY doc and the Jaccard
-- twice per pair, ~25x slower at sf0.1
mh AS (SELECT d.doc_id, {mh_cols} FROM docs d JOIN cdocs USING (doc_id)),
sh AS (
  SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh
  FROM {_CDOCS} documents JOIN cdocs USING (doc_id)
),
est AS (
  SELECT doc_a, doc_b, CAST(({matches}) AS DOUBLE) / {nmh} AS est_jaccard
  FROM cand JOIN mh ma ON doc_a = ma.doc_id JOIN mh mb ON doc_b = mb.doc_id
),
scored AS (
  SELECT e.doc_a, e.doc_b, e.est_jaccard,
         {tf.jaccard_duck("da.sh", "db.sh")} AS exact_jaccard
  FROM est e JOIN sh da ON e.doc_a = da.doc_id JOIN sh db ON e.doc_b = db.doc_id
)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
       abs(est_jaccard - exact_jaccard) AS abs_err
FROM scored ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# d14 — n-gram containment (asymmetric near-superset detection)
# ---------------------------------------------------------------------------

#: inverted-index posting cap: n-grams in more docs than this are too
#: common to be discriminative candidates (and would blow up the join)
DF_CAP = 5
CONTAINMENT_THRESHOLD = 0.9


def d14_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: pairs where one doc's distinct
    word-3-grams are ≥90% contained in the other's — the quote/excerpt/
    near-superset relation that symmetric Jaccard (d04) structurally
    misses (a doc fully quoted inside a 10x larger one has Jaccard ≤ 0.1
    but containment 1.0).

    Candidate generation is an INVERTED INDEX on rare n-grams, not LSH
    banding: keep postings for n-grams appearing in 2..{DF_CAP} docs, pair
    docs sharing a posting. This is the third candidate strategy in the
    dedup family (banded signatures d03, pigeonhole chunks d06, rare-term
    postings here) and the right one for containment — a contained doc
    shares ALL its n-grams with its container, rare ones included, while
    LSH's collision probability tracks Jaccard and misses skewed-size
    pairs. The df cap bounds posting-list length, so candidate pairs are
    ≤ cap²/2 per rare n-gram — never all-pairs, and immune to boilerplate
    n-grams by construction.

    Scale shape: every shuffle carries (doc_id, 32-byte digest) — n-gram
    text dies in the first projection; the distinct n-gram table is
    persisted and feeds postings, sizes, and the intersection count (one
    corpus scan); the intersection join fans out candidate pairs by the
    contained side's n-gram count only. Containments are exact
    integer/integer divisions — bit-identical cross-engine."""
    ng = track(
        _docs_parallel(spark, sf_dir)
        .select("doc_id", F.expr(_NORM_S).alias("nrm"))
        .select("doc_id", F.expr(tf.tokens_spark("nrm")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({tf.word_ngrams_spark('toks', 3)})")
            ).alias("g"),
        )
        .select("doc_id", F.md5("g").alias("h"))
        .persist()
    )
    ng.count()
    sizes = ng.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    postings = (
        ng.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(2, DF_CAP))
    )
    rare = ng.join(postings, "h").select("h", "doc_id")
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    nga = ng.select(F.col("doc_id").alias("doc_a"), "h")
    ngb = ng.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(nga, "doc_a")
        .join(ngb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_ngrams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_ngrams").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(n_shared AS DOUBLE) / n_a").alias("containment_a"),
            F.expr("CAST(n_shared AS DOUBLE) / n_b").alias("containment_b"),
        )
        .filter(
            F.expr(f"greatest(containment_a, containment_b) >= {CONTAINMENT_THRESHOLD}")
        )
        .orderBy("doc_a", "doc_b")
    )


def _d14_sql() -> str:
    toks = tf.tokens_duck(_NORM_D)
    return f"""
WITH tok AS (
  SELECT doc_id, {toks} AS toks FROM documents
), ng AS (
  SELECT doc_id, md5(g) AS h FROM (
    SELECT doc_id, unnest(list_distinct({tf.word_ngrams_duck("toks", 3)})) AS g
    FROM tok
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_ngrams FROM ng GROUP BY doc_id
), postings AS (
  SELECT h FROM ng GROUP BY h HAVING count(*) BETWEEN 2 AND {DF_CAP}
), rare AS (
  SELECT ng.h, ng.doc_id FROM ng JOIN postings USING (h)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b USING (h) WHERE a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
  FROM cand c
  JOIN ng na ON na.doc_id = c.doc_a
  JOIN ng nb ON nb.doc_id = c.doc_b AND nb.h = na.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_shared AS DOUBLE) / sa.n_ngrams AS containment_a,
       CAST(i.n_shared AS DOUBLE) / sb.n_ngrams AS containment_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE greatest(CAST(i.n_shared AS DOUBLE) / sa.n_ngrams,
               CAST(i.n_shared AS DOUBLE) / sb.n_ngrams)
      >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# d15 — passage-level exact substring dedup (line-dedup analogue)
# ---------------------------------------------------------------------------

#: non-overlapping passage width in tokens — the dedup unit (real corpora
#: use lines/paragraphs; the synthetic docs have no line structure, so a
#: fixed token window stands in; the plan is identical either way)
PASSAGE_W = 8


def d15_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level dedup à la CCNet/RefinedWeb line-dedup (and the
    substring-dedup motivation of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): split every document into
    non-overlapping PASSAGE_W-token passages, keep only the globally FIRST
    occurrence of each distinct passage (order = (doc_id, idx), the corpus
    position), and report per document how much text survives plus a
    digest of the cleaned text (scalar-only gate contract — the cleaned
    string itself would be the real output downstream).

    Scale shape: one narrow scan → posexplode passages → md5 each passage
    and DROP the text — every exchange in the plan (ownership groupBy,
    survivor join, per-doc fold) carries (digest, doc_id, idx) only, the
    d14 digest-only-exchange rule, which is why ``clean_digest`` is a
    digest-of-digests: fingerprinting kept text directly would drag
    passage strings through three shuffles. (The cleaned TEXT, when a
    pipeline materializes it, is a narrow doc_id-join of the keep set
    against the original scan — no wide shuffle either.) First-owner is
    min(struct(doc_id, idx)) — map-side combinable, skew-safe: a passage
    repeated 10M times reduces to one owner row per partition before the
    exchange. Reference has no text ops at all (new surface, SURVEY
    §7.2.7).

    Duplicate-id robustness (round 8): a 100 TB corpus WILL carry
    duplicated doc_id rows, and the ownership-equality keep flag
    (o.doc_id == doc_id AND o.idx == idx) would mark EVERY row tying on
    (doc_id, idx) as kept while the oracle's row_number()=1 keeps one.
    The chunk relation is therefore reduced to DISTINCT (doc_id, idx, d)
    before ownership — within each d-partition (doc_id, idx) is then a
    key, so equality-vs-min and row_number()=1 agree on any corpus. The
    semantics become "per distinct document content": identical-text
    id-duplicates collapse, different-text id-collisions keep both
    passages. No-op on a unique-id corpus."""
    toks = _docs_parallel(spark, sf_dir).select(
        "doc_id", F.expr(tf.tokens_spark(_NORM_S)).alias("toks")
    )
    ch = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(toks) / {PASSAGE_W}.0) AS INT) - 1), "
                f"i -> md5(concat_ws(' ', slice(toks, i * {PASSAGE_W} + 1, {PASSAGE_W}))))"
            )
        ).alias("idx", "d"),
    ).distinct()
    owners = ch.groupBy("d").agg(
        F.min(F.struct(F.col("doc_id"), F.col("idx"))).alias("o")
    )
    flagged = ch.join(owners, "d").select(
        "doc_id",
        "idx",
        "d",
        (
            (F.col("o.doc_id") == F.col("doc_id")) & (F.col("o.idx") == F.col("idx"))
        ).alias("keep"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.expr(
                "md5(concat_ws('', transform(array_sort("
                "collect_list(IF(keep, struct(idx, d), NULL))), s -> s.d)))"
            ).alias("clean_digest"),
        )
        .orderBy("doc_id")
    )


# Portability-hardened oracle (round 6): the round-5 driver gate flagged a
# hash mismatch that never reproduced locally, so the version-sensitive
# corners — min(ROW(doc_id, idx)) first-owner, ROW(..) = ROW(..) comparison,
# and bracket list-slicing toks[a::INT:b::INT] — are rewritten with boring
# ANSI constructs: row_number() OVER (PARTITION BY d ORDER BY doc_id, idx)
# for first-owner and list_slice(toks, a, b) (1-based inclusive, matching
# Spark's slice(toks, a, len)). Semantics unchanged.
#
# Round 8 (judge-proven root cause of the r5-r7 driver reds): n_kept was the
# bare sum(CASE ...) — HUGEINT in DuckDB, which the driver's pandas fetch
# renders as float64 (7.0 vs Spark's 7) and the value hash distinguishes.
# CAST ... AS BIGINT restores integer-class parity; the Spark answer was
# already correct. Also: DISTINCT chunk rows (duplicate-doc_id robustness,
# mirroring the Spark plan) and a d tie-break in the string_agg ORDER BY —
# idx alone is only a key per group when doc_ids are unique.
D15_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tf.tokens_duck(_NORM_D)} AS toks FROM documents
), ch AS (
  SELECT DISTINCT doc_id, idx, d FROM (
    SELECT doc_id, i AS idx,
           md5(array_to_string(list_slice(toks,
               CAST(i * {PASSAGE_W} + 1 AS INTEGER),
               CAST(i * {PASSAGE_W} + {PASSAGE_W} AS INTEGER)), ' ')) AS d
    FROM toks, LATERAL unnest(range(0, CAST(ceil(len(toks) / {PASSAGE_W}.0) AS BIGINT))) AS t(i)
  )
), flagged AS (
  SELECT doc_id, idx, d,
         row_number() OVER (PARTITION BY d ORDER BY doc_id, idx) = 1 AS keep
  FROM ch
)
SELECT doc_id, count(*) AS n_passages,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(d, '' ORDER BY idx, d) FILTER (WHERE keep), '')) AS clean_digest
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d15a / d15b — cross-engine divergence localization probes
# ---------------------------------------------------------------------------
#
# Round-6 forensics: d15 and c20 gated red at the driver while every local
# sweep was green, and the demonstrated root cause was a corpus-dependent
# Spark-vs-DuckDB divergence in the shared norm fragment (Java-vs-RE2 \s on
# U+000B; Unicode lower() on İ / final Σ — see functions/textfrag.py). The
# round-5 fix iteration guessed blind because the gate only exposed the
# END of the pipeline. These two probes pin the two intermediate stages any
# token-count-derived output flows through, so a future recurrence
# self-localizes in one gate window: d15a red → token counts diverge
# (whitespace class); d15b red → normalized bytes diverge (case folding);
# both green with d15/c20 red → the bug is downstream of normalization.


def d15a_token_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count over the canonical normalized text — the
    exact integer whose cross-engine drift made d15/c20 driver-red in
    rounds 5-6. Pure narrow map over one scan; no shuffle beyond the
    ordering sort (gate-sized output)."""
    return (
        _docs_parallel(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"CAST(size({tf.tokens_spark(_NORM_S)}) AS BIGINT)").alias(
                "ntok"
            ),
        )
        .orderBy("doc_id")
    )


D15A_SQL = f"""
SELECT doc_id, CAST(len({tf.tokens_duck(_NORM_D)}) AS BIGINT) AS ntok
FROM documents ORDER BY doc_id
"""


def d15b_norm_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 of the canonical normalized text per document — byte-exact
    check of the normalization stage itself (casing + whitespace
    collapse), upstream of tokenization."""
    return (
        _docs_parallel(spark, sf_dir)
        .select("doc_id", F.expr(f"md5({_NORM_S})").alias("norm_digest"))
        .orderBy("doc_id")
    )


D15B_SQL = f"""
SELECT doc_id, md5({_NORM_D}) AS norm_digest
FROM documents ORDER BY doc_id
"""


def d15c_multiplicity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shape probe (round-8 verdict task 8): one row of exact
    multiplicity counts — total rows, distinct doc_ids, distinct texts,
    and rows whose doc_id is duplicated. Trivially oracle-clean, so when
    a remote gate's corpus has a shape the local testdata doesn't
    (duplicated ids made d15/m12/c20 latently divergent until round 8),
    the surprise is directly readable from ``spark_rows``/values in the
    correctness JSON instead of needing another forensics round.

    Scale shape: two map-side-combinable distinct-count aggregates plus
    one groupBy(doc_id) count — all digest/id-only exchanges."""
    docs = _docs_parallel(spark, sf_dir)
    dup_rows = (
        docs.groupBy("doc_id")
        .agg(F.count("*").alias("m"))
        .agg(
            # coalesce mirrors the oracle: an EMPTY corpus sums to NULL
            # on the Spark side but the oracle renders 0 — and d15c is
            # the probe that must stay readable on degenerate corpora
            F.expr(
                "coalesce(sum(IF(m > 1, m, CAST(0 AS BIGINT))), "
                "CAST(0 AS BIGINT))"
            ).alias("n_rows_with_dup_id")
        )
    )
    base = docs.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_doc_ids"),
        F.countDistinct(F.expr("md5(coalesce(text, ''))")).alias("n_texts"),
    )
    return base.crossJoin(F.broadcast(dup_rows)).select(
        "n_rows", "n_doc_ids", "n_texts", "n_rows_with_dup_id"
    )


D15C_SQL = """
WITH m AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM documents GROUP BY doc_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
       (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents)
         AS n_doc_ids,
       (SELECT CAST(count(DISTINCT md5(coalesce(text, ''))) AS BIGINT)
        FROM documents) AS n_texts,
       (SELECT CAST(coalesce(sum(CASE WHEN m > 1 THEN m ELSE 0 END), 0)
                    AS BIGINT) FROM m) AS n_rows_with_dup_id
"""


# ---------------------------------------------------------------------------
# d17 — incremental dedup: new arrivals vs. the existing corpus index
# ---------------------------------------------------------------------------

#: docs with doc_id % ARRIVAL_MOD == 0 play the "arriving batch"; the rest
#: are the already-indexed corpus
ARRIVAL_MOD = 5


def d17_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-index) near-dup detection — the PRODUCTION
    dedup mode: a small arriving batch (here docs with
    ``doc_id % 5 == 0``) is checked against the existing corpus index
    WITHOUT re-pairing the index against itself. Every arrival reports
    whether it duplicates an indexed doc, which one (best Jaccard, ties
    to the lowest index id), and the score; non-dup arrivals pass
    through with NULLs — the rows a nightly ingest would append.

    Scale shape: the asymmetry is the point — candidates are an
    equi-join of the ARRIVAL band rows (small: one day's crawl) against
    the INDEX band rows on (band, sig), so cost is |arrivals| × bucket
    occupancy, never |index|²; at 100 TB the index side is the
    checkpointed signature table (see ``_hashed_shingles``) read back
    bucketed on (band, sig), making the probe a co-located storage join,
    and a small-enough batch broadcasts. In-session the verified-pair
    memo IS that probe, already materialized: an arrival×index candidate
    is exactly a ``_cand_pairs`` row where exactly one side is an
    arrival (membership in both sets is "the two docs share a capped
    (band, sig) bucket", and arrival/index split the corpus), and the
    Jaccard + threshold is the memoized verify (``j`` pinned bit-exact
    to the spelled-out ``jaccard_spark`` by
    ``test_scored_pairs_memo_values_and_reuse``). So d17 is a filter +
    re-orientation of ``_verified_pairs`` — the band self-join and the
    per-pair set arithmetic never re-run (r11; guide §2.1)."""
    from pyspark.sql.window import Window

    vp = _verified_pairs(spark, sf_dir)
    is_arr_a = F.col("doc_a") % ARRIVAL_MOD == 0
    is_arr_b = F.col("doc_b") % ARRIVAL_MOD == 0
    scored = (
        vp.filter(is_arr_a & ~is_arr_b)
        .select(
            F.col("doc_a").alias("arrival_id"),
            F.col("doc_b").alias("index_id"),
            "jaccard",
        )
        .unionByName(
            vp.filter(is_arr_b & ~is_arr_a).select(
                F.col("doc_b").alias("arrival_id"),
                F.col("doc_a").alias("index_id"),
                "jaccard",
            )
        )
    )
    w = Window.partitionBy("arrival_id").orderBy(
        F.desc("jaccard"), F.asc("index_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("arrival_id", "index_id", "jaccard")
    )
    arrivals = (
        load_table(spark, sf_dir, "documents")
        .filter(F.expr(f"doc_id % {ARRIVAL_MOD} = 0"))
        .select("doc_id")
    )
    return (
        arrivals.join(best, arrivals.doc_id == best.arrival_id, "left")
        .select(
            "doc_id",
            F.expr("index_id IS NOT NULL").alias("is_dup"),
            F.col("index_id").alias("dup_of"),
            F.col("jaccard").alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )


def _d17_sql() -> str:
    return f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS arrival_id, b.doc_id AS index_id
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id % {ARRIVAL_MOD} = 0 AND b.doc_id % {ARRIVAL_MOD} != 0
),
scored AS (
  SELECT arrival_id, index_id, {tf.jaccard_duck("da.hs", "db.hs")} AS jaccard
  FROM cand JOIN docs da ON arrival_id = da.doc_id
            JOIN docs db ON index_id = db.doc_id
),
best AS (
  SELECT arrival_id, index_id, jaccard,
         row_number() OVER (PARTITION BY arrival_id
                            ORDER BY jaccard DESC, index_id ASC) AS rn
  FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id,
       b.index_id IS NOT NULL AS is_dup,
       b.index_id AS dup_of,
       b.jaccard AS best_jaccard
FROM documents d
LEFT JOIN best b ON d.doc_id = b.arrival_id AND b.rn = 1
WHERE d.doc_id % {ARRIVAL_MOD} = 0
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# d18 — near-dup graph triangle census (cluster cohesion audit)
# ---------------------------------------------------------------------------

def d18_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural audit of the verified near-dup graph: edge count, wedge
    count (open 2-paths), triangle count, and the global clustering
    coefficient 3·triangles/wedges. TRUE duplicate clusters are
    near-cliques (every member pairwise-similar ⇒ coefficient → 1.0); a
    low coefficient means chains of borderline pairs — exactly the graphs
    where d09's transitive closure over-merges, so this single row is the
    go/no-go check before trusting cluster-level dedup decisions.

    Scale shape: the classic distributed triangle count — edges oriented
    low→high id (each triangle counted once), wedges from a self-join on
    the middle vertex, closed by a second equi-join against the edge
    list. Near-dup graphs are SPARSE (degree ≈ cluster size), so the
    wedge table is Σ deg² — bounded by the d03 bucket cap; AQE handles
    the residual skew. Edges come from the session-memoized verified-pair
    table; every count is an exact BIGINT and the coefficient one
    int/int IEEE division."""
    edges = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    closing = edges.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("c")
    )
    tri = wedges.join(closing, ["a", "c"])
    # wedge count = sum over vertices of deg·(deg−1)/2 (undirected degree)
    deg = (
        edges.select(F.col("doc_a").alias("v"))
        .unionAll(edges.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    # coalesce: on an edge-free graph (clean corpus) the degree table is
    # empty and sum() yields NULL — the count columns say 0, so must this
    stats = deg.groupBy().agg(
        F.expr(
            "CAST(coalesce(sum(deg * (deg - 1) DIV 2), 0) AS BIGINT)"
        ).alias("n_wedges")
    )
    counts = edges.groupBy().agg(F.count("*").alias("n_edges"))
    tri_count = tri.groupBy().agg(F.count("*").alias("n_triangles"))
    return (
        counts.crossJoin(F.broadcast(tri_count))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # 3·tri is exact BIGINT; ONE double division keeps the
            # coefficient bit-identical cross-engine (a decimal literal
            # like 3.0 would drag both engines into decimal arithmetic
            # with engine-specific scale rules)
            F.expr(
                "IF(n_wedges > 0, "
                "CAST(3 * n_triangles AS DOUBLE) / n_wedges, NULL)"
            ).alias("clustering_coeff"),
        )
    )


def _d18_sql() -> str:
    # reuse d04's verified-pair chain up to `scored`
    ctes = D04_SQL[: D04_SQL.rindex("SELECT doc_a, doc_b, jaccard")].strip().rstrip()
    return f"""
{ctes}
, edges AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: edges is referenced five times below
  -- and DuckDB inlines plain CTEs per reference, which would re-run the
  -- whole band+Jaccard chain each time (~200 s x 5 at sf0.1)
  SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
),
wedges AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM edges e1 JOIN edges e2 ON e1.doc_b = e2.doc_a
),
tri AS (
  SELECT w.a, w.b, w.c FROM wedges w JOIN edges e ON w.a = e.doc_a AND w.c = e.doc_b
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT doc_a AS v FROM edges UNION ALL SELECT doc_b FROM edges
  ) GROUP BY v
)
-- single-row aggregates computed ONCE each (a repeated subquery would
-- re-run the wedge/triangle joins per reference — plain CTEs inline)
SELECT ec.n_edges, wc.n_wedges, tc.n_triangles,
       CASE WHEN wc.n_wedges > 0
            THEN CAST(3 * tc.n_triangles AS DOUBLE) / wc.n_wedges
       END AS clustering_coeff
FROM (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges) ec,
     (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
        AS n_wedges FROM deg) wc,
     (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri) tc
"""


# ---------------------------------------------------------------------------
# d16 — soft dedup (cluster-size downweighting instead of dropping)
# ---------------------------------------------------------------------------

def d16_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of d10's hard keep-one-per-cluster decision,
    every document survives with sampling weight 1/|its near-dup cluster|
    — so each duplicate GROUP contributes exactly one document's worth of
    expected training mass (the "weight, don't drop" alternative
    discussed alongside SemDeDup-style pruning; hard dedup is the
    MAX_EPOCHS→0 special case). Downstream, c10's weighted sampling
    consumes exactly this column shape.

    Scale shape: d09's connected components (served from the session's
    memoized signature chain — the d03→d04→d09 build runs once per
    sf_dir) + ONE added shuffle on cluster_id for the member count; the
    weight is a 1/int IEEE division. Emitting all docs keeps this a
    narrow projection of the cluster table — no quality join needed
    (d10 pays that; here weights are quality-agnostic by design)."""
    from pyspark.sql.window import Window

    clusters = _cluster_labels(spark, sf_dir)
    return (
        clusters.withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .select(
            "doc_id",
            "cluster_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.expr("CAST(1 AS DOUBLE) / n_members").alias("weight"),
        )
        .orderBy("doc_id")
    )


def _d16_sql() -> str:
    # share d09's CTE chain up to the recursive `reach`
    ctes = D09_SQL[: D09_SQL.rindex("SELECT doc AS doc_id")].strip().rstrip()
    return f"""
{ctes}
, clusters AS (
  SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
       CAST(1 AS DOUBLE) / count(*) OVER (PARTITION BY cluster_id) AS weight
FROM clusters
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d19 — LSH operating-point tuning curve (banding audit over live signatures)
# ---------------------------------------------------------------------------

#: (bands, rows) partitions of the NBANDS*NROWS = 32 MinHash functions a
#: production index could run at. Band i of config (b, r) uses hash
#: functions [i*r, (i+1)*r) — the same indexing band_signature uses — so
#: every config is derivable from the ONE memoized signature table.
TUNING_CONFIGS = ((32, 1), (16, 2), (8, 4), (4, 8), (2, 16))


def _est_recall(b: int, r: int, j: float = JACCARD_THRESHOLD) -> float:
    """1-(1-j^r)^b — the S-curve recall at the Jaccard threshold.
    Computed driver-side and injected as the SAME literal into both
    engines: it depends only on (b, r), and a pow() round-trip through
    two engines' float math is an avoidable hash-gate risk."""
    return round(1.0 - (1.0 - j**r) ** b, 6)


def d19_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuning: for each candidate (bands, rows) operating
    point, the bucket census the index would have on THIS corpus —
    bucket count, candidate-pair cost (sum over buckets of C(n,2), with
    the MAX_BAND_BUCKET degenerate cap applied exactly as d03 would),
    overflow-bucket count, and the analytic recall at the 0.8 Jaccard
    threshold. This is how a production pipeline picks (b, r): the
    S-curve gives recall, the live census gives cost — both from ONE
    pass over the already-memoized signature table (Leskovec et al.,
    "Mining of Massive Datasets" ch. 3 banding analysis).

    Scale shape: no corpus rescan — the signature memo is K=32 bigints
    per doc; each config is a posexplode of band digests plus a
    count-groupBy (map-side combinable, shuffles (band, sig, count)
    triples only). Candidate pairs are COUNTED from bucket sizes, never
    materialized — the audit costs O(docs·configs), not O(pairs).
    Reference has no index ops at all (new surface, SURVEY §7.2.7)."""
    mins = _signature_mins(spark, sf_dir)
    parts = []
    for b, r in TUNING_CONFIGS:
        sigs = ", ".join(
            "concat_ws('|', "
            + ", ".join(f"CAST(mh{i * r + j} AS STRING)" for j in range(r))
            + ")"
            for i in range(b)
        )
        buckets = mins.select(
            F.posexplode(F.expr(f"array({sigs})")).alias("band", "sig")
        ).groupBy("band", "sig").agg(F.count("*").alias("n"))
        parts.append(
            buckets.agg(
                F.count("*").alias("n_buckets"),
                F.coalesce(
                    F.sum(
                        F.expr(
                            f"IF(n <= {MAX_BAND_BUCKET}, n * (n - 1) DIV 2, 0)"
                        )
                    ),
                    F.lit(0),
                ).alias("n_candidate_pairs"),
                F.coalesce(
                    F.sum(F.expr(f"IF(n > {MAX_BAND_BUCKET}, 1, 0)")),
                    F.lit(0),
                ).alias("n_overflow_buckets"),
            ).select(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(r).cast("int").alias("n_rows"),
                "n_buckets",
                F.col("n_candidate_pairs").cast("bigint").alias("n_candidate_pairs"),
                F.col("n_overflow_buckets").cast("bigint").alias("n_overflow_buckets"),
                F.lit(_est_recall(b, r)).cast("double").alias("est_recall_at_08"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("n_rows")


def _d19_sql() -> str:
    selects = []
    for b, r in TUNING_CONFIGS:
        sigs = ", ".join(
            tf.band_signature_duck("hs", band, r) for band in range(b)
        )
        selects.append(f"""
SELECT {b} AS n_bands, {r} AS n_rows,
       count(*) AS n_buckets,
       CAST(coalesce(sum(CASE WHEN n <= {MAX_BAND_BUCKET}
                         THEN n * (n - 1) // 2 ELSE 0 END), 0) AS BIGINT)
           AS n_candidate_pairs,
       CAST(coalesce(sum(CASE WHEN n > {MAX_BAND_BUCKET} THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS n_overflow_buckets,
       CAST({_est_recall(b, r)} AS DOUBLE) AS est_recall_at_08
FROM (
  SELECT band, sig, count(*) AS n FROM (
    SELECT doc_id, band, sigarr[band + 1] AS sig FROM (
      SELECT doc_id, [{sigs}] AS sigarr FROM docs
    ), (SELECT unnest(range(0, {b})) AS band)
  ) GROUP BY band, sig
)""")
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS hs FROM {_CDOCS} documents)
{body}
ORDER BY n_rows
"""


# ---------------------------------------------------------------------------
# d20 — per-source duplicate-overlap census (where does redundancy come from)
# ---------------------------------------------------------------------------


def d20_source_dup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate provenance: for each ingest source, how much of it is
    duplicated anywhere in the corpus, and how much overlaps OTHER
    sources. Two different scrapes of the same sites show up as high
    ``cross_frac``; a source that re-serves its own pages shows high
    ``dup_frac`` with low ``cross_frac``. This is the census a pipeline
    runs before paying for a crawl refresh — d01/d02 say *what* to drop,
    this says *who keeps shipping it* (new surface, SURVEY §7.2.7; the
    reference has no per-source analytics at all).

    Scale shape: digests are d02's normalized md5, so the groupBy and the
    join-back exchange 16-byte digests, never text (the d-family rule,
    pinned in test_plan_shapes.py). Per-digest stats collapse to one row
    per distinct digest before rejoining; the final groupBy(source) is a
    20-row aggregate. Two digest shuffles + one tiny source shuffle, no
    pairing, no O(N²) anywhere. All outputs are BIGINTs or integer-ratio
    doubles — bit-identical across engines by construction."""
    digests = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.expr(f"md5(CAST({_NORM_S} AS BINARY))").alias("d"),
        )
    )
    per_digest = digests.groupBy("d").agg(
        F.count("*").alias("n_copies"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        digests.join(per_digest, "d")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("d").alias("n_distinct_digests"),
            F.sum(F.expr("IF(n_copies > 1, 1, 0)")).alias("n_dup_docs"),
            F.sum(F.expr("IF(n_sources > 1, 1, 0)")).alias("n_cross_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct_digests",
            "n_dup_docs",
            "n_cross_docs",
            F.expr("CAST(n_dup_docs AS DOUBLE) / n_docs").alias("dup_frac"),
            F.expr("CAST(n_cross_docs AS DOUBLE) / n_docs").alias(
                "cross_frac"
            ),
        )
        .orderBy("source")
    )


D20_SQL = f"""
WITH digests AS (
  SELECT doc_id, source, md5({_NORM_D}) AS d FROM documents
),
per_digest AS (
  SELECT d, count(*) AS n_copies, count(DISTINCT source) AS n_sources
  FROM digests GROUP BY d
)
SELECT g.source,
       count(*) AS n_docs,
       count(DISTINCT g.d) AS n_distinct_digests,
       CAST(sum(CASE WHEN p.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(sum(CASE WHEN p.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_docs,
       CAST(sum(CASE WHEN p.n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_frac,
       CAST(sum(CASE WHEN p.n_sources > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS cross_frac
FROM digests g JOIN per_digest p USING (d)
GROUP BY g.source ORDER BY g.source
"""


# ---------------------------------------------------------------------------
# d21 — shingle-novelty curve (marginal value of each additional document)
# ---------------------------------------------------------------------------


def d21_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty audit: for each document (in doc_id ingest
    order), the fraction of its distinct shingles whose FIRST owner is
    this document. A crawl whose late docs trend toward zero novelty has
    stopped paying for itself — this is the diminishing-returns curve a
    pipeline reads before buying more of the same source. Aggregated
    downstream (e.g. by doc_id decile) it is the "new bytes per added
    doc" report; m12 is the payload-block analogue (new surface, SURVEY
    §7.2.7).

    Scale shape: reuses the memoized hashed-shingle sets (the d03 chain
    root — no corpus re-shingle), explodes to (doc_id, h) and resolves
    first ownership with a min-aggregate on the 8-byte hash — exchanges
    carry (hash, doc_id) pairs only, never shingle text. A doc's novel
    count is the number of OWNER rows naming it, so it comes from a
    second (tiny, vocabulary-sized) aggregate over the owner table —
    the exploded table is never joined back (that join re-shuffled every
    (doc_id, h) row on h; r11 guide §2.4). Per-doc totals are size(sh)
    straight off the memo (sh is distinct by construction), so docs
    with zero novel shingles survive via the left join. Novelty is an
    integer ratio — bit-identical across engines."""
    hashed = _hashed_shingles(spark, sf_dir)
    ex = hashed.select("doc_id", F.explode("sh").alias("h"))
    owner = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = owner.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_novel")
    )
    # every doc has >= 1 shingle (shingles_spark pads empty docs to one
    # element), so the size filter only guards a hypothetical empty set —
    # the exploded path produced no row for those either
    sizes = hashed.select(
        "doc_id", F.expr("CAST(size(sh) AS BIGINT)").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    return (
        sizes.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty_frac",
            F.expr("CAST(n_novel AS DOUBLE) / n_shingles"),
        )
        .orderBy("doc_id")
    )


D21_SQL = f"""
WITH hs AS (
  SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents
),
ex AS MATERIALIZED (
  SELECT doc_id, unnest(sh) AS h FROM hs
),
owner AS (
  SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h
)
SELECT e.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN o.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN o.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS novelty_frac
FROM ex e JOIN owner o USING (h)
GROUP BY e.doc_id ORDER BY e.doc_id
"""


# ---------------------------------------------------------------------------
# d22 — per-source boilerplate-shingle census (template detection)
# ---------------------------------------------------------------------------

#: a shingle is boilerplate WITHIN a source when it appears in at least
#: 1/BOILER_DEN of the source's documents (integer test: DEN·docs_with ≥
#: n_docs) and in at least BOILER_MIN documents
BOILER_DEN = 4
BOILER_MIN = 2


def d22_boilerplate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection per ingest source: a shingle that
    appears in ≥ 25% of a source's documents is boilerplate (nav bars,
    footers, license headers — the crawl junk near-dup thresholds miss
    because each PAGE is unique while its FRAME repeats). Reports, per
    source, how much of its shingle mass is template — the signal that
    routes a source to a boilerplate-stripping pass before tokenization.
    Complements d20 (whole-doc duplicate census) at sub-document
    granularity. New surface, SURVEY §7.2.7.

    Scale shape: reuses the memoized hashed-shingle sets (the d03 chain
    root — no corpus re-shingle); the source label joins in on doc_id
    BEFORE the explode, so exchanges carry (source, 8-byte hash) pairs,
    never shingle text. Two map-side-combinable aggregates — (source, h)
    then source — and the boilerplate test is pure integer arithmetic;
    the one reported fraction is a single division of exact BIGINTs."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ex = (
        _hashed_shingles(spark, sf_dir)
        .join(src, "doc_id")
        .select("source", F.explode("sh").alias("h"))
    )
    n_docs = src.groupBy("source").agg(F.count("*").alias("n_docs"))
    per_sh = ex.groupBy("source", "h").agg(F.count("*").alias("docs_with"))
    return (
        per_sh.join(F.broadcast(n_docs), "source")
        .withColumn(
            "is_boiler",
            F.expr(
                f"{BOILER_DEN} * docs_with >= n_docs "
                f"AND docs_with >= {BOILER_MIN}"
            ),
        )
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.count("*").alias("n_distinct_shingles"),
            F.sum("docs_with").alias("n_occurrences"),
            F.sum(F.expr("IF(is_boiler, 1, 0)")).alias("n_boiler_shingles"),
            F.sum(F.expr("IF(is_boiler, docs_with, CAST(0 AS BIGINT))")).alias(
                "boiler_occurrences"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct_shingles",
            "n_occurrences",
            "n_boiler_shingles",
            "boiler_occurrences",
            F.expr(
                "CAST(boiler_occurrences AS DOUBLE) / n_occurrences"
            ).alias("boiler_frac"),
        )
        .orderBy("source")
    )


D22_SQL = f"""
WITH hs AS (
  SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents
),
ex AS MATERIALIZED (
  SELECT d.source, unnest(h.sh) AS h
  FROM hs h JOIN documents d USING (doc_id)
),
n_docs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
per_sh AS (
  SELECT source, h, CAST(count(*) AS BIGINT) AS docs_with
  FROM ex GROUP BY source, h
),
flagged AS (
  SELECT p.*, n.n_docs,
         {BOILER_DEN} * p.docs_with >= n.n_docs
           AND p.docs_with >= {BOILER_MIN} AS is_boiler
  FROM per_sh p JOIN n_docs n USING (source)
)
SELECT source, max(n_docs) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_distinct_shingles,
       CAST(sum(docs_with) AS BIGINT) AS n_occurrences,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_shingles,
       CAST(sum(CASE WHEN is_boiler THEN docs_with ELSE 0 END) AS BIGINT)
         AS boiler_occurrences,
       CAST(sum(CASE WHEN is_boiler THEN docs_with ELSE 0 END) AS DOUBLE)
         / sum(docs_with) AS boiler_frac
FROM flagged GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# d23 — integer fixed-point PageRank over the verified near-dup graph
# ---------------------------------------------------------------------------

#: fixed-point scale: ranks are integers in units of 1/PR_SCALE
PR_SCALE = 10**12
#: damping factor α = PR_ALPHA_NUM / PR_ALPHA_DEN, applied as exact
#: integer multiply-then-floor-divide
PR_ALPHA_NUM, PR_ALPHA_DEN = 85, 100
#: unrolled power iterations — centrality separation, not convergence,
#: is the goal (3 hops covers the diameter of near-dup blobs)
PR_ITERS = 3


def d23_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-hub centrality: PageRank over the undirected verified
    near-dup graph. High-rank nodes are the template hubs — the pages
    everything else is a variation OF — which is where a curation
    pipeline points a human (or picks the canonical doc) when a cluster
    is too big to eyeball. Complements d09 (which only labels components)
    with a within-component importance order. New surface, SURVEY §7.2.7.

    Determinism: float PageRank is an unordered sum — not reproducible
    across engines or even runs. Here ranks are FIXED-POINT INTEGERS
    (units of 1/PR_SCALE): each neighbor contribution is
    (α_num · (r // deg)) // α_den — exact integer ops — and integer
    addition is commutative-exact, so ANY aggregation order gives the
    same result. The oracle unrolls the same three iterations as chained
    CTEs. Overflow: Σ contributions per node ≤ deg·PR_SCALE; BIGINT
    holds deg up to ~9·10⁶, far above the bucket-capped candidate
    degree (MAX_BAND_BUCKET).

    Scale shape: reuses the memoized verified-pair chain (one build per
    dataset); the graph is the DUP population, not the corpus. Each of
    the PR_ITERS rounds is one bounded join+aggregate on (src, dst)
    edges — the d09 pattern (driver loop bounded by a constant, all data
    movement distributed)."""
    base = (PR_SCALE * (PR_ALPHA_DEN - PR_ALPHA_NUM)) // PR_ALPHA_DEN
    pairs = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # NOT persisted (r11 in-process A/B, 4 interleaved reps at sf0.1:
    # unpersisted med 4.17s vs sym/deg-persisted med 6.53s): sym and deg
    # are loop-invariant, but they are projections/one aggregate over the
    # already-persisted pair memo, and caching them replaces cheap
    # re-derivation with memory-store round-trips plus two extra
    # materialization barriers per entry — the d32 lesson again.
    sym = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    r = deg.select("src", F.lit(PR_SCALE).cast("bigint").alias("r"), "deg")
    for _ in range(PR_ITERS):
        contrib = r.select(
            "src",
            F.expr(
                f"({PR_ALPHA_NUM} * (r DIV deg)) DIV {PR_ALPHA_DEN}"
            ).alias("c"),
        )
        r = (
            sym.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
            .select(
                F.col("dst").alias("src"),
                F.expr(f"CAST({base} + in_sum AS BIGINT)").alias("r"),
            )
            .join(deg, "src")
        )
    return (
        r.select(
            F.col("src").alias("doc_id"),
            "deg",
            F.col("r").alias("pr_scaled"),
            F.expr(f"CAST(r AS DOUBLE) / {float(PR_SCALE)}").alias("pr"),
        )
        .orderBy("doc_id")
    )


def _d23_sql() -> str:
    # reuse d04's verified-pair chain up to `scored` (the d18 pattern)
    ctes = D04_SQL[: D04_SQL.rindex("SELECT doc_a, doc_b, jaccard")].strip().rstrip()
    base = (PR_SCALE * (PR_ALPHA_DEN - PR_ALPHA_NUM)) // PR_ALPHA_DEN
    step = (
        "SELECT s.dst AS v, CAST({base} + sum(({an} * (p.r // p.deg)) "
        "// {ad}) AS BIGINT) AS r FROM sym s JOIN {prev} p ON s.src = p.v "
        "GROUP BY s.dst"
    )
    its = []
    for i in range(1, PR_ITERS + 1):
        body = step.format(
            base=base, an=PR_ALPHA_NUM, ad=PR_ALPHA_DEN, prev=f"pr{i - 1}"
        )
        its.append(
            f"pr{i} AS (SELECT t.v, t.r, d.deg FROM ({body}) t "
            "JOIN deg d USING (v))"
        )
    chain = ",\n".join(its)
    return f"""
{ctes}
, edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
),
sym AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges
),
deg AS MATERIALIZED (
  SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
),
pr0 AS (
  SELECT v, CAST({PR_SCALE} AS BIGINT) AS r, deg FROM deg
),
{chain}
SELECT v AS doc_id, deg, r AS pr_scaled,
       CAST(r AS DOUBLE) / {float(PR_SCALE)} AS pr
FROM pr{PR_ITERS} ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d24 — exact-substring duplicated-span census (anchor n-grams → merged spans)
# ---------------------------------------------------------------------------

#: Anchor width in tokens: a duplicated span must share at least one full
#: 8-token window with another document to be detected — the positional
#: dual of d14's set-containment (here WHERE the overlap sits matters,
#: because coverage = merged interval length, not gram counts).
ANCHOR_W = 8


def d24_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document census of text covered by exact cross-document
    duplicated spans — the ExactSubstr dedup shape (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a token
    position is "covered" when it lies inside an 8-token anchor window
    whose content appears verbatim in at least one OTHER document;
    overlapping/abutting windows merge into spans, and the report is the
    merged coverage per doc (count + fraction), with anchor totals for
    calibration. Docs with no duplicated span report zeros. New surface
    beyond the reference (SURVEY §7.2.7); complements d14 (pairwise gram
    containment, no positions) and t09 (WITHIN-doc repetition).

    Scale shape: anchors reduce to md5 digests immediately — the
    duplicate test is one digest groupBy with ``min(doc_id) <>
    max(doc_id)`` (map-side combinable, no count-distinct); the join
    back to positions is digest-keyed and 1:1 per anchor row (the dup
    set is distinct digests, so no fan-out); the interval merge is a
    per-doc window over only the DUPLICATED positions (a tiny fraction
    of the corpus on healthy data). No exchange ever carries text wider
    than one 8-token gram's digest."""
    from pyspark.sql.window import Window

    base = (
        _docs_parallel(spark, sf_dir)
        .select("doc_id", F.expr(_NORM_S).alias("nrm"))
        .select("doc_id", F.expr(tf.tokens_spark("nrm")).alias("toks"))
        .select(
            "doc_id",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
            F.expr(tf.word_ngrams_spark("toks", ANCHOR_W)).alias("grams"),
        )
        # digest the anchors INSIDE the cached projection: the cache holds
        # 32-hex digests instead of raw 8-token gram text (far smaller),
        # and the md5 pass runs once even though the anchor table is
        # consumed twice below (dup test + position join) — r11 guide §2.3
        .select(
            "doc_id",
            "n_tokens",
            F.expr("CAST(size(grams) AS BIGINT)").alias("n_anchors"),
            F.expr("transform(grams, g -> md5(g))").alias("ds"),
        )
    )
    # read twice (anchor explode + per-doc totals): cache the digest arrays
    base = track(base.persist())
    anchors = base.select(
        "doc_id", F.posexplode("ds").alias("pos", "d")
    ).select("doc_id", (F.col("pos") + 1).alias("idx"), "d")
    dup_d = (
        anchors.groupBy("d")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("x"))
        .filter("x")
        .select("d")
    )
    dup_anchors = anchors.join(dup_d, "d").withColumn(
        "end_", F.col("idx") + F.lit(ANCHOR_W - 1)
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        dup_anchors.withColumn("pmax", F.max("end_").over(w_prev))
        .withColumn(
            "new_isl",
            F.expr("CASE WHEN pmax IS NULL OR idx > pmax THEN 1 ELSE 0 END"),
        )
        .withColumn("isl", F.sum("new_isl").over(w_run))
    )
    per_doc_cov = (
        spans.groupBy("doc_id", "isl")
        .agg(F.min("idx").alias("s"), F.max("end_").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("covered_tokens"),
        )
    )
    n_dup = dup_anchors.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_anchors")
    )
    return (
        base.select("doc_id", "n_tokens", "n_anchors")
        .join(n_dup, "doc_id", "left")
        .join(per_doc_cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_anchors",
            F.coalesce("n_dup_anchors", F.lit(0)).cast("bigint").alias(
                "n_dup_anchors"
            ),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
        )
        # normalized text of '' still tokenizes to [''] → n_tokens >= 1
        .withColumn(
            "dup_span_frac",
            F.expr("CAST(covered_tokens AS DOUBLE) / n_tokens"),
        )
        .orderBy("doc_id")
    )


def _d24_sql() -> str:
    toks = tf.tokens_duck(_NORM_D)
    grams = tf.word_ngrams_duck("toks", ANCHOR_W)
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS toks FROM documents
), base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, {grams} AS grams
  FROM toks
), anchors AS (
  SELECT doc_id, i AS idx, md5(list_extract(grams, CAST(i AS INTEGER))) AS d
  FROM base, LATERAL unnest(range(1, len(grams) + 1)) AS t(i)
), dupd AS (
  SELECT d FROM anchors GROUP BY d HAVING min(doc_id) <> max(doc_id)
), da AS (
  SELECT a.doc_id, a.idx, a.idx + {ANCHOR_W - 1} AS end_
  FROM anchors a JOIN dupd USING (d)
), isl AS (
  SELECT doc_id, idx, end_,
         CASE WHEN max(end_) OVER (PARTITION BY doc_id ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR idx > max(end_) OVER (PARTITION BY doc_id ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM da
), isl2 AS (
  SELECT doc_id, idx, end_,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY idx
           ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
), per_span AS (
  SELECT doc_id, g, min(idx) AS s, max(end_) AS e FROM isl2
  GROUP BY doc_id, g
), cov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens
  FROM per_span GROUP BY doc_id
), ndup AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_anchors FROM da
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, CAST(len(b.grams) AS BIGINT) AS n_anchors,
       CAST(coalesce(n.n_dup_anchors, 0) AS BIGINT) AS n_dup_anchors,
       CAST(coalesce(c.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / b.n_tokens
         AS dup_span_frac
FROM base b
LEFT JOIN ndup n USING (doc_id)
LEFT JOIN cov c USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d25 — LSH recall audit against exact all-pairs ground truth on a stratum
# ---------------------------------------------------------------------------

#: Audit-stratum floor modulus (small corpora sample at ~5%) ...
AUDIT_MOD = 20
#: ... and the ABSOLUTE size target that dominates at scale: the
#: effective modulus is max(AUDIT_MOD, ceil(N / AUDIT_TARGET)), so the
#: expected stratum stays ≤ ~AUDIT_TARGET docs however the corpus grows
#: — |stratum|² ground-truth work is genuinely fixed-cost, not a
#: corpus term. The 32-bit salted-md5 gate keeps membership
#: reproducible and selectivity meaningful up to mod ~4·10⁹
#: (corpora of ~2·10¹² docs at this target).
AUDIT_TARGET = 500


def d25_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH recall curve: exact all-pairs Jaccard over a
    hash-sampled document stratum is the ground truth; for each Jaccard
    ventile bucket (exact integer bucketing, ``(20·|∩|) DIV |∪|``), the
    fraction of truth pairs the banded-MinHash candidate stage actually
    surfaced. d13 audits the ESTIMATOR on pairs LSH found — conditioned
    on discovery, it cannot see a missed pair; this measures discovery
    itself (the 1−(1−j⁴)⁸ S-curve, empirically), which is the number a
    production pipeline must monitor to know its dedup is not silently
    under-recalling. New surface, SURVEY §7.2.7.

    Scale shape: the ONE deliberately quadratic operator in the repo —
    quadratic in the STRATUM, whose expected size is capped at
    AUDIT_TARGET by deriving the sampling modulus from the corpus count
    (see AUDIT_TARGET): |stratum|² work is fixed-cost, not a corpus
    term. The candidate side reuses the memoized band table; the recall
    join touches only stratum pairs."""
    hashed = _hashed_shingles(spark, sf_dir)
    mod = hashed.select(
        F.expr(
            f"greatest(CAST({AUDIT_MOD} AS BIGINT), "
            f"(count(*) + {AUDIT_TARGET - 1}) DIV {AUDIT_TARGET})"
        ).alias("m")
    )
    h32 = (
        "CAST(conv(substring(md5(concat('audit:', "
        "CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    # Per-doc distinct sets and their sizes are computed ONCE on the
    # (tiny) stratum, not once per pair: array_intersect already returns
    # duplicate-free output, and |A∪B| = |A|+|B|−|A∩B| over the distinct
    # sizes — both identities verified bit-exact against the old
    # per-pair array_distinct/array_union at sf0.01/sf0.1, so every
    # jac_bucket integer is unchanged while the quadratic stage does one
    # set op per pair instead of four.
    # persisted: both cartesian sides read the stratum, and Spark's
    # cartesian re-evaluates an unpersisted stream side once per build
    # partition — measured 11.4s -> 2.5s warm-solo from this persist
    # alone (the stratum is AUDIT_TARGET-capped rows, trivially small)
    stratum = track(
        hashed.crossJoin(F.broadcast(mod))
        .filter(F.expr(f"{h32} % m = 0"))
        .select(
            "doc_id",
            F.expr("array_distinct(sh)").alias("shd"),
            F.expr("CAST(size(array_distinct(sh)) AS BIGINT)").alias("nd"),
        )
        .persist()
    )
    truth = (
        stratum.alias("a")
        .crossJoin(stratum.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "CAST(size(array_intersect(a.shd, b.shd)) AS BIGINT)"
            ).alias("i"),
            F.expr("a.nd + b.nd").alias("ndsum"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "IF(ndsum - i = 0, CAST(20 AS BIGINT), "
                "(20 * i) DIV (ndsum - i))"
            ).alias("jac_bucket"),
        )
    )
    cand = _cand_pairs(spark, sf_dir).withColumn("hit", F.lit(1))
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy("jac_bucket")
        .agg(
            F.count("*").alias("n_truth"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "jac_bucket",
            F.expr("CAST(jac_bucket AS DOUBLE) / 20").alias("jac_lo"),
            "n_truth",
            "n_found",
            F.expr("CAST(n_found AS DOUBLE) / n_truth").alias("recall"),
        )
        .orderBy("jac_bucket")
    )


def _d25_sql() -> str:
    return f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents),
params AS (
  SELECT greatest(CAST({AUDIT_MOD} AS BIGINT),
         (CAST(count(*) AS BIGINT) + {AUDIT_TARGET - 1}) // {AUDIT_TARGET})
           AS m
  FROM (SELECT DISTINCT doc_id FROM documents)
),
stratum AS (
  SELECT doc_id, sh FROM sh, params
  WHERE CAST(concat('0x', substr(md5(concat('audit:',
          CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % m = 0
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(list_distinct(a.sh), list_distinct(b.sh)))
              AS BIGINT) AS i,
         CAST(len(list_distinct(a.sh || b.sh)) AS BIGINT) AS u
  FROM stratum a JOIN stratum b ON a.doc_id < b.doc_id
),
bucketed AS (
  SELECT doc_a, doc_b,
         CASE WHEN u = 0 THEN CAST(20 AS BIGINT)
              ELSE (20 * i) // u END AS jac_bucket
  FROM truth
),
agg AS (
  SELECT jac_bucket, CAST(count(*) AS BIGINT) AS n_truth,
         CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_found
  FROM bucketed t
  LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY jac_bucket
)
SELECT jac_bucket, CAST(jac_bucket AS DOUBLE) / 20 AS jac_lo,
       n_truth, n_found,
       CAST(n_found AS DOUBLE) / n_truth AS recall
FROM agg ORDER BY jac_bucket
"""


# ---------------------------------------------------------------------------
# d26 — duplicate-cluster size census (log2 histogram + dedup savings)
# ---------------------------------------------------------------------------


def d26_cluster_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-bucketed histogram of exact-duplicate cluster sizes with the
    storage the keep-lowest-doc_id policy (d01/d02) reclaims per bucket:
    for every bucket [2^b, 2^(b+1)) of copies-per-cluster, the cluster
    count, doc count, duplicate-doc count, total/duplicate chars, the
    corpus share, and the cumulative savings counted from the LARGEST
    clusters down — the "head of duplication" report dedup papers lead
    with, and the number that decides whether mass-dup spam (one huge
    bucket) or a long tail of pairs is paying for the dedup run. d20
    answers *who ships duplicates*; this answers *how duplication is
    distributed and what dropping it saves*. New surface, SURVEY §7.2.7
    (the reference has no dedup analytics at all).

    Determinism/portability: bucket = floor(log₂ n_copies) is computed
    as ``length(bin(n_copies)) - 1`` — pure integer/string arithmetic,
    identical in both engines (float log₂ can land on 2.999… for exact
    powers of two, and which side it rounds to is engine-dependent).
    The keeper's chars come from ``min_by(n_chars, doc_id)`` — doc_id is
    unique, so no tie exists. Cumulative sums use an explicit ROWS
    frame over the distinct-keyed bucket order; each frac is a single
    exact-BIGINT division (correctly rounded identically in IEEE).

    Scale shape: one digest shuffle (map-side partial agg on the 16-byte
    md5 — never text, the d-family rule), then a ≤63-row bucket
    aggregate; the corpus totals ride a broadcast 1-row crossJoin and
    the cumulative window sorts ≤63 rows on one task. No pairing, no
    O(N²), nothing driver-side."""
    digests = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr(f"md5(CAST({_NORM_S} AS BINARY))").alias("d"),
    )
    clusters = digests.groupBy("d").agg(
        F.count("*").alias("n_copies"),
        F.sum("n_chars").alias("chars_total"),
        F.expr("min_by(n_chars, doc_id)").alias("keeper_chars"),
    )
    totals = digests.agg(
        F.count("*").alias("corpus_docs"),
        F.sum("n_chars").cast("bigint").alias("corpus_chars"),
    )
    per_bucket = (
        clusters.select(
            F.expr("CAST(length(bin(n_copies)) - 1 AS INT)").alias("bucket"),
            "n_copies",
            "chars_total",
            F.expr("chars_total - keeper_chars").alias("chars_dup"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("n_copies").cast("bigint").alias("n_docs"),
            F.sum(F.expr("n_copies - 1")).cast("bigint").alias("n_dup_docs"),
            F.sum("chars_total").cast("bigint").alias("chars_total"),
            F.sum("chars_dup").cast("bigint").alias("chars_dup"),
        )
    )
    return (
        per_bucket.crossJoin(F.broadcast(totals))
        .selectExpr(
            "bucket",
            "shiftleft(CAST(1 AS BIGINT), bucket) AS copies_lo",
            "shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1 AS copies_hi",
            "n_clusters",
            "n_docs",
            "n_dup_docs",
            "chars_total",
            "chars_dup",
            "CAST(n_docs AS DOUBLE) / corpus_docs AS doc_frac",
            "CAST(chars_dup AS DOUBLE) / corpus_chars AS dup_char_frac",
            "sum(n_dup_docs) OVER (ORDER BY bucket DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS cum_dup_docs",
            "sum(chars_dup) OVER (ORDER BY bucket DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS cum_chars_dup",
        )
        .orderBy("bucket")
    )


D26_SQL = f"""
WITH digests AS (
  SELECT doc_id, n_chars, md5({_NORM_D}) AS d FROM documents
),
clusters AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_copies,
         CAST(sum(n_chars) AS BIGINT) AS chars_total,
         CAST(min_by(n_chars, doc_id) AS BIGINT) AS keeper_chars
  FROM digests GROUP BY d
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS corpus_docs,
         CAST(sum(n_chars) AS BIGINT) AS corpus_chars
  FROM digests
),
per_bucket AS (
  SELECT CAST(length(bin(n_copies)) - 1 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(n_copies) AS BIGINT) AS n_docs,
         CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_docs,
         CAST(sum(chars_total) AS BIGINT) AS chars_total,
         CAST(sum(chars_total - keeper_chars) AS BIGINT) AS chars_dup
  FROM clusters GROUP BY 1
)
SELECT b.bucket,
       CAST(1 AS BIGINT) << b.bucket AS copies_lo,
       (CAST(1 AS BIGINT) << (b.bucket + 1)) - 1 AS copies_hi,
       n_clusters, n_docs, n_dup_docs, chars_total, chars_dup,
       CAST(n_docs AS DOUBLE) / corpus_docs AS doc_frac,
       CAST(chars_dup AS DOUBLE) / corpus_chars AS dup_char_frac,
       CAST(sum(n_dup_docs) OVER (ORDER BY b.bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_dup_docs,
       CAST(sum(chars_dup) OVER (ORDER BY b.bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_chars_dup
FROM per_bucket b CROSS JOIN totals
ORDER BY b.bucket
"""


# ---------------------------------------------------------------------------
# d27 — Jaccard-threshold operating-point sweep (what would τ cost?)
# ---------------------------------------------------------------------------

#: candidate keep/drop thresholds priced by the sweep; parsed as DOUBLE
#: literals by both engines (e-notation) so every comparison uses the
#: identical IEEE value.
D27_THRESHOLDS = ("0.70e0", "0.75e0", "0.80e0", "0.85e0", "0.90e0")


def d27_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating-point sweep: for each candidate Jaccard threshold
    τ, the verified-pair count, the documents touched by any ≥τ pair,
    the documents the pairwise keep-lowest rule would drop, the drop
    fraction, and the surviving corpus size. d04 commits to ONE τ
    (0.8); this prices the alternatives BEFORE committing — the
    m17/c21 sweep-vs-operator pattern applied to the dedup knob every
    pipeline actually argues about (drop too little and near-dups
    survive training; drop too much and you pay recall for nothing).
    Thresholds below LSH's recall knee are priced against the SAME
    candidate set the production pipeline would see (the 1−(1−τ⁴)⁸
    S-curve d19/d25 audit), which is the honest comparison: the sweep
    answers "what does moving τ do to THIS index", not to an oracle
    with perfect recall. New surface, SURVEY §7.2.7.

    Determinism: the drop rule is the pairwise keep-lowest convention
    (doc_b of an ordered pair is droppable) — transitive-closure drops
    are d09/d10's job at the chosen τ; this sweep's counts are
    single-pass exact. Jaccard is the shared integer-cardinality ratio
    (one division), every τ a shared e-notation literal, all counts
    BIGINT, the final fracs single exact divisions.

    Scale shape: candidates re-derive from the memoized shingle/band
    tables (one shuffle over ~candidate pairs, never all-pairs, bucket
    cap inherited); the τ fan-out multiplies the CANDIDATE table
    (thousands of rows) by |thresholds|, not the corpus; both
    aggregates are map-side combinable on the 5-value τ key and the
    threshold dimension left-joins so every τ row survives an empty
    filter."""
    scored = _scored_pairs(spark, sf_dir).select("doc_a", "doc_b", "j")
    taulist = ", ".join(D27_THRESHOLDS)
    taus = spark.range(1).select(
        F.expr(f"explode(array({taulist}))").alias("tau")
    )
    fan = scored.select(
        "doc_a", "doc_b", "j", F.expr(f"explode(array({taulist}))").alias("tau")
    ).filter(F.expr("j >= tau"))
    pairs_agg = fan.groupBy("tau").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_droppable"),
    )
    docs_agg = (
        fan.select("tau", F.explode(F.expr("array(doc_a, doc_b)")).alias("doc"))
        .groupBy("tau")
        .agg(F.countDistinct("doc").alias("n_docs_in_pairs"))
    )
    totals = load_table(spark, sf_dir, "documents").agg(
        F.countDistinct("doc_id").alias("corpus_docs")
    )
    return (
        taus.join(pairs_agg, "tau", "left")
        .join(docs_agg, "tau", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_docs_in_pairs"),
            F.coalesce("n_droppable", F.lit(0))
            .cast("bigint")
            .alias("n_droppable"),
            F.expr(
                "CAST(coalesce(n_droppable, 0) AS DOUBLE) / nullif(corpus_docs, 0)"
            ).alias("drop_frac"),
            F.expr("corpus_docs - coalesce(n_droppable, 0)")
            .cast("bigint")
            .alias("survivors"),
        )
        .orderBy("tau")
    )


def _d27_sql() -> str:
    taulist = ", ".join(f"({t})" for t in D27_THRESHOLDS)
    return f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents),
scored AS (
  SELECT doc_a, doc_b, {tf.jaccard_duck("a.sh", "b.sh")} AS j
  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
            JOIN sh b ON b.doc_id = cand.doc_b
),
taus AS (SELECT tau FROM (VALUES {taulist}) t(tau)),
fan AS (
  SELECT tau, doc_a, doc_b FROM scored CROSS JOIN taus WHERE j >= tau
),
pa AS (
  SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT doc_b) AS BIGINT) AS n_droppable
  FROM fan GROUP BY tau
),
da AS (
  SELECT tau, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_in_pairs
  FROM (
    SELECT tau, doc_a AS doc FROM fan
    UNION ALL
    SELECT tau, doc_b AS doc FROM fan
  ) GROUP BY tau
),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS corpus_docs FROM documents)
SELECT t.tau,
       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(n_docs_in_pairs, 0) AS BIGINT) AS n_docs_in_pairs,
       CAST(coalesce(n_droppable, 0) AS BIGINT) AS n_droppable,
       CAST(coalesce(n_droppable, 0) AS DOUBLE) / corpus_docs AS drop_frac,
       CAST(corpus_docs - coalesce(n_droppable, 0) AS BIGINT) AS survivors
FROM taus t LEFT JOIN pa USING (tau) LEFT JOIN da USING (tau)
CROSS JOIN tot
ORDER BY t.tau
"""


# ---------------------------------------------------------------------------
# d28 — candidate-pair Jaccard histogram (LSH precision profile)
# ---------------------------------------------------------------------------

#: histogram resolution: bucket = (RES * |A∩B|) DIV |A∪B| — pure integer
#: math from the set sizes, so bucket boundaries are exact on both
#: engines (no float multiply/floor at the cut)
D28_RES = 20


def d28_candidate_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision profile of the LSH candidate stage: every banded
    candidate pair (UNfiltered — d04 only keeps the >= 0.8 survivors)
    scored with exact hashed-shingle Jaccard and bucketed into RES
    equal-width bins. The shape answers the tuning question d13/d19
    approach from the estimator side with ground truth from the verify
    side: how much of the candidate volume is junk the verify stage
    discards (low buckets = wasted verify compute -> raise rows-per-band),
    and how sharp is the cliff at the 0.8 operating point. New surface,
    SURVEY §7.2.7.

    Bucket index is (RES*|A∩B|) DIV |A∪B| from the INTEGER set sizes —
    no float multiply/floor at bin edges, so bin assignment is exact and
    engine-independent; the verified flag reuses the same double
    comparison d04 ships (bit-identical IEEE division on both engines).

    Scale shape: candidates come from the memoized capped band table
    (equi-join, MAX_BAND_BUCKET degenerate cap); the verify join carries
    the hashed integer shingle sets exactly like d04; the histogram is a
    RES+1-row map-side-combinable aggregate, and the share denominator is
    a broadcast 1-row total. Nothing new shuffles beyond the d04 chain —
    at 100 TB this rides the same checkpointed signature table."""
    scored = _scored_pairs(spark, sf_dir).select(
        F.col("i").alias("ni"), F.col("u").alias("nu"), "j"
    )
    hist = (
        scored.select(
            F.expr(f"CAST({D28_RES} * ni DIV nu AS BIGINT)").alias("bucket"),
            "j",
            F.expr(f"IF(j >= {JACCARD_THRESHOLD}, 1, 0)").alias("v"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("v").cast("bigint").alias("n_verified"),
            F.min("j").alias("min_jaccard"),
            F.max("j").alias("max_jaccard"),
        )
    )
    total = hist.agg(F.sum("n_pairs").alias("tot"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_pairs",
            "n_verified",
            F.expr("CAST(n_pairs AS DOUBLE) / tot").alias("pair_frac"),
            "min_jaccard",
            "max_jaccard",
        )
        .orderBy("bucket")
    )


D28_SQL = f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
scored AS (
  SELECT len(list_intersect(da.hs, db.hs)) AS ni,
         len(list_distinct(da.hs || db.hs)) AS nu,
         {tf.jaccard_duck("da.hs", "db.hs")} AS j
  FROM cand JOIN docs da ON doc_a = da.doc_id JOIN docs db ON doc_b = db.doc_id
),
hist AS (
  SELECT CAST({D28_RES} * ni // nu AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_verified,
         min(j) AS min_jaccard,
         max(j) AS max_jaccard
  FROM scored GROUP BY 1
)
SELECT bucket, n_pairs, n_verified,
       CAST(n_pairs AS DOUBLE) / (SELECT sum(n_pairs) FROM hist) AS pair_frac,
       min_jaccard, max_jaccard
FROM hist ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# d31 — containment-direction audit (subset duplication the Jaccard gate
# misses)
# ---------------------------------------------------------------------------

#: a pair whose smaller shingle set is >= this fraction inside the larger
#: one is containment-duplicated even when symmetric Jaccard is low
D31_CONTAIN_THRESHOLD = 0.9


def d31_containment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric duplication the symmetric verify discards: a story
    embedded in a modestly longer page has containment
    |A∩B|/min(|A|,|B|) ~ 1 but Jaccard |A∩B|/|A∪B| under d04's 0.8
    threshold, so the pair reaches candidacy and then dies at the
    verify — the duplicated content ships anyway. This audit re-scores
    every banded candidate with BOTH ratios and reports the
    containment-flagged pairs, marking which are ``subset_only``
    (containment >= 0.9 but Jaccard < 0.8 — the pairs d04 discards that
    a containment-aware keep rule would catch).

    Recall bound, stated honestly: candidates come from MinHash banding,
    whose per-band hit probability is jaccard^R — a SHORT doc buried in
    a much longer one dilutes Jaccard toward |A|/|B| and usually never
    bands at all. This operator audits the candidate set the pipeline
    already pays for; heavily diluted containment is d24's job (anchor
    n-grams index SPANS, immune to dilution) — the two are complements,
    pair-level ratios here, span-level evidence there.

    Determinism: both ratios are single IEEE divisions of exact integer
    set sizes; the flags are comparisons of those bit-identical doubles.

    Scale shape: identical to the d04/d28 verify ride — candidates from
    the memoized capped band table (equi-join, degenerate-bucket cap),
    hashed integer shingle sets joined per side, one output row per
    FLAGGED pair. Nothing new shuffles; at 100 TB this shares the
    checkpointed signature table with the whole d03-d29 family."""
    return (
        _scored_pairs(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("i").cast("bigint").alias("n_inter"),
            F.col("j").alias("jaccard"),
            F.expr("CAST(i AS DOUBLE) / least(n_a, n_b)").alias("containment"),
        )
        .filter(F.col("containment") >= D31_CONTAIN_THRESHOLD)
        .withColumn(
            "subset_only",
            F.expr(f"jaccard < {JACCARD_THRESHOLD}"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _d31_sql() -> str:
    return f"""
{_duck_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(da.hs) AS BIGINT) AS n_a,
         CAST(len(db.hs) AS BIGINT) AS n_b,
         CAST(len(list_intersect(da.hs, db.hs)) AS BIGINT) AS n_inter,
         {tf.jaccard_duck("da.hs", "db.hs")} AS jaccard,
         CAST(len(list_intersect(da.hs, db.hs)) AS DOUBLE)
           / least(len(da.hs), len(db.hs)) AS containment
  FROM cand JOIN docs da ON doc_a = da.doc_id JOIN docs db ON doc_b = db.doc_id
)
SELECT doc_a, doc_b, n_a, n_b, n_inter, jaccard, containment,
       jaccard < {JACCARD_THRESHOLD} AS subset_only
FROM scored
WHERE containment >= {D31_CONTAIN_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# d32 — cosine-threshold sweep for the embedding near-dup detector
# ---------------------------------------------------------------------------

#: candidate cosine thresholds swept around d07/d11's operating point
#: (0.35 on the synthetic embeddings; production text embeddings run
#: ~0.95+ — the GRID moves, the machinery doesn't). Shared e-notation
#: literals so both engines parse the identical double.
D32_THRESHOLDS = ("0.25e0", "0.30e0", "0.35e0", "0.40e0", "0.45e0")


def d32_cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d27's operating-point sweep applied to the OTHER detector: for
    each candidate cosine threshold, the verified-pair count, documents
    touched, pairwise keep-lowest droppables, drop fraction, and
    survivors — over the SAME sign-LSH bucket candidate set d07 verifies
    and d11's semantic dedup prunes from. Every lexical knob has its
    sweep (d19 banding, d27 Jaccard, c24 n-gram width, c25 quality);
    this closes the family: the embedding detector's threshold — the one
    SemDeDup-style pipelines argue about hardest, because cosine mass
    shifts with the embedding model — gets the same priced curve instead
    of a folklore constant.

    Determinism: cosine is the shared fixed-order fold (bit-identical);
    each tau is a shared e-notation literal; counts BIGINT; final fracs
    single divisions.

    Scale shape: candidates come from the sign-bucket equi-join (cost
    sum(|bucket|²), never corpus²); the tau fan-out multiplies the
    CANDIDATE table by |thresholds|, not the corpus; both aggregates
    map-side combine on the 5-value tau key; the threshold dimension
    left-joins so every tau row survives an empty filter."""
    from floorist_spark.operators.similarity import _sign_bucket_spark

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("q_emb"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("c_emb"), "bucket"
    )
    # NOT persisted: the scored table does feed two aggregates (the c24
    # double-consumer shape), but an in-process A/B measured the persist
    # variant SLOWER (2.3s -> 3.2s steady) — the bucket self-join +
    # cosine fold is cheaper than a persist round-trip at this size
    scored = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(tf.cosine_spark("q_emb", "c_emb")).alias("c"),
        )
    )
    taulist = ", ".join(D32_THRESHOLDS)
    taus = spark.range(1).select(
        F.expr(f"explode(array({taulist}))").alias("tau")
    )
    fan = scored.select(
        "vec_a", "vec_b", "c", F.expr(f"explode(array({taulist}))").alias("tau")
    ).filter(F.expr("c >= tau"))
    pairs_agg = fan.groupBy("tau").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("vec_b").alias("n_droppable"),
    )
    docs_agg = (
        fan.select("tau", F.explode(F.expr("array(vec_a, vec_b)")).alias("v"))
        .groupBy("tau")
        .agg(F.countDistinct("v").alias("n_vecs_in_pairs"))
    )
    totals = load_table(spark, sf_dir, "embeddings").agg(
        F.count("*").alias("corpus_vecs")
    )
    return (
        taus.join(pairs_agg, "tau", "left")
        .join(docs_agg, "tau", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_vecs_in_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_vecs_in_pairs"),
            F.coalesce("n_droppable", F.lit(0))
            .cast("bigint")
            .alias("n_droppable"),
            # empty-embeddings guard: the tau spine still emits 5 rows,
            # so the ratio needs the m08/m20 zero-denominator idiom
            F.expr(
                "CASE WHEN corpus_vecs = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE CAST(coalesce(n_droppable, 0) AS DOUBLE) "
                "/ corpus_vecs END"
            ).alias("drop_frac"),
            F.expr("corpus_vecs - coalesce(n_droppable, 0)")
            .cast("bigint")
            .alias("survivors"),
        )
        .orderBy("tau")
    )


def _d32_sql() -> str:
    from floorist_spark.operators.similarity import _sign_bucket_duck

    taulist = ", ".join(f"({t})" for t in D32_THRESHOLDS)
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {tf.cosine_duck("a.embedding", "b.embedding")} AS c
  FROM b a JOIN b b ON a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
taus AS (SELECT tau FROM (VALUES {taulist}) t(tau)),
fan AS (
  SELECT tau, vec_a, vec_b FROM scored CROSS JOIN taus WHERE c >= tau
),
pa AS (
  SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT vec_b) AS BIGINT) AS n_droppable
  FROM fan GROUP BY tau
),
da AS (
  SELECT tau, CAST(count(DISTINCT v) AS BIGINT) AS n_vecs_in_pairs
  FROM (SELECT tau, vec_a AS v FROM fan
        UNION ALL SELECT tau, vec_b FROM fan)
  GROUP BY tau
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS corpus_vecs FROM embeddings)
SELECT t.tau,
       coalesce(pa.n_pairs, 0) AS n_pairs,
       coalesce(da.n_vecs_in_pairs, 0) AS n_vecs_in_pairs,
       coalesce(pa.n_droppable, 0) AS n_droppable,
       CASE WHEN tot.corpus_vecs = 0 THEN NULL
            ELSE CAST(coalesce(pa.n_droppable, 0) AS DOUBLE)
                 / tot.corpus_vecs END AS drop_frac,
       tot.corpus_vecs - coalesce(pa.n_droppable, 0) AS survivors
FROM taus t
LEFT JOIN pa ON t.tau = pa.tau
LEFT JOIN da ON t.tau = da.tau
CROSS JOIN tot
ORDER BY t.tau
"""


# ---------------------------------------------------------------------------
# d29 — detector-agreement audit (MinHash-LSH vs SimHash ensemble)
# ---------------------------------------------------------------------------

def d29_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble audit of the two lexical near-dup detectors: the banded
    MinHash-LSH candidate set (d03) FULL OUTER the SimHash hamming<=3
    pair set (d06), every union pair verified with exact hashed-shingle
    Jaccard. Per agreement class (both / minhash_only / simhash_only):
    pair count, verified count, precision, and the Jaccard envelope —
    the evidence for whether running both detectors buys recall worth
    their cost, and which detector's unique finds are real (d12 merges
    the signals; this MEASURES them). New surface, SURVEY §7.2.7.

    Scale shape: both candidate sets are the existing bucket equi-joins
    (memoized bands; pigeonhole chunk join) — pair-set sized, never
    corpus². The full-outer join keys on (doc_a, doc_b) pair ids; the
    verify join carries hashed integer shingle sets exactly like d04;
    the rollup is a 3-row map-side-combinable aggregate. min/max bound
    the Jaccard envelope — no float mean, which would be
    partial-agg-order-dependent."""
    mh = d03_minhash_lsh_candidates(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_mh")
    )
    sh = d06_simhash_near_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_sh")
    )
    both = mh.join(sh, ["doc_a", "doc_b"], "full_outer").select(
        "doc_a",
        "doc_b",
        F.expr(
            "CASE WHEN in_mh IS NOT NULL AND in_sh IS NOT NULL THEN 'both' "
            "WHEN in_mh IS NOT NULL THEN 'minhash_only' "
            "ELSE 'simhash_only' END"
        ).alias("detector"),
    )
    hashed = _hashed_shingles(spark, sf_dir)
    scored = (
        both.join(hashed.alias("da"), F.col("doc_a") == F.col("da.doc_id"))
        .join(hashed.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "detector", F.expr(tf.jaccard_spark("da.sh", "db.sh")).alias("j")
        )
    )
    return (
        scored.groupBy("detector")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.expr(f"IF(j >= {JACCARD_THRESHOLD}, 1, 0)"))
            .cast("bigint")
            .alias("n_verified"),
            F.min("j").alias("min_jaccard"),
            F.max("j").alias("max_jaccard"),
        )
        .select(
            "detector",
            "n_pairs",
            "n_verified",
            F.expr("CAST(n_verified AS DOUBLE) / n_pairs").alias("precision"),
            "min_jaccard",
            "max_jaccard",
        )
        .orderBy("detector")
    )


def _d29_sql() -> str:
    return f"""
{_duck_bands()},
mh AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id
),
sh_pairs AS ({D06_SQL.replace("ORDER BY doc_a, doc_b", "")}),
merged AS (
  SELECT coalesce(m.doc_a, s.doc_a) AS doc_a,
         coalesce(m.doc_b, s.doc_b) AS doc_b,
         CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
              WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
              ELSE 'simhash_only' END AS detector
  FROM mh m FULL OUTER JOIN sh_pairs s
    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
),
scored AS (
  SELECT detector, {tf.jaccard_duck("da.hs", "db.hs")} AS j
  FROM merged JOIN docs da ON doc_a = da.doc_id JOIN docs db ON doc_b = db.doc_id
)
SELECT detector,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_verified,
       CAST(sum(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS precision,
       min(j) AS min_jaccard,
       max(j) AS max_jaccard
FROM scored GROUP BY detector ORDER BY detector
"""


# ---------------------------------------------------------------------------
# d30 — source-pair shingle similarity (corpus-level MinHash + exact audit)
# ---------------------------------------------------------------------------

def d30_source_pair_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level overlap matrix: estimated AND exact shingle-set
    Jaccard for every SOURCE pair — "how much of source B is already in
    source A" is the first question when a new crawl/dump is considered
    for the mixture (a near-1 pair means the new source adds mostly
    duplicate mass; c06/c16 weights assume sources are distinct). The
    MinHash estimate comes from per-source signatures built with the
    SAME 32 hash functions as the d03 doc-level family — min is
    associative, so a source's signature component i is just
    min(affine_i) over all its docs' shingle hashes: one
    map-side-combinable aggregate, no per-doc signatures needed. The
    exact Jaccard (feasible because |sources| is small; at 100 TB you'd
    keep the estimate and sample the audit) shares one distinct
    (source, digest) table for the intersection join and the per-source
    set sizes, and the output pins the estimator's absolute error —
    the d13 calibration story lifted to corpus granularity.

    Scale shape: shingle hashes come from the memoized d03 chain joined
    to the doc->source map (digest-only exchange); the signature table is
    |sources| x 32 ints, so the pair cross is trivially tiny; the exact
    intersection is a self-equi-join of the distinct (source, digest)
    table ON THE DIGEST — fanout per digest is bounded by |sources|,
    never |docs|. No corpus-wide window, no all-pairs over docs."""
    nsig = NBANDS * NROWS
    src_hashes = (
        _hashed_shingles(spark, sf_dir)
        .join(
            load_table(spark, sf_dir, "documents").select("doc_id", "source"),
            "doc_id",
        )
        .select("source", F.explode("sh").alias("h"))
    )
    from floorist_spark.operators._cache import track

    distinct_sh = track(src_hashes.distinct().persist())
    # min is invariant under duplicates, so the signature mins read the
    # persisted DISTINCT table instead of re-running the explode pass a
    # second time (one (source, h) scan per dataset, not two — r11)
    sigs = distinct_sh.groupBy("source").agg(
        *[
            F.expr(f"min({tf.affine_spark('h', i)})").alias(f"mh{i}")
            for i in range(nsig)
        ]
    )
    match_expr = " + ".join(
        f"IF(a.mh{i} = b.mh{i}, 1, 0)" for i in range(nsig)
    )
    est = (
        sigs.alias("a")
        # |sources|-row signature table: broadcast one side so the
        # non-equi pair cross plans as a nested-loop over K rows, not a
        # CartesianProduct (the s24 K-row join rule)
        .join(F.broadcast(sigs.alias("b")), F.expr("a.source < b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.expr(f"CAST({match_expr} AS INT)").alias("n_sig_match"),
        )
    )
    sizes = distinct_sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    inter = (
        distinct_sh.alias("x")
        .join(distinct_sh.alias("y"), F.expr("x.h = y.h AND x.source < y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        est.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("n_sh", "n_a")),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b")
                        .withColumnRenamed("n_sh", "n_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_sig_match",
            F.expr(f"CAST(n_sig_match AS DOUBLE) / {nsig}").alias("est_jaccard"),
            F.expr("coalesce(n_inter, CAST(0 AS BIGINT))").alias("n_inter"),
            F.expr(
                "CAST(coalesce(n_inter, CAST(0 AS BIGINT)) AS DOUBLE) "
                "/ (n_a + n_b - coalesce(n_inter, CAST(0 AS BIGINT)))"
            ).alias("exact_jaccard"),
            F.expr(
                f"abs(CAST(n_sig_match AS DOUBLE) / {nsig} - "
                "CAST(coalesce(n_inter, CAST(0 AS BIGINT)) AS DOUBLE) "
                "/ (n_a + n_b - coalesce(n_inter, CAST(0 AS BIGINT))))"
            ).alias("abs_err"),
        )
        .orderBy("source_a", "source_b")
    )


def _d30_sql() -> str:
    nsig = NBANDS * NROWS
    # affine mins over the exploded hashes — the same (a, b) coefficients
    # as affine_spark, as plain aggregate SQL (minhash_duck's per-list
    # form doesn't fit a GROUP BY over exploded rows)
    mins = ",\n         ".join(
        "min(({a} * h + {b}) % {m}) AS mh{i}".format(
            a=tf._affine_coef(i)[0], b=tf._affine_coef(i)[1],
            m=tf.MERSENNE31, i=i,
        )
        for i in range(nsig)
    )
    match_expr = " + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(nsig))
    return f"""
WITH sh AS (
  SELECT doc_id, {tf.hashes_duck(_SHINGLES_D)} AS sh FROM {_CDOCS} documents
), ex AS (
  SELECT d.source, t.h
  FROM sh JOIN documents d USING (doc_id), LATERAL unnest(sh.sh) AS t(h)
), sigs AS (
  SELECT source,
         {mins}
  FROM ex GROUP BY source
), dist AS (
  SELECT DISTINCT source, h FROM ex
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM dist GROUP BY source
), inter AS (
  SELECT x.source AS source_a, y.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM dist x JOIN dist y ON x.h = y.h AND x.source < y.source
  GROUP BY x.source, y.source
), est AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST({match_expr} AS INTEGER) AS n_sig_match
  FROM sigs a JOIN sigs b ON a.source < b.source
)
SELECT e.source_a, e.source_b, e.n_sig_match,
       CAST(e.n_sig_match AS DOUBLE) / {nsig} AS est_jaccard,
       coalesce(i.n_inter, 0) AS n_inter,
       CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS exact_jaccard,
       abs(CAST(e.n_sig_match AS DOUBLE) / {nsig} -
           CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))) AS abs_err
FROM est e
LEFT JOIN inter i ON e.source_a = i.source_a AND e.source_b = i.source_b
JOIN sizes sa ON e.source_a = sa.source
JOIN sizes sb ON e.source_b = sb.source
ORDER BY e.source_a, e.source_b
"""


QUERIES = {
    "d01_exact_dedup": d01_exact_dedup,
    "d02_normalized_dedup": d02_normalized_dedup,
    "d03_minhash_lsh_candidates": d03_minhash_lsh_candidates,
    "d04_lsh_jaccard_dedup": d04_lsh_jaccard_dedup,
    "d05_simhash": d05_simhash,
    "d06_simhash_near_pairs": d06_simhash_near_pairs,
    "d07_embedding_neardup": d07_embedding_neardup,
    "d09_dedup_clusters": d09_dedup_clusters,
    "d10_curation_keep": d10_curation_keep,
    "d11_semantic_dedup": d11_semantic_dedup,
    "d12_crossmodal_neardup": d12_crossmodal_neardup,
    "d13_minhash_calibration": d13_minhash_calibration,
    "d14_ngram_containment": d14_ngram_containment,
    "d15_passage_dedup": d15_passage_dedup,
    "d15a_token_census": d15a_token_census,
    "d15b_norm_digest": d15b_norm_digest,
    "d15c_multiplicity_census": d15c_multiplicity_census,
    "d16_soft_dedup_weights": d16_soft_dedup_weights,
    "d17_incremental_dedup": d17_incremental_dedup,
    "d18_dup_graph_triangles": d18_dup_graph_triangles,
    "d19_lsh_tuning_curve": d19_lsh_tuning_curve,
    "d20_source_dup_overlap": d20_source_dup_overlap,
    "d21_shingle_novelty": d21_shingle_novelty,
    "d22_boilerplate_census": d22_boilerplate_census,
    "d23_dup_graph_pagerank": d23_dup_graph_pagerank,
    "d24_exact_substring_spans": d24_exact_substring_spans,
    "d25_lsh_recall_audit": d25_lsh_recall_audit,
    "d26_cluster_size_census": d26_cluster_size_census,
    "d27_threshold_sweep": d27_threshold_sweep,
    "d28_candidate_score_histogram": d28_candidate_score_histogram,
    "d29_detector_agreement": d29_detector_agreement,
    "d30_source_pair_similarity": d30_source_pair_similarity,
    "d31_containment_audit": d31_containment_audit,
    "d32_cosine_threshold_sweep": d32_cosine_threshold_sweep,
}

ORACLES = {
    "d01_exact_dedup": D01_SQL,
    "d02_normalized_dedup": D02_SQL,
    "d03_minhash_lsh_candidates": D03_SQL,
    "d04_lsh_jaccard_dedup": D04_SQL,
    "d05_simhash": D05_SQL,
    "d06_simhash_near_pairs": D06_SQL,
    "d07_embedding_neardup": _d07_sql(),
    "d09_dedup_clusters": D09_SQL,
    "d10_curation_keep": _d10_sql(),
    "d11_semantic_dedup": _d11_sql(),
    "d12_crossmodal_neardup": _d12_sql(),
    "d13_minhash_calibration": _d13_sql(),
    "d14_ngram_containment": _d14_sql(),
    "d15_passage_dedup": D15_SQL,
    "d15a_token_census": D15A_SQL,
    "d15b_norm_digest": D15B_SQL,
    "d15c_multiplicity_census": D15C_SQL,
    "d16_soft_dedup_weights": _d16_sql(),
    "d17_incremental_dedup": _d17_sql(),
    "d18_dup_graph_triangles": _d18_sql(),
    "d19_lsh_tuning_curve": _d19_sql(),
    "d20_source_dup_overlap": D20_SQL,
    "d21_shingle_novelty": D21_SQL,
    "d22_boilerplate_census": D22_SQL,
    "d23_dup_graph_pagerank": _d23_sql(),
    "d24_exact_substring_spans": _d24_sql(),
    "d25_lsh_recall_audit": _d25_sql(),
    "d26_cluster_size_census": D26_SQL,
    "d27_threshold_sweep": _d27_sql(),
    "d28_candidate_score_histogram": D28_SQL,
    "d29_detector_agreement": _d29_sql(),
    "d30_source_pair_similarity": _d30_sql(),
    "d31_containment_audit": _d31_sql(),
    "d32_cosine_threshold_sweep": _d32_sql(),
}
