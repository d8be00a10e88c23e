"""Text analysis over the ``documents`` table — token stats, quality
scoring, language-ID, fingerprinting, n-gram frequencies.

New surface beyond the reference (SURVEY §7.2.7). Every metric is built
from built-in string/array functions (JVM-side, codegen) — the rule of
this engine is that Python only enters via Arrow-batched pandas UDFs and
only when built-ins genuinely cannot express the op (here they can). Float
outputs are integer-ratio divisions, so they are bit-identical to the
DuckDB oracles.

Scale: every query is a single narrow scan + projection (no shuffle except
final sorts / the n-gram aggregation, which partial-aggregates map-side).
At 100 TB these are the cheapest possible shapes — embarrassingly parallel
per-document transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from floorist_spark.functions import textfrag as tf
from floorist_spark.operators._canon import CANON_DOCS_D as _CDOCS
from floorist_spark.session import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan fanned out to session parallelism — the one-file
    testdata scan would otherwise run every per-row transform on a single
    core (no-op-sized rebalance on a real multi-split input)."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


_NORM_S = tf.norm_spark("text")
_NORM_D = tf.norm_duck("text")
_TOK_S = tf.tokens_spark(_NORM_S)
_TOK_D = tf.tokens_duck(_NORM_D)

#: Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
#: Deliberately minimal — the operator demonstrates the scoring mechanics;
#: production swaps in real lists (same plan shape).
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "los", "las", "y", "es", "un"),
}
#: languages in deterministic tie-break priority (argmax order)
LANG_PRIORITY = ("en", "de", "fr", "es")


def _hits_spark(tokens: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"aggregate({tokens}, 0, (a, t) -> a + IF(t IN ({lst}), 1, 0))"


def _hits_duck(tokens: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(list_sum(list_transform({tokens}, t -> "
        f"CASE WHEN t IN ({lst}) THEN 1 ELSE 0 END)) AS INTEGER)"
    )


# ---------------------------------------------------------------------------
# t01 — token / length statistics
# ---------------------------------------------------------------------------

def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + a BPE-ish sub-token count (word chunks of
    <=4 chars — the cheap proxy for byte-pair units; a real BPE vocab would
    be a broadcast map lookup with the identical plan shape)."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"size({_TOK_S})").alias("n_tokens"),
            F.expr(f"length({_NORM_S})").alias("n_chars_norm"),
            F.expr(
                f"aggregate({_TOK_S}, 0, (a, t) -> a + CAST(ceil(length(t) / 4.0) AS INT))"
            ).alias("n_subtokens"),
            F.expr(
                f"CAST(aggregate({_TOK_S}, 0, (a, t) -> a + length(t)) AS DOUBLE)"
                f" / size({_TOK_S})"
            ).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


T01_SQL = f"""
SELECT doc_id,
  CAST(len({_TOK_D}) AS INTEGER) AS n_tokens,
  CAST(length({_NORM_D}) AS INTEGER) AS n_chars_norm,
  CAST(list_sum(list_transform({_TOK_D}, t -> CAST(ceil(length(t) / 4.0) AS INTEGER)))
       AS INTEGER) AS n_subtokens,
  CAST(list_sum(list_transform({_TOK_D}, t -> length(t))) AS DOUBLE)
    / len({_TOK_D}) AS avg_token_len
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t02 — quality scoring
# ---------------------------------------------------------------------------

def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: stopword ratio, mean token length,
    length band, and a blended score. All ratios are int/int divisions —
    deterministic doubles."""
    en = LANG_STOPWORDS["en"]
    stop_ratio_s = f"CAST({_hits_spark(_TOK_S, en)} AS DOUBLE) / size({_TOK_S})"
    len_score_s = f"least(CAST(length({_NORM_S}) AS DOUBLE) / 400.0, CAST(1.0 AS DOUBLE))"
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(stop_ratio_s).alias("stopword_ratio"),
            F.expr(len_score_s).alias("length_score"),
            F.expr(
                f"CAST(0.5 AS DOUBLE) * ({len_score_s}) + CAST(0.5 AS DOUBLE) * ({stop_ratio_s})"
            ).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


def quality_score_expr() -> str:
    """t02's blended score as a reusable Spark SQL expression — shared
    with d10's keep decision so the quality definition lives once."""
    en = LANG_STOPWORDS["en"]
    stop_ratio_s = f"CAST({_hits_spark(_TOK_S, en)} AS DOUBLE) / size({_TOK_S})"
    len_score_s = (
        f"least(CAST(length({_NORM_S}) AS DOUBLE) / 400.0, CAST(1.0 AS DOUBLE))"
    )
    return (
        f"CAST(0.5 AS DOUBLE) * ({len_score_s}) "
        f"+ CAST(0.5 AS DOUBLE) * ({stop_ratio_s})"
    )


_STOP_RATIO_D = f"({_hits_duck(_TOK_D, LANG_STOPWORDS['en'])})::DOUBLE / len({_TOK_D})"
_LEN_SCORE_D = f"least(length({_NORM_D})::DOUBLE / 400.0, 1.0::DOUBLE)"

T02_SQL = f"""
SELECT doc_id,
  {_STOP_RATIO_D} AS stopword_ratio,
  {_LEN_SCORE_D} AS length_score,
  0.5::DOUBLE * ({_LEN_SCORE_D}) + 0.5::DOUBLE * ({_STOP_RATIO_D}) AS quality_score
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t03 — language identification (stopword-hit heuristic)
# ---------------------------------------------------------------------------

def t03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword hits with deterministic argmax (priority
    order breaks ties). The synthetic corpus is English-ish for all lang
    labels, so the interesting output is the scores being exactly
    reproducible — the mechanics, not the NLP."""
    score_exprs = {
        lang: _hits_spark(_TOK_S, words) for lang, words in LANG_STOPWORDS.items()
    }
    cases = " ".join(
        f"WHEN s_{lang} >= greatest({', '.join('s_' + o for o in LANG_PRIORITY)}) "
        f"THEN '{lang}'"
        for lang in LANG_PRIORITY
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            *[F.expr(e).alias(f"s_{lang}") for lang, e in score_exprs.items()],
        )
        .withColumn("predicted_lang", F.expr(f"CASE {cases} ELSE 'und' END"))
        .orderBy("doc_id")
    )


_DUCK_SCORES = {
    lang: _hits_duck(_TOK_D, words) for lang, words in LANG_STOPWORDS.items()
}
_DUCK_CASES = " ".join(
    f"WHEN ({_DUCK_SCORES[lang]}) >= greatest({', '.join(f'({_DUCK_SCORES[o]})' for o in LANG_PRIORITY)}) "
    f"THEN '{lang}'"
    for lang in LANG_PRIORITY
)

T03_SQL = f"""
SELECT doc_id, lang,
  {", ".join(f"({e}) AS s_{lang}" for lang, e in _DUCK_SCORES.items())},
  CASE {_DUCK_CASES} ELSE 'und' END AS predicted_lang
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t04 — document fingerprinting
# ---------------------------------------------------------------------------

def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of the normalized text (md5) plus a short prefix
    for cheap equality partitioning — the join key a dedup pipeline ships
    between stages instead of the document body."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"md5(CAST({_NORM_S} AS BINARY))").alias("fingerprint"),
            F.expr(f"substring(md5(CAST({_NORM_S} AS BINARY)), 1, 8)").alias("fp_prefix"),
        )
        .orderBy("doc_id")
    )


T04_SQL = f"""
SELECT doc_id, md5({_NORM_D}) AS fingerprint, substr(md5({_NORM_D}), 1, 8) AS fp_prefix
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t05 — corpus-level n-gram frequencies
# ---------------------------------------------------------------------------

def t05_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the corpus: explode per-doc bigrams, hash
    aggregate (map-side partial — only distinct bigram partials shuffle),
    top-k via sort+limit (TakeOrderedAndProject)."""
    # zip tokens with their tail instead of indexing inside a lambda —
    # element_at({_TOK_S}, i) in a transform() re-splits the document per
    # bigram (lambda bodies get no subexpression elimination); zip_with
    # evaluates each argument once per row. The trailing (last, NULL) pair
    # concats to NULL and is filtered.
    bigram_arr = (
        f"filter(zip_with({_TOK_S}, slice({_TOK_S}, 2, size({_TOK_S})), "
        f"(a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)"
    )
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(bigram_arr)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


T05_SQL = f"""
WITH toks AS (SELECT {_TOK_D} AS tk FROM documents),
bigrams AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n FROM bigrams
GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
"""


# ---------------------------------------------------------------------------
# t06 — BPE-ish regex tokenization
# ---------------------------------------------------------------------------

#: GPT-2-style pre-tokenizer shape (contractions, letter runs, digit runs,
#: punctuation runs, each with optional leading space) — restricted to
#: syntax Java regex (Spark) and RE2 (DuckDB) treat identically.
BPE_PATTERN = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"


def t06_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pre-tokenization (the stage before a BPE merge table): count
    and distinct-count GPT-2-style pre-tokens per doc. regexp_extract_all
    is a single JVM-side pass per row — the merge-table lookup a real BPE
    adds is a broadcast map join over these tokens with the same plan
    shape."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(_NORM_S).alias("nrm"))
        .select(
            "doc_id",
            F.regexp_extract_all("nrm", F.lit(BPE_PATTERN), 0).alias("toks"),
        )
        .select(
            "doc_id",
            F.expr("size(toks)").alias("n_pretokens"),
            F.expr("size(array_distinct(toks))").alias("n_unique_pretokens"),
        )
        .orderBy("doc_id")
    )


_BPE_D = BPE_PATTERN.replace("'", "''")

T06_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all({_NORM_D}, '{_BPE_D}') AS toks FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS INTEGER) AS n_pretokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_pretokens
FROM toks ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t07 — corpus-relative token rarity (unigram-LM quality signal)
# ---------------------------------------------------------------------------

def t07_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-language-model quality signal without transcendentals: each
    document's mean corpus frequency of its tokens. Rare-token-heavy docs
    (gibberish, OCR noise) score low; template-heavy docs score high.

    Shape: one corpus-frequency aggregate (shuffle on token — at scale the
    frequency table is the broadcast side of the doc-token join), then a
    per-doc INTEGER sum of corpus counts with ONE final division — float
    order-sensitivity never enters, so the doubles are bit-identical to
    the oracle. (A log-prob variant would differ in last-ulp across libm
    implementations; the rational form is the cross-engine-safe signal.)

    The corpus-total token count is computed IN-PLAN from the frequency
    table (sum of cnt == total tokens) and joined in as a broadcast 1-row
    cross join — never as a driver-side ``count()`` action, which would
    make the catalog entry eager and pay a second scan+explode of the
    corpus before the real job even starts. The freq subtree feeds both
    the total and the join, and its shuffle exchange is reused
    (ReusedExchange in the executed plan), so the corpus is scanned only
    for toks + freq — the minimum this semantics admits."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(_TOK_S)).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total_tokens"))
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("sum_corpus_cnt"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "sum_corpus_cnt",
            F.expr(
                "CAST(sum_corpus_cnt AS DOUBLE) / (CAST(total_tokens AS DOUBLE) * n_tokens)"
            ).alias("mean_token_freq"),
        )
        .orderBy("doc_id")
    )


T07_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_D}) AS tok FROM documents
),
freq AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
),
total AS (SELECT count(*) AS n FROM toks)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(f.cnt) AS BIGINT) AS sum_corpus_cnt,
       CAST(sum(f.cnt) AS DOUBLE) / (CAST((SELECT n FROM total) AS DOUBLE) * count(*))
         AS mean_token_freq
FROM toks t JOIN freq f USING (tok)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# t08 — word-repetition quality signal (Gopher-style repetition filters)
# ---------------------------------------------------------------------------

def t08_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition features — the filters that catch boiler-
    plate and degenerate generations: fraction of duplicated words
    (1 - distinct/total) and the share of the single most frequent word.

    Shape: explode → two-stage aggregation ((doc_id, word) counts, then
    per-doc rollup) — both stages partial-aggregate map-side, the shuffle
    keys are bounded by the corpus vocabulary × docs. Fractions are single
    integer/integer divisions ⇒ bit-identical doubles."""
    wc = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(_TOK_S)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("cnt").alias("top_word_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_word_cnt",
            F.expr(
                "CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens"
            ).alias("dup_word_frac"),
            F.expr("CAST(top_word_cnt AS DOUBLE) / n_tokens").alias("top_word_frac"),
        )
        .orderBy("doc_id")
    )


T08_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_D}) AS tok FROM documents
), wc AS (
  SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
  CAST(sum(cnt) AS BIGINT) AS n_tokens,
  count(*) AS n_distinct,
  CAST(max(cnt) AS BIGINT) AS top_word_cnt,
  CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_word_frac,
  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_word_frac
FROM wc GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t09 — corpus-duplicated n-gram fraction (C4-style boilerplate signal)
# ---------------------------------------------------------------------------

def t09_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of distinct 5-word-grams that occur in at
    least one OTHER document — the cross-document boilerplate signal the
    C4/RefinedWeb line-dedup filters compute (the synthetic corpus has no
    newlines, so the span unit is the n-gram, not the line).

    Scale shape: the exploded n-gram table is hashed to md5 immediately, so
    every shuffle carries (doc_id, 32-byte digest) — never n-gram text.
    A doc's dup count is ``n_ngrams - (grams unique to it)``, and a gram
    with ndocs = 1 names its single owner in the same aggregate row
    (min(doc_id) IS the owner), so the per-gram counts collapse to a
    tiny per-owner aggregate joined onto the per-doc totals — the full
    (doc_id, digest) table is never joined back (that join re-shuffled
    every exploded row on the digest; r11 guide §2.4). Two digest/doc
    shuffles + one vocabulary-sized one; the exploded table is persisted
    so the corpus is scanned once (at 100 TB you would checkpoint it to
    storage instead — same plan, durable intermediate)."""
    from floorist_spark.operators._cache import track

    ng = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(_TOK_S).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({tf.word_ngrams_spark('toks', 5)})")
            ).alias("ng"),
        )
        .select("doc_id", F.expr("md5(ng)").alias("h"))
    )
    ng = track(ng.persist())
    uniq = (
        ng.groupBy("h")
        .agg(F.count("*").alias("ndocs"), F.min("doc_id").alias("owner"))
        .filter(F.col("ndocs") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count("*").alias("n_uniq"))
    )
    return (
        ng.groupBy("doc_id")
        .agg(F.count("*").alias("n_ngrams"))
        .join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            # n_dup = sum(IF(ndocs >= 2)) = n_ngrams - sum(IF(ndocs = 1)):
            # exact BIGINT arithmetic, so the rewrite is bit-identical
            F.expr(
                "CAST(n_ngrams - coalesce(n_uniq, CAST(0 AS BIGINT)) "
                "AS BIGINT)"
            ).alias("n_dup"),
        )
        .withColumn(
            "dup_ngram_frac", F.expr("CAST(n_dup AS DOUBLE) / n_ngrams")
        )
        .orderBy("doc_id")
    )


T09_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOK_D} AS toks FROM documents
), ng0 AS (
  SELECT doc_id, unnest(list_distinct({tf.word_ngrams_duck("toks", 5)})) AS g
  FROM tok
), ng AS (
  SELECT doc_id, md5(g) AS h FROM ng0
), counts AS (
  SELECT h, count(*) AS ndocs FROM ng GROUP BY h
)
SELECT n.doc_id,
  count(*) AS n_ngrams,
  CAST(sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS dup_ngram_frac
FROM ng n JOIN counts c ON n.h = c.h
GROUP BY n.doc_id ORDER BY n.doc_id
"""


# ---------------------------------------------------------------------------
# t10 — TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def t10_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP_K`` characteristic terms per document, ranked by
    ``tf * (N / df)``. The idf is the raw inverse document-frequency RATIO,
    not ``log(N/df)``: log is monotone, so the per-document ranking — the
    actual output — is IDENTICAL to log-idf ranking, while the score stays
    a bigint-product / bigint division (one correctly-rounded double op)
    and therefore bit-identical across engines; ``log`` carries no such
    IEEE-754 guarantee. Ties break on the term string ascending.

    Scale shape: explode tokens once → two hash aggregates with map-side
    combine (term frequency per (doc, term); document frequency per term —
    the df input is already one row per (doc, term), so no distinct-count
    state). The corpus size N is a 1-row aggregate cross-joined back
    (auto-broadcast). The tf←→df join shuffles on the term key — Zipf-skewed
    by nature; AQE skew-split bounds the hot stopword partitions (session
    default). Final per-doc top-k is a bounded row_number window after a
    shuffle on doc_id."""
    from floorist_spark.operators._cache import track

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(_TOK_S)).alias("term")
    )
    tf_tab = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # two consumers (the df aggregate + the scoring join): without the
    # cache Spark re-runs the whole tokenize/explode/agg subplan for each
    # (measured 11.2s -> ~6s at sf0.1)
    tf_tab = track(tf_tab.persist())
    df_tab = tf_tab.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf_tab.join(df_tab, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr("CAST(tf * n_docs AS DOUBLE) / df").alias("tfidf"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .orderBy("doc_id", "rank")
    )


T10_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_D}) AS term FROM documents
), tf_tab AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df_tab AS (
  SELECT term, count(*) AS df FROM tf_tab GROUP BY term
), scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf * (SELECT count(*) FROM documents) AS DOUBLE) / df AS tfidf
  FROM tf_tab JOIN df_tab USING (term)
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K} ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------------
# t11 — feature hashing (hashing-trick bag-of-words)
# ---------------------------------------------------------------------------

FEATURE_DIMS = 64


def t11_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): each token is
    hashed into one of 64 feature dimensions and counted — the vocabulary-
    free sparse vectorizer for linear quality classifiers / fastText-style
    filters over a corpus too large to build a vocabulary for. Output is
    the long form (doc_id, dim, weight): sparse, join-friendly, and the
    shape a downstream `pivot`/`applyInPandas` densifies per batch.

    Scale shape: explode tokens → md5 once per token occurrence →
    groupBy(doc_id, dim) count with map-side combine. No vocabulary
    broadcast, no global state of any kind — the hash IS the vocabulary,
    which is the whole point at 100 TB. The weight is log1p-free (raw
    counts) to keep cross-engine bit-parity trivial."""
    ex = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(_TOK_S)).alias("t")
    )
    return (
        ex.select(
            "doc_id",
            F.expr(f"pmod({tf.base_hash_spark('t')}, {FEATURE_DIMS})").alias("dim"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("weight"))
        .orderBy("doc_id", "dim")
    )


T11_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TOK_D}) AS t FROM documents
)
SELECT doc_id,
       {tf.base_hash_duck('t')} % {FEATURE_DIMS} AS dim,
       count(*) AS weight
FROM ex GROUP BY doc_id, dim ORDER BY doc_id, dim
"""


# ---------------------------------------------------------------------------
# t12 — add-one-smoothed bigram LM score (perplexity proxy)
# ---------------------------------------------------------------------------


def t12_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    classic KenLM-style quality signal (CCNet; Wenzek et al. 2020) with
    add-one smoothing: p(w2|w1) = (c(w1 w2)+1) / (c(w1 ·)+V), reported as
    the per-document average bigram probability (an LM-likelihood proxy
    that needs no transcendentals — log/exp implementations are not
    pinned cross-engine, single integer-derived IEEE divisions are).

    Scale shape: the LM "training" is ONE map-side-combined groupBy over
    exploded bigrams (model size = vocabulary-squared upper bound, MBs for
    real corpora vs TBs of text), broadcast back to the scoring pass; the
    CONTEXT counts c(w1 ·) come from re-aggregating the already-tiny
    bigram table — never a second corpus pass — and the tokenized corpus
    is persisted so the vocabulary count and the two bigram walks
    (training, scoring) share one scan+normalize. The per-doc reduction
    is one shuffle on doc_id. Scoring sums are position-ordered IEEE
    folds so the result is a pure function of the data, not partitioning
    (see s05's coordinate-mean note)."""
    from floorist_spark.operators._cache import track

    from floorist_spark.operators._canon import canonical_docs

    # identity-keyed: pos must be unique per doc_id or the ordered IEEE
    # fold (and the trained counts) become duplicate-ingest-dependent
    toks = track(
        canonical_docs(spark, sf_dir)
        .select("doc_id", F.expr(_TOK_S).alias("toks"))
        .persist()  # one scan feeds vocab + both bigram walks
    )
    bg = toks.select(
        "doc_id",
        F.posexplode(F.expr(tf.word_ngrams_spark("toks", 2))).alias("pos", "bg"),
    ).withColumn("w1", F.expr("split_part(bg, ' ', 1)"))
    cb = bg.groupBy("bg").agg(F.count("*").alias("cb"))
    cu = (
        cb.groupBy(F.expr("split_part(bg, ' ', 1)").alias("w1"))
        .agg(F.sum("cb").alias("cu"))
    )
    v = toks.select(F.explode("toks").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    scored = (
        bg.join(F.broadcast(cb), "bg")
        .join(F.broadcast(cu), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "pos",
            (
                (F.col("cb") + F.lit(1)).cast("double")
                / (F.col("cu") + F.col("v"))
            ).alias("p"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(pos, p))), "
                "s -> s.p), CAST(0 AS DOUBLE), (a, x) -> a + x) / COUNT(*)"
            ).alias("avg_p"),
        )
        .orderBy("doc_id")
    )


T12_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK_D} AS toks FROM {_CDOCS} documents
), b AS (
  SELECT doc_id, {tf.word_ngrams_duck('toks', 2)} AS bgs FROM toks
), e AS (
  SELECT doc_id, i AS pos, bgs[i::INT] AS bg,
         split_part(bgs[i::INT], ' ', 1) AS w1
  FROM b, LATERAL unnest(range(1, len(bgs) + 1)) AS t(i)
), cb AS (
  SELECT bg, count(*) AS cb FROM e GROUP BY bg
), cu AS (
  SELECT w1, count(*) AS cu FROM e GROUP BY w1
), v AS (
  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM toks)
), p AS (
  SELECT doc_id, pos, (cb.cb + 1)::DOUBLE / (cu.cu + v.v) AS p
  FROM e JOIN cb USING (bg) JOIN cu USING (w1) CROSS JOIN v
)
-- ORDER BY pos is key-complete: pos is the bigram position, unique per
-- doc_id (the documents table key)
SELECT doc_id, count(*) AS n_bigrams,
       list_reduce(list(p ORDER BY pos), (a, x) -> a + x) / count(*) AS avg_p
FROM p GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t13 — Gopher-style rule-based quality filter (composed keep decision)
# ---------------------------------------------------------------------------

#: rule thresholds (Rae et al. 2021 "Gopher" §A1.1 shape; word-count floor
#: lowered to fit the short synthetic docs — production swaps constants,
#: same plan)
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0
GOPHER_MIN_ALPHA = 0.8


def t13_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality filter à la Gopher/C4: word-count
    bounds, mean-word-length band, alphabetic-token fraction, and the
    composed ``keep`` decision — the cheap first gate a 100 TB corpus goes
    through before any model-based scoring (t02/t12 are the later,
    costlier stages; d-family dedup runs on what survives).

    Scale shape: a narrow per-row map over one scan — no shuffle, no
    state, embarrassingly parallel; the predicate columns are all
    integer counts and single int/int divisions (bit-identical doubles),
    and the flags are emitted as 0/1 INTs so the keep decision is a pure
    integer product. The token array is materialized ONCE per row before
    the lambda metrics read it (the [[spark-hof-lambda-recompute]] trap:
    an inlined split+normalize would re-run per element)."""
    base = _docs(spark, sf_dir).select("doc_id", F.expr(_TOK_S).alias("toks"))
    mwl = (
        "CAST(aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)"
        " AS DOUBLE) / size(toks)"
    )
    alpha = "CAST(size(filter(toks, t -> t rlike '[a-z]')) AS DOUBLE) / size(toks)"
    return (
        base.select(
            "doc_id",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_words"),
            F.expr(mwl).alias("mean_word_len"),
            F.expr(alpha).alias("alpha_frac"),
        )
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "alpha_frac",
            F.expr(
                f"CAST(n_words >= {GOPHER_MIN_WORDS} "
                f"AND n_words <= {GOPHER_MAX_WORDS} AS INT)"
            ).alias("pass_word_count"),
            F.expr(
                f"CAST(mean_word_len >= {GOPHER_MIN_MWL} "
                f"AND mean_word_len <= {GOPHER_MAX_MWL} AS INT)"
            ).alias("pass_mean_len"),
            F.expr(f"CAST(alpha_frac >= {GOPHER_MIN_ALPHA} AS INT)").alias(
                "pass_alpha"
            ),
        )
        .withColumn("keep", F.expr("pass_word_count * pass_mean_len * pass_alpha"))
        .orderBy("doc_id")
    )


T13_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK_D} AS toks FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
      AS mean_word_len,
    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
      / len(toks) AS alpha_frac
  FROM toks
)
SELECT doc_id, n_words, mean_word_len, alpha_frac,
  CAST(n_words >= {GOPHER_MIN_WORDS}
       AND n_words <= {GOPHER_MAX_WORDS} AS INT) AS pass_word_count,
  CAST(mean_word_len >= {GOPHER_MIN_MWL}
       AND mean_word_len <= {GOPHER_MAX_MWL} AS INT) AS pass_mean_len,
  CAST(alpha_frac >= {GOPHER_MIN_ALPHA} AS INT) AS pass_alpha,
  CAST(n_words >= {GOPHER_MIN_WORDS}
       AND n_words <= {GOPHER_MAX_WORDS} AS INT)
    * CAST(mean_word_len >= {GOPHER_MIN_MWL}
           AND mean_word_len <= {GOPHER_MAX_MWL} AS INT)
    * CAST(alpha_frac >= {GOPHER_MIN_ALPHA} AS INT) AS keep
FROM m ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t14 — language-ID confusion matrix (classifier QA audit)
# ---------------------------------------------------------------------------

def t14_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of t03's language predictions against the gold
    ``lang`` label, with per-gold-class totals and fractions — the QA
    audit a pipeline runs before trusting a classifier to route a 100 TB
    corpus (mirrors s09's recall-audit pattern: cheap heuristic, exact
    ground truth, measured disagreement).

    Scale shape: the per-doc prediction is t03's shuffle-free per-row
    map; the cell rollup is a map-side-combined aggregate whose output is
    bounded by |langs|² regardless of corpus size, and the per-gold
    totals are a window over those ≤36 cells — no second scan, no join.
    frac_of_gold is one int/int division (bit-identical double)."""
    from pyspark.sql.window import Window

    pred = t03_lang_id(spark, sf_dir).select("lang", "predicted_lang")
    w = Window.partitionBy("gold_lang")
    return (
        pred.groupBy(
            F.col("lang").alias("gold_lang"), F.col("predicted_lang")
        )
        .agg(F.count("*").alias("n_docs"))
        .withColumn("gold_total", F.sum("n_docs").over(w))
        .withColumn(
            "frac_of_gold", F.expr("CAST(n_docs AS DOUBLE) / gold_total")
        )
        .orderBy("gold_lang", "predicted_lang")
    )


T14_SQL = f"""
WITH pred AS (
  SELECT lang AS gold_lang, CASE {_DUCK_CASES} ELSE 'und' END AS predicted_lang
  FROM documents
), cells AS (
  SELECT gold_lang, predicted_lang, count(*) AS n_docs
  FROM pred GROUP BY gold_lang, predicted_lang
)
SELECT gold_lang, predicted_lang, n_docs,
       CAST(sum(n_docs) OVER (PARTITION BY gold_lang) AS BIGINT) AS gold_total,
       CAST(n_docs AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY gold_lang) AS BIGINT)
         AS frac_of_gold
FROM cells ORDER BY gold_lang, predicted_lang
"""


# ---------------------------------------------------------------------------
# t15 — BPE-style merge training (iterative pair counting)
# ---------------------------------------------------------------------------

#: merge rounds learned (production learns 10k-50k; each round has the
#: same plan, so the constant only scales the loop)
BPE_ROUNDS = 6
#: token alphabet admitted into merge candidates: corpus tokens are
#: normalized [a-z0-9]; '@' admits already-merged symbols so merges
#: compose hierarchically (the property that makes BPE BPE)
_BPE_TOKEN_RE = "^[a-z0-9@]+$"


def _bpe_pairs_spark() -> str:
    """Adjacent (a, b) symbol pairs of ``toks`` (empty for 1-token docs —
    the greatest+slice guard, shingles' trick)."""
    return (
        "slice(transform(sequence(1, greatest(size(toks) - 1, 1)), "
        "i -> struct(try_element_at(toks, i) AS a, "
        "try_element_at(toks, i + 1) AS b)), "
        "1, greatest(size(toks) - 1, 0))"
    )


def _bpe_apply_spark(a: str, b: str, merged: str) -> str:
    """One greedy leftmost merge pass over ``toks`` as a position-parallel
    map: position i is DROPPED when (i-1, i) matched, REWRITTEN to the
    merged symbol when (i, i+1) matches, kept otherwise. Greedy
    left-to-right and this simultaneous rule coincide because the trainer
    only learns a != b pairs (matches cannot overlap), which is what
    makes the application embarrassingly parallel instead of a
    sequential fold."""
    return (
        f"filter(transform(sequence(1, size(toks)), i -> "
        f"CASE WHEN i > 1 AND try_element_at(toks, greatest(i - 1, 1)) = '{a}' "
        f"AND try_element_at(toks, i) = '{b}' THEN CAST(NULL AS STRING) "
        f"WHEN try_element_at(toks, i) = '{a}' AND i < size(toks) "
        f"AND try_element_at(toks, i + 1) = '{b}' THEN '{merged}' "
        f"ELSE try_element_at(toks, i) END), x -> x IS NOT NULL)"
    )


def t15_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the top BPE_ROUNDS byte-pair-encoding merges over the
    whitespace-symbol corpus (Sennrich et al. 2016 — the tokenizer
    training step of every LLM data pipeline): per round, count adjacent
    symbol pairs, take the deterministic argmax (count DESC, then (a, b)
    lexicographic — rank ties never flake), rewrite the corpus with the
    merged symbol, repeat. Self-pairs (a == b) are excluded so the merge
    application is a position-parallel map (see ``_bpe_apply_spark``);
    merged symbols re-enter later rounds, so merges compose
    hierarchically.

    Scale shape: each round is ONE corpus pass — pair counts are a
    map-side-combined aggregate (the exchange carries distinct pairs,
    not positions) and the argmax is orderBy+limit(1), executed as a
    distributed TakeOrdered; the driver holds exactly one row per round
    (the d09 bounded-loop discipline). Merge application is a per-row
    map with the pair inlined as a literal — no join, no second shuffle.
    At 100 TB production counts pairs on a corpus SAMPLE and applies
    merges lazily at tokenization time; the plan per round is unchanged.
    Non-ASCII/quote symbols are excluded from candidates by
    ``_BPE_TOKEN_RE`` (also what keeps literal inlining injection-safe)."""
    from floorist_spark.operators._cache import track

    corpus = track(
        _docs(spark, sf_dir).select(F.expr(_TOK_S).alias("toks")).persist()
    )
    # peak cache = 2 corpus copies (current + its lineage parent), not
    # BPE_ROUNDS+1: once round r's pair-count pass has materialized
    # corpus r's cache, corpus r-1 is dead and freed here — at larger
    # scale factors 7 simultaneously-persisted corpus copies would spill
    prev = None
    rows: list[tuple] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        best = (
            corpus.select(F.explode(F.expr(_bpe_pairs_spark())).alias("p"))
            .select("p.a", "p.b")
            .filter(
                f"a != b AND a rlike '{_BPE_TOKEN_RE}' "
                f"AND b rlike '{_BPE_TOKEN_RE}'"
            )
            .groupBy("a", "b")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        # the collect above materialized `corpus`'s cache, so its parent
        # (read only through that cache from here on) can be released
        if prev is not None:
            prev.unpersist()
            prev = None
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merged = f"{a}@@{b}"
        rows.append((rnd, a, b, cnt, merged))
        new_corpus = track(
            corpus.select(
                F.expr(_bpe_apply_spark(a, b, merged)).alias("toks")
            ).persist()
        )
        prev, corpus = corpus, new_corpus
    return spark.createDataFrame(
        rows,
        "round BIGINT, tok_a STRING, tok_b STRING, "
        "pair_count BIGINT, merged STRING",
    ).orderBy("round")


def _t15_sql() -> str:
    """Unrolled oracle: one (pairs → argmax → rewrite) CTE stage per
    round; the 1-row best-pair table cross-joins into the rewrite so the
    lambda references plain columns."""
    stages = [f"c0 AS (SELECT {_TOK_D} AS toks FROM documents)"]
    selects = []
    for r in range(1, BPE_ROUNDS + 1):
        prev = f"c{r - 1}"
        stages.append(
            f"""p{r} AS (
  SELECT toks[i] AS a, toks[i + 1] AS b
  FROM (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i
        FROM {prev})
  WHERE toks[i] <> toks[i + 1]
    AND regexp_matches(toks[i], '{_BPE_TOKEN_RE}')
    AND regexp_matches(toks[i + 1], '{_BPE_TOKEN_RE}')
)"""
        )
        stages.append(
            f"b{r} AS (SELECT a, b, count(*) AS cnt FROM p{r} "
            f"GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        stages.append(
            f"""c{r} AS (
  SELECT list_filter(list_transform(range(1, len(toks) + 1), i ->
    CASE WHEN i > 1 AND toks[i - 1] = b{r}.a AND toks[i] = b{r}.b THEN NULL
         WHEN toks[i] = b{r}.a AND i < len(toks) AND toks[i + 1] = b{r}.b
           THEN b{r}.a || '@@' || b{r}.b
         ELSE toks[i] END), x -> x IS NOT NULL) AS toks
  FROM {prev}, b{r}
)"""
        )
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round, a AS tok_a, b AS tok_b, "
            f"cnt AS pair_count, a || '@@' || b AS merged FROM b{r}"
        )
    return (
        "WITH "
        + ",\n".join(stages)
        + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY round"
    )


T15_SQL = _t15_sql()


# ---------------------------------------------------------------------------
# t16 — Zipf-law frequency audit (corpus QA)
# ---------------------------------------------------------------------------

def t16_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head of the corpus frequency distribution with its Zipf product:
    top-50 tokens by count with rank, corpus share, and rank x count —
    the product Zipf's law predicts to be roughly constant. A head whose
    products swing wildly (or a top rank dominated by markup/boilerplate
    tokens) is the classic smell of a scraped corpus needing cleaning;
    this audit is the standard first look at any new crawl.

    Scale shape: explode -> map-side-combined token counts (vocabulary-
    sized output, not corpus-sized); the top-50 is orderBy+limit, which
    Spark executes as per-partition TakeOrdered + a 50-row driver merge —
    never a full sort. The rank window and the corpus-total broadcast
    then touch only 50 rows. All columns are exact integers except the
    int/int share division."""
    from pyspark.sql.window import Window

    counts = (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(_TOK_S)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.groupBy().agg(F.sum("cnt").alias("corpus_tokens"))
    top = counts.orderBy(F.desc("cnt"), "token").limit(50)
    w = Window.orderBy(F.desc("cnt"), "token")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "cnt",
            F.expr("CAST(rank * cnt AS BIGINT)").alias("zipf_product"),
            F.expr("CAST(cnt AS DOUBLE) / corpus_tokens").alias("share"),
        )
        .orderBy("rank")
    )


T16_SQL = f"""
WITH tok AS (
  SELECT UNNEST({_TOK_D}) AS token FROM documents
), counts AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
), total AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS corpus_tokens FROM counts
), top AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank
  FROM counts ORDER BY cnt DESC, token LIMIT 50
)
SELECT rank, token, cnt,
       CAST(rank * cnt AS BIGINT) AS zipf_product,
       CAST(cnt AS DOUBLE) / corpus_tokens AS share
FROM top, total
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# t17 — lexical diversity (type-token ratio + Simpson index)
# ---------------------------------------------------------------------------

def t17_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity quality signals: distinct-type
    count, type-token ratio, and the Simpson diversity index
    1 − Σ(cᵢ/n)² (probability two tokens drawn without replacement of
    position are different types) — the transcendental-free stand-in for
    token entropy (this catalog bans log/exp in gated outputs because
    libm last-ulp behavior is engine-dependent; Simpson is pure rational
    arithmetic and ranks repetitive/boilerplate docs the same way).

    Scale shape: ZERO shuffle — the per-document type histogram never
    materializes. Tokens are sorted per row and folded once: extending a
    run of length r to r+1 adds (r+1)²−r² = 2r+1 to Σc², so the fold
    carries only (prev token, run length, Σc², types) — O(1) state per
    document, all inside whole-stage codegen. At 100 TB this is an
    embarrassingly parallel scan; the explode→groupBy(doc, token)
    alternative would shuffle the entire tokenized corpus twice."""
    fold = (
        f"aggregate(array_sort({_TOK_S}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, "
        "             'sum2', 0L, 'types', 0L), "
        "(acc, t) -> IF(t = acc.prev, "
        "  named_struct('prev', t, 'run', acc.run + 1L, "
        "               'sum2', acc.sum2 + 2L * acc.run + 1L, "
        "               'types', acc.types), "
        "  named_struct('prev', t, 'run', 1L, "
        "               'sum2', acc.sum2 + 1L, 'types', acc.types + 1L)))"
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            # coalesce: NULL text → NULL token array → size/fold NULL;
            # the oracle's LEFT JOIN + coalesce reports 0 there, so must we
            F.expr(f"CAST(coalesce(size({_TOK_S}), 0) AS BIGINT)").alias(
                "n_tokens"
            ),
            F.expr(fold).alias("acc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("coalesce(acc.types, 0L)").alias("n_types"),
            # explicit empty-doc guard: divide-by-zero semantics differ
            # across engines (Spark NULL, DuckDB ieee inf), so neither is
            # allowed to reach the gate
            F.expr(
                "IF(n_tokens > 0, CAST(acc.types AS DOUBLE) / n_tokens, NULL)"
            ).alias("ttr"),
            F.expr(
                "IF(n_tokens > 0, "
                "1.0 - CAST(acc.sum2 AS DOUBLE) / (n_tokens * n_tokens), NULL)"
            ).alias("simpson"),
        )
        .orderBy("doc_id")
    )


#: oracle mirrors the SEMANTICS with the plain relational shape (unnest →
#: per-(doc, token) counts); only results must match, not plans
#: PER-ROW oracle: t17 scores each ingested row (the Spark side is a
#: zero-shuffle scan — per-row stats are pre-dedup quality signals), so
#: the oracle must NOT assume doc_id is unique. A GROUP BY doc_id here
#: silently pooled duplicated ids' tokens and disagreed with the per-row
#: engine on any re-ingested corpus (round-9 degenerate sweep). The
#: MATERIALIZED row key is evaluated once, so it is a stable join key
#: within the query; it never reaches the output.
T17_SQL = f"""
WITH rows AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, text FROM documents
), tok AS (
  SELECT _rid, unnest({_TOK_D}) AS token FROM rows
), hist AS (
  SELECT _rid, token, count(*) AS c FROM tok GROUP BY _rid, token
), agg AS (
  SELECT _rid,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * c) AS BIGINT) AS sum2
  FROM hist GROUP BY _rid
)
SELECT d.doc_id,
       coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       coalesce(a.n_types, CAST(0 AS BIGINT)) AS n_types,
       CASE WHEN a.n_tokens > 0
            THEN CAST(a.n_types AS DOUBLE) / a.n_tokens END AS ttr,
       CASE WHEN a.n_tokens > 0
            THEN 1.0 - CAST(a.sum2 AS DOUBLE) / (a.n_tokens * a.n_tokens)
       END AS simpson
FROM rows d LEFT JOIN agg a USING (_rid)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# t18 — PII scrub census (emails / IPv4 / long digit runs)
# ---------------------------------------------------------------------------

#: regexes shared verbatim by both engines (RE2 and Java regex agree on
#: this subset: char classes, bounded quantifiers, \b, \d). Injected via
#: the DataFrame API on the Spark side so SQL string-literal escaping
#: rules never touch the pattern text.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_LONGNUM_RE = r"\d{8,}"


def t18_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub census — the privacy pass every pretraining pipeline
    runs before release: count emails, IPv4 literals, and long digit runs
    (phone/account numbers) per document, and fingerprint the SCRUBBED
    text (each class replaced by a typed placeholder, applied in a fixed
    order so the digest is well-defined). Downstream consumers join on
    ``scrubbed_md5`` to verify the released corpus is exactly the
    scrubbed one — the audit trail regulators ask for.

    Scale shape: narrow per-row regex map over one scan — no shuffle, no
    state, embarrassingly parallel; counts come from
    ``regexp_extract_all`` lengths and the digest from three chained
    ``regexp_replace`` passes, all JVM-side (Java regex ≡ RE2 on this
    pattern subset, pinned by the planted-PII parity test in
    tests/test_new_ops_semantics.py)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(txt, F.lit(PII_EMAIL_RE), F.lit(0)))
            .cast("bigint")
            .alias("n_emails"),
            F.size(F.regexp_extract_all(txt, F.lit(PII_IPV4_RE), F.lit(0)))
            .cast("bigint")
            .alias("n_ipv4"),
            F.size(F.regexp_extract_all(txt, F.lit(PII_LONGNUM_RE), F.lit(0)))
            .cast("bigint")
            .alias("n_long_nums"),
            F.md5(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(txt, PII_EMAIL_RE, "<EMAIL>"),
                        PII_IPV4_RE,
                        "<IP>",
                    ),
                    PII_LONGNUM_RE,
                    "<NUM>",
                ).cast("binary")
            ).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


T18_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(coalesce(text, ''), '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(coalesce(text, ''), '{PII_IPV4_RE}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(coalesce(text, ''), '{PII_LONGNUM_RE}')) AS BIGINT) AS n_long_nums,
       md5(regexp_replace(regexp_replace(regexp_replace(coalesce(text, ''),
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_LONGNUM_RE}', '<NUM>', 'g')) AS scrubbed_md5
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t19 — distribution-divergence outliers (Bhattacharyya affinity to corpus)
# ---------------------------------------------------------------------------

#: Docs whose unigram distribution has Bhattacharyya affinity to the
#: corpus distribution below this are flagged (gibberish, OCR noise,
#: wrong-domain pages). Demonstration threshold — production tunes it
#: from the affinity histogram; the plan shape is identical.
OUTLIER_AFFINITY = 0.5


def t19_distribution_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-level outlier detection: Bhattacharyya affinity
    BC(doc, corpus) = Σ_t sqrt(p_doc(t)·p_corpus(t)) between each
    document's unigram distribution and the corpus distribution.
    Low-affinity docs are the ones a KL-divergence filter would flag —
    but BC uses only sqrt (IEEE correctly-rounded in both engines), where
    log differs in the last ulp across libm implementations, so this is
    the cross-engine-deterministic form of the same signal (the t07
    transcendental rule). Hellinger² = 1 − BC comes along for free.

    Scale shape: one corpus scan → (doc, tok) counts; corpus frequencies
    join in on the token key (shuffle here; at 100 TB the frequency table
    is the dictionary-sized broadcast side); the per-doc sum folds
    ``sqrt(c_d·c_c)`` terms SORTED BY TOKEN (float sums are
    partial-agg-order-dependent — the c06/c16 rule) and divides once by
    ``sqrt(n_doc·total)``. The BIGINT product c_d·c_c stays below 2⁵³
    for any corpus where a doc repeats a token ≤~1e3 times against a
    ≤~1e10-count corpus token — beyond that, pre-scale the counts."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(_TOK_S)).alias("tok")
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c_d"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c_c"))
    total = freq.agg(F.sum("c_c").alias("total_tokens"))
    return (
        doc_tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c_d").alias("n_tokens"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(tok, "
                "sqrt(CAST(c_d * c_c AS DOUBLE)) AS v))), "
                "CAST(0 AS DOUBLE), (a, x) -> a + x.v)"
            ).alias("bc_num"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.expr(
                "bc_num / sqrt(CAST(n_tokens AS DOUBLE) "
                "* CAST(total_tokens AS DOUBLE))"
            ).alias("bc_affinity"),
            F.expr(
                "1.0 - bc_num / sqrt(CAST(n_tokens AS DOUBLE) "
                "* CAST(total_tokens AS DOUBLE))"
            ).alias("hellinger_sq"),
            F.expr(
                "bc_num / sqrt(CAST(n_tokens AS DOUBLE) "
                f"* CAST(total_tokens AS DOUBLE)) < {OUTLIER_AFFINITY}"
            ).alias("is_outlier"),
        )
        .orderBy("doc_id")
    )


T19_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_D}) AS tok FROM documents
),
doc_tok AS (
  SELECT doc_id, tok, count(*) AS c_d FROM toks GROUP BY doc_id, tok
),
freq AS (
  SELECT tok, count(*) AS c_c FROM toks GROUP BY tok
),
total AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM toks),
per_doc AS (
  SELECT d.doc_id,
         CAST(sum(d.c_d) AS BIGINT) AS n_tokens,
         -- ORDER BY tok is key-complete: doc_tok is GROUP BY (doc_id, tok)
         list_reduce(list(sqrt(CAST(d.c_d * f.c_c AS DOUBLE)) ORDER BY d.tok),
                     (a, x) -> a + x) AS bc_num
  FROM doc_tok d JOIN freq f USING (tok)
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens,
       bc_num / sqrt(CAST(n_tokens AS DOUBLE)
                     * CAST((SELECT total_tokens FROM total) AS DOUBLE))
         AS bc_affinity,
       1.0 - bc_num / sqrt(CAST(n_tokens AS DOUBLE)
                           * CAST((SELECT total_tokens FROM total) AS DOUBLE))
         AS hellinger_sq,
       bc_num / sqrt(CAST(n_tokens AS DOUBLE)
                     * CAST((SELECT total_tokens FROM total) AS DOUBLE))
         < {OUTLIER_AFFINITY} AS is_outlier
FROM per_doc ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t20 — readability scoring (Flesch / Flesch-Kincaid, vowel-group syllables)
# ---------------------------------------------------------------------------

#: vowel-group run = syllable approximation (y counts as a vowel); every
#: word contributes at least one syllable
_SYL_RE = "[aeiouy]+"
#: sentence terminators: a run of ./!/? ends one sentence
_SENT_RE = "[.!?]+"
#: Flesch reading-ease bands (standard cutoffs)
FLESCH_EASY = 80.0
FLESCH_PLAIN = 50.0


def t20_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document from the
    classic surface proxies: words = whitespace tokens, sentences =
    terminator runs (min 1), syllables = vowel-group runs per word (min
    1/word — the standard no-dictionary approximation). A corpus-quality
    lens orthogonal to t02/t13: flags both unreadable boilerplate (very
    low ease) and trivially repetitive text (implausibly high ease).
    New surface, SURVEY §7.2.7.

    Float determinism: both ratios are single BIGINT/BIGINT divisions and
    the score is a FIXED left-to-right chain of double ops on `e0`
    literals (forced DOUBLE in both dialects — bare decimal literals
    parse as DECIMAL and widen differently), so Spark and DuckDB execute
    the identical IEEE sequence.

    Scale shape: pure per-row map over one corpus scan — no shuffle, no
    Python; the per-token vowel scan is a JVM regex inside a
    higher-order transform (the t06 rule)."""
    wps = "CAST(n_words AS DOUBLE) / n_sentences"
    spw = "CAST(n_syllables AS DOUBLE) / n_words"
    flesch = f"206.835e0 - 1.015e0 * ({wps}) - 84.6e0 * ({spw})"
    grade = f"0.39e0 * ({wps}) + 11.8e0 * ({spw}) - 15.59e0"
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(_NORM_S).alias("nrm"))
        .select(
            "doc_id",
            F.expr("split(nrm, ' ')").alias("toks"),
            F.expr(
                f"greatest(size(regexp_extract_all(nrm, '{_SENT_RE}', 0)), 1)"
            ).cast("bigint").alias("n_sentences"),
        )
        .select(
            "doc_id",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_words"),
            "n_sentences",
            F.expr(
                f"aggregate(transform(toks, w -> "
                f"greatest(size(regexp_extract_all(w, '{_SYL_RE}', 0)), 1)), "
                f"CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("n_syllables"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.expr(wps).alias("words_per_sentence"),
            F.expr(spw).alias("syllables_per_word"),
            F.expr(flesch).alias("flesch_ease"),
            F.expr(grade).alias("fk_grade"),
            F.expr(
                f"CASE WHEN {flesch} >= {FLESCH_EASY} THEN 'easy' "
                f"WHEN {flesch} >= {FLESCH_PLAIN} THEN 'plain' "
                f"ELSE 'hard' END"
            ).alias("band"),
        )
        .orderBy("doc_id")
    )


T20_SQL = f"""
WITH base AS (
  SELECT doc_id, {tf.norm_duck("text")} AS nrm FROM documents
), feat AS (
  SELECT doc_id,
         CAST(len(string_split(nrm, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(nrm, '{_SENT_RE}')), 1)
              AS BIGINT) AS n_sentences,
         list_reduce(list_transform(string_split(nrm, ' '), w ->
             CAST(greatest(len(regexp_extract_all(w, '{_SYL_RE}')), 1)
                  AS BIGINT)),
             (a, x) -> a + x) AS n_syllables
  FROM base
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(n_words AS DOUBLE) / n_sentences AS words_per_sentence,
       CAST(n_syllables AS DOUBLE) / n_words AS syllables_per_word,
       206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / n_sentences)
         - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch_ease,
       0.39e0 * (CAST(n_words AS DOUBLE) / n_sentences)
         + 11.8e0 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59e0
         AS fk_grade,
       CASE WHEN 206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words)
                 >= {FLESCH_EASY} THEN 'easy'
            WHEN 206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6e0 * (CAST(n_syllables AS DOUBLE) / n_words)
                 >= {FLESCH_PLAIN} THEN 'plain'
            ELSE 'hard' END AS band
FROM feat ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t21 — vocabulary coverage curve (tokenizer-budget sizing)
# ---------------------------------------------------------------------------

#: candidate vocabulary sizes to report coverage at
VOCAB_SIZES = (100, 500, 1000, 2000, 5000, 10000)


def t21_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size N, the
    fraction of all token OCCURRENCES covered by the N most frequent
    types. The sizing curve consulted before fixing a tokenizer budget
    (diminishing-returns knee) — and a drift monitor when re-run per
    snapshot. New surface, SURVEY §7.2.7.

    Coverage at a cutoff is invariant to tie order (tied types have equal
    counts), but both engines still rank with the same total order
    (count DESC, token ASC) so the intermediate rows match exactly.

    Scale shape: token explode → ONE map-side-combinable shuffle to
    per-type counts → distributed top-K via TakeOrdered (K = max vocab
    size, a CONSTANT — never a corpus-wide rank window) → the cumulative
    sum runs on K rows in a single bounded partition, then each
    requested size is answered from that K-row relation. Totals ride a
    broadcast 1-row crossJoin (the t07 rule)."""
    from pyspark.sql.window import Window

    k_max = max(VOCAB_SIZES)
    from floorist_spark.operators._cache import track

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(f"split({_NORM_S}, ' ')")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # the per-type counts feed THREE consumers (total, n_types, top-K);
    # persisted so one token explode/shuffle pass feeds all three —
    # unpersisted, Spark replays the subtree per consumer (three corpus
    # scans, caught by the plan pin in test_plan_shapes_r6b)
    counts = track(
        toks.groupBy("tok").agg(F.count("*").alias("cnt")).persist()
    )
    # totals derive from the per-type counts — ONE corpus scan feeds
    # everything downstream
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    n_types = counts.agg(F.count("*").alias("n_types"))
    topk = counts.orderBy(F.col("cnt").desc(), "tok").limit(k_max)
    ranked = topk.select(
        "tok",
        "cnt",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), "tok")
        ).alias("rk"),
    )
    sizes = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in VOCAB_SIZES])).alias("vocab_size")
    )
    per_size = (
        sizes.join(ranked, ranked.rk <= sizes.vocab_size, "left")
        .groupBy("vocab_size")
        .agg(
            F.max("rk").alias("n_types_used"),
            F.sum("cnt").alias("covered_tokens"),
        )
    )
    return (
        per_size.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(n_types))
        .select(
            "vocab_size",
            F.expr("CAST(coalesce(n_types_used, 0) AS BIGINT)").alias(
                "n_types_used"
            ),
            F.expr("CAST(coalesce(covered_tokens, 0) AS BIGINT)").alias(
                "covered_tokens"
            ),
            "total_tokens",
            "n_types",
            F.expr(
                "CAST(coalesce(covered_tokens, 0) AS DOUBLE) / total_tokens"
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


T21_SQL = f"""
WITH toks AS (
  SELECT t.tok FROM documents d,
       unnest(string_split({tf.norm_duck("text")}, ' ')) AS t(tok)
  WHERE t.tok <> ''
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM counts
), types AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types FROM counts
), ranked AS (
  SELECT tok, cnt,
         row_number() OVER (ORDER BY cnt DESC, tok) AS rk
  FROM counts
  ORDER BY cnt DESC, tok LIMIT {max(VOCAB_SIZES)}
), sizes AS (
  SELECT unnest([{", ".join(str(n) for n in VOCAB_SIZES)}]) AS vocab_size
), per_size AS (
  SELECT s.vocab_size,
         CAST(max(r.rk) AS BIGINT) AS n_types_used,
         CAST(sum(r.cnt) AS BIGINT) AS covered_tokens
  FROM sizes s LEFT JOIN ranked r ON r.rk <= s.vocab_size
  GROUP BY s.vocab_size
)
SELECT p.vocab_size,
       coalesce(p.n_types_used, 0) AS n_types_used,
       coalesce(p.covered_tokens, 0) AS covered_tokens,
       t.total_tokens, y.n_types,
       CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / t.total_tokens
         AS coverage
FROM per_size p, total t, types y
ORDER BY p.vocab_size
"""


# ---------------------------------------------------------------------------
# t22 — RAKE keyphrase extraction (stopword-delimited candidate phrases)
# ---------------------------------------------------------------------------

#: phrase delimiters for RAKE candidate segmentation — deliberately small
#: (the t02 rule: the operator demonstrates the mechanics; production
#: swaps in a full list, same plan shape)
RAKE_STOPWORDS = (
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "on", "for",
    "with", "as", "by", "at", "this", "that", "be", "are", "was", "or",
    "from",
)
#: corpus-wide keyphrases reported
RAKE_TOP = 25


def t22_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: candidate phrases are maximal stopword-
    free token runs; each word scores deg(w) (Σ length of every phrase
    occurrence containing it) over freq(w) (its occurrence count), and a
    phrase aggregates its members. The corpus-level top-25 is the
    glossary-extraction / topic-labeling primitive (Rose et al. 2010).
    New surface, SURVEY §7.2.7.

    Scoring uses the ratio-of-sums variant: score = Σdeg / Σfreq with
    both sums EXACT BIGINTs and ONE double division — the classic
    sum-of-ratios Σ(deg/freq) is an unordered float fold over join
    results and would not be cross-engine deterministic. Ties at the
    cutoff break on the unique phrase text.

    Scale shape: phrase segmentation is the gaps-and-islands pattern (a
    running stopword count keyed per doc — one shuffle on doc_id shared
    by both windows), word stats are a map-side-combinable aggregate on
    the token, phrase members re-join word stats by token (hash join on
    the vocabulary), and the final census shuffles short phrase strings
    only; top-25 is a TakeOrdered, never a global sort."""
    from pyspark.sql.window import Window

    stops = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    from floorist_spark.operators._canon import canonical_docs

    # identity-keyed: duplicated doc_ids would interleave both copies'
    # positions into one (doc_id, grp) phrase group and scramble phrases
    toks = canonical_docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(F.expr(f"split({_NORM_S}, ' ')")).alias("pos", "tok"),
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    occ = (
        toks.withColumn(
            "is_stop", F.expr(f"tok IN ({stops}) OR tok = ''")
        )
        .withColumn(
            "grp", F.sum(F.expr("IF(is_stop, 1, 0)")).over(w_run)
        )
        .filter(~F.col("is_stop"))
        .withColumn(
            "plen",
            F.count("*").over(Window.partitionBy("doc_id", "grp")),
        )
    )
    wstats = occ.groupBy("tok").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    phrases = (
        occ.join(wstats, "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort("
                "collect_list(struct(pos, tok))), x -> x.tok))"
            ).alias("phrase"),
            F.count("*").alias("n_words"),
            F.sum("deg").alias("sum_deg"),
            F.sum("freq").alias("sum_freq"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("sum_deg").alias("sum_deg"),
            F.max("sum_freq").alias("sum_freq"),
        )
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            "n_docs",
            "sum_deg",
            "sum_freq",
            F.expr("CAST(sum_deg AS DOUBLE) / sum_freq").alias("score"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(RAKE_TOP)
    )


def _t22_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return f"""
WITH toks AS (
  -- no WITH ORDINALITY in this DuckDB: index the array via range()
  SELECT d.doc_id, CAST(t.i AS BIGINT) AS pos,
         d.arr[CAST(t.i + 1 AS BIGINT)] AS tok
  FROM (SELECT doc_id, string_split({tf.norm_duck("text")}, ' ') AS arr
        FROM {_CDOCS} documents) d,
       LATERAL unnest(range(0, CAST(len(d.arr) AS BIGINT))) AS t(i)
), occ AS (
  SELECT * FROM (
    SELECT doc_id, pos, tok, (tok IN ({stops}) OR tok = '') AS is_stop,
           sum(CASE WHEN tok IN ({stops}) OR tok = '' THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM toks)
  WHERE NOT is_stop
), occ2 AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS plen
  FROM occ
), wstats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM occ2 GROUP BY tok
), phrases AS (
  SELECT o.doc_id, o.grp,
         -- ORDER BY pos key-complete: token position, unique per doc (key)
         string_agg(o.tok, ' ' ORDER BY o.pos) AS phrase,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(w.deg) AS BIGINT) AS sum_deg,
         CAST(sum(w.freq) AS BIGINT) AS sum_freq
  FROM occ2 o JOIN wstats w USING (tok)
  GROUP BY o.doc_id, o.grp
), census AS (
  SELECT phrase, max(n_words) AS n_words,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         max(sum_deg) AS sum_deg, max(sum_freq) AS sum_freq
  FROM phrases GROUP BY phrase
)
SELECT phrase, n_words, n_occurrences, n_docs, sum_deg, sum_freq,
       CAST(sum_deg AS DOUBLE) / sum_freq AS score
FROM census ORDER BY score DESC, phrase LIMIT {RAKE_TOP}
"""


# ---------------------------------------------------------------------------
# t23 — encoding-anomaly audit (mojibake / control / replacement chars)
# ---------------------------------------------------------------------------

#: U+FFFD REPLACEMENT CHARACTER — what a lossy decode leaves behind.
_T23_REPL = "�"
#: C0/C1-ish control chars EXCLUDING \t \n \r (legitimate in text).
_T23_CTRL = "".join(
    chr(c) for c in [*range(1, 9), 0x0B, 0x0C, *range(0x0E, 0x20), 0x7F]
)
#: Zero-width chars that survive naive cleaning and inflate tokenizer
#: vocab. Counted but NOT flagged in ``suspicious`` on their own: ZWJ/
#: ZWNJ are load-bearing in emoji sequences and Indic/Persian scripts,
#: and a leading BOM is routine — unlike U+FFFD/control/mojibake, their
#: presence is not evidence of a broken decode.
_T23_ZW = "​‌‍﻿"
#: Every ASCII char 0x01..0x7F — translate() removes these, leaving only
#: non-ASCII, so the count needs no regex on either engine.
_T23_ASCII = "".join(chr(c) for c in range(1, 128))
#: UTF-8-read-as-cp1252 signatures: 'â€' (leading bytes of smart quotes /
#: dashes) and 'Ã' (leading byte of Latin-1 accented letters).
_T23_MOJI_PAIR = "â€"
_T23_MOJI_LEAD = "Ã"


def t23_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document encoding-health audit: counts of U+FFFD replacement
    chars, non-\\t\\n\\r control chars, zero-width chars, non-ASCII chars,
    and the two classic UTF-8-as-cp1252 mojibake signatures, plus a
    ``suspicious`` verdict — the pre-tokenization hygiene gate a crawl
    pipeline runs before any quality scoring (a page full of U+FFFD has
    already lost the original bytes; control chars break sentencepiece).
    The verdict flags only broken-DECODE evidence (replacement/control/
    mojibake); zero-width and non-ASCII counts are reported but never
    flag alone — both are routine in legitimate multilingual text (see
    the ``_T23_ZW`` note). New surface beyond the reference (SURVEY
    §7.2.7).

    Scale shape: a pure per-row projection — ``translate``/``replace``
    length arithmetic only, no regex, no shuffle before the final sort.
    Every counter is whole-stage-codegen JVM work; the DuckDB twin uses
    the identical translate/replace identities, so no engine ever
    enumerates characters row-by-row in Python."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(t)

    def _occ_str(sub: str) -> F.Column:
        return n_chars - F.length(F.replace(t, F.lit(sub), F.lit("")))

    n_repl = _occ_str(_T23_REPL)
    n_ctrl = n_chars - F.length(F.translate(t, _T23_CTRL, ""))
    n_zw = n_chars - F.length(F.translate(t, _T23_ZW, ""))
    n_nonascii = F.length(F.translate(t, _T23_ASCII, ""))
    # the pair signature removes 2 chars per hit → halve (always even)
    n_moji = (_occ_str(_T23_MOJI_PAIR) / 2).cast("bigint") + _occ_str(
        _T23_MOJI_LEAD
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            n_chars.cast("bigint").alias("n_chars"),
            n_repl.cast("bigint").alias("n_repl"),
            n_ctrl.cast("bigint").alias("n_ctrl"),
            n_zw.cast("bigint").alias("n_zero_width"),
            n_nonascii.cast("bigint").alias("n_non_ascii"),
            n_moji.cast("bigint").alias("n_mojibake"),
        )
        .withColumn(
            "non_ascii_frac",
            F.expr(
                "CAST(n_non_ascii AS DOUBLE) / greatest(n_chars, 1)"
            ),
        )
        .withColumn(
            "suspicious",
            F.expr("n_repl > 0 OR n_ctrl > 0 OR n_mojibake > 0"),
        )
        .orderBy("doc_id")
    )


def _t23_sql() -> str:
    def q(s: str) -> str:
        return s.replace("'", "''")

    return f"""
WITH c AS (
  SELECT doc_id, coalesce(text, '') AS t,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_chars,
       CAST(n_chars - length(replace(t, '{q(_T23_REPL)}', '')) AS BIGINT)
         AS n_repl,
       CAST(n_chars - length(translate(t, '{q(_T23_CTRL)}', '')) AS BIGINT)
         AS n_ctrl,
       CAST(n_chars - length(translate(t, '{q(_T23_ZW)}', '')) AS BIGINT)
         AS n_zero_width,
       CAST(length(translate(t, '{q(_T23_ASCII)}', '')) AS BIGINT)
         AS n_non_ascii,
       CAST((n_chars - length(replace(t, '{q(_T23_MOJI_PAIR)}', ''))) // 2
            + (n_chars - length(replace(t, '{q(_T23_MOJI_LEAD)}', '')))
            AS BIGINT) AS n_mojibake,
       CAST(length(translate(t, '{q(_T23_ASCII)}', '')) AS DOUBLE)
         / greatest(n_chars, 1) AS non_ascii_frac,
       (n_chars - length(replace(t, '{q(_T23_REPL)}', ''))) > 0
         OR (n_chars - length(translate(t, '{q(_T23_CTRL)}', ''))) > 0
         OR ((n_chars - length(replace(t, '{q(_T23_MOJI_PAIR)}', ''))) // 2
             + (n_chars - length(replace(t, '{q(_T23_MOJI_LEAD)}', '')))) > 0
         AS suspicious
FROM c ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t24 — per-source distribution divergence vs the corpus (exact TVD)
# ---------------------------------------------------------------------------


def t24_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance between the source's unigram
    distribution and the whole corpus: TVD = ½·Σ_t |p_s(t) − p(t)| — the
    mixture diagnostic that tells a curator which source is most
    atypical before reweighting (c06/c16 decide HOW MUCH of each source;
    this reports how DIFFERENT each one is). KL needs log — not pinned
    cross-engine (the t07/t19 transcendental rule) — so the engine keeps
    the equivalent signal exact-rational: Σ|c_s·T − c·T_s| accumulates
    in DECIMAL(38,0)/HUGEINT (order-independent integer addition, no
    float folding anywhere), and the single final division is the only
    float op. The exact numerator is also emitted as a STRING so the
    gate compares it digit-for-digit (the q11 sum_charge lesson:
    decimal→double casts are engine-dependent at scale; decimal→string→
    double is correctly rounded in both). Worst case 2·T² needs 38
    digits only past T = 7·10¹⁸ tokens — three orders above a 100 TB
    corpus. New surface, SURVEY §7.2.7.

    Scale shape: one corpus scan → (source, token) counts (map-side
    combinable; hot tokens pre-fold per partition); corpus counts and
    per-source totals re-aggregate that dictionary-sized table, never
    the corpus; the (token × source) grid is dictionary × a bounded
    source dimension, built by cross-joining the corpus dictionary with
    the BROADCAST source totals."""
    from floorist_spark.operators._cache import track

    toks = tf.tokens_spark(_NORM_S)
    sc = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(toks)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c_s"))
    )
    sc = track(sc.persist())
    corpus = sc.groupBy("tok").agg(F.sum("c_s").alias("c"))
    src_tot = sc.groupBy("source").agg(F.sum("c_s").alias("t_s"))
    grand = sc.select(F.sum("c_s").alias("t_all"))
    grid = (
        corpus.crossJoin(F.broadcast(src_tot))
        .join(sc, ["source", "tok"], "left")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "t_s",
            "t_all",
            F.coalesce("c_s", F.lit(0)).alias("c_s"),
            "c",
        )
    )
    return (
        grid.groupBy("source", "t_s", "t_all")
        .agg(
            # the operands are widened to DECIMAL BEFORE the multiply —
            # a BIGINT product c·T overflows at ~3e9 tokens, three
            # orders below the 38-digit envelope the sum needs
            F.sum(
                F.expr(
                    "abs(CAST(c_s AS DECIMAL(38, 0)) * t_all "
                    "- CAST(c AS DECIMAL(38, 0)) * t_s)"
                )
            ).alias("num"),
            F.sum(F.expr("IF(c_s > 0, 1, 0)")).cast("bigint").alias(
                "n_types"
            ),
            F.count("*").alias("n_corpus_types"),
        )
        .select(
            "source",
            "n_types",
            "n_corpus_types",
            F.col("t_s").alias("total_tokens"),
            F.expr("CAST(num AS STRING)").alias("tvd_num"),
            F.expr(
                "CAST(CAST(num AS STRING) AS DOUBLE) / "
                "(2.0d * CAST(t_s AS DOUBLE) * CAST(t_all AS DOUBLE))"
            ).alias("tvd"),
        )
        .orderBy("source")
    )


def _t24_sql() -> str:
    toks = tf.tokens_duck(_NORM_D)
    return f"""
WITH sc AS (
  SELECT source, unnest({toks}) AS tok FROM documents
), counts AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_s
  FROM sc GROUP BY source, tok
), corpus AS (
  SELECT tok, CAST(sum(c_s) AS BIGINT) AS c FROM counts GROUP BY tok
), src_tot AS (
  SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s FROM counts GROUP BY source
), grand AS (
  SELECT CAST(sum(c_s) AS BIGINT) AS t_all FROM counts
), grid AS (
  SELECT s.source, s.t_s, g.t_all, coalesce(k.c_s, 0) AS c_s, co.c
  FROM corpus co CROSS JOIN src_tot s CROSS JOIN grand g
  LEFT JOIN counts k ON k.source = s.source AND k.tok = co.tok
), agg AS (
  SELECT source, t_s, t_all,
         sum(abs(CAST(c_s AS HUGEINT) * t_all - CAST(c AS HUGEINT) * t_s))
           AS num,
         CAST(sum(CASE WHEN c_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_types,
         CAST(count(*) AS BIGINT) AS n_corpus_types
  FROM grid GROUP BY source, t_s, t_all
)
SELECT source, n_types, n_corpus_types, t_s AS total_tokens,
       CAST(num AS VARCHAR) AS tvd_num,
       CAST(CAST(num AS VARCHAR) AS DOUBLE)
         / (2.0 * CAST(t_s AS DOUBLE) * CAST(t_all AS DOUBLE)) AS tvd
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------------
# t25 — code-vs-prose detection (structural signals, no classifier)
# ---------------------------------------------------------------------------

#: statement/structure punctuation counted for the per-line density
#: signal (semicolons counted separately — they are the strongest
#: single-char code marker and worth their own column).
_T25_PUNCT = "{}()[]<>="
#: keyword fragments counted by substring occurrence. Chosen to span
#: Python/JS/C with low prose collision (each either carries a trailing
#: space or is prose-rare); a hit count ≥2 is required before keywords
#: influence the verdict, so a stray "return" in prose cannot flip it.
_T25_KWS = ("def ", "return ", "import ", "function", "#include", "const ", "var ")
#: verdict thresholds: dense statement punctuation alone (≥3 marks per
#: line) OR indentation structure (≥25% of lines) corroborated by ≥2
#: keyword hits.
T25_PUNCT_PER_LINE = 3.0
T25_INDENT_FRAC = 0.25
T25_MIN_KW = 2


def t25_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection from structural signals: per-line
    statement-punctuation density, leading-indentation fraction,
    semicolon count, and multi-language keyword hits, combined into a
    ``looks_code`` verdict. The corpus-hygiene gate an LLM pipeline runs
    to ROUTE documents — code goes to a code-aware tokenizer/quality
    stack (t02/t13 prose heuristics misfire badly on source files:
    stopword ratio ≈ 0, "mean word length" of an identifier soup is
    garbage) — and the complement of t03's natural-language ID. Runs on
    the RAW text: code structure lives in newlines and leading
    whitespace that normalization collapses. New surface, SURVEY §7.2.7.

    Determinism/portability: every counter is translate/replace length
    arithmetic or a substring-equality line filter (the t23 rule — no
    regex PATTERN on either engine); ratios are single exact-BIGINT
    divisions and the verdict compares those to shared literals, so both
    engines execute identical IEEE ops. One asymmetry to keep pinned
    (round-6 advice): the line split delimiter ``char(10)`` is
    interpreted as a Java REGEX by Spark's ``split`` but as a LITERAL by
    DuckDB's ``string_split`` — identical for newline, but the delimiter
    must never become a regex metacharacter; cross-engine parity for the
    newline case is asserted by test_round6g's planted multi-line docs.

    Scale shape: a pure per-row projection over one corpus scan — the
    line filter is a JVM higher-order function over the split array, no
    shuffle before the final sort, no Python anywhere."""
    kw_terms = " + ".join(
        f"(length(t) - length(replace(t, '{kw}', ''))) DIV {len(kw)}"
        for kw in _T25_KWS
    )
    per_line = "CAST(n_semi + n_punct AS DOUBLE) / n_lines"
    ind_frac = "CAST(indent_lines AS DOUBLE) / n_lines"
    verdict = (
        f"({per_line}) >= {T25_PUNCT_PER_LINE} OR "
        f"(({ind_frac}) >= {T25_INDENT_FRAC} AND kw_hits >= {T25_MIN_KW})"
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr("coalesce(text, '')").alias("t"))
        .select(
            "doc_id",
            F.expr("CAST(size(split(t, char(10))) AS BIGINT)").alias(
                "n_lines"
            ),
            F.expr(
                "CAST(length(t) - length(translate(t, ';', '')) AS BIGINT)"
            ).alias("n_semi"),
            F.expr(
                f"CAST(length(t) - length(translate(t, '{_T25_PUNCT}', ''))"
                " AS BIGINT)"
            ).alias("n_punct"),
            F.expr(
                "CAST(size(filter(split(t, char(10)), l -> "
                "substring(l, 1, 1) = char(9) OR substring(l, 1, 2) = '  '))"
                " AS BIGINT)"
            ).alias("indent_lines"),
            F.expr(f"CAST({kw_terms} AS BIGINT)").alias("kw_hits"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_semi",
            "n_punct",
            "indent_lines",
            "kw_hits",
            F.expr(per_line).alias("punct_per_line"),
            F.expr(ind_frac).alias("indent_frac"),
            F.expr(verdict).alias("looks_code"),
        )
        .orderBy("doc_id")
    )


def _t25_sql() -> str:
    kw_terms = " + ".join(
        f"(length(t) - length(replace(t, '{kw}', ''))) // {len(kw)}"
        for kw in _T25_KWS
    )
    per_line = "CAST(n_semi + n_punct AS DOUBLE) / n_lines"
    ind_frac = "CAST(indent_lines AS DOUBLE) / n_lines"
    return f"""
WITH c AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
),
sig AS (
  SELECT doc_id,
         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
         CAST(length(t) - length(translate(t, ';', '')) AS BIGINT)
           AS n_semi,
         CAST(length(t) - length(translate(t, '{_T25_PUNCT}', ''))
           AS BIGINT) AS n_punct,
         CAST(len(list_filter(string_split(t, chr(10)), l ->
           substr(l, 1, 1) = chr(9) OR substr(l, 1, 2) = '  '))
           AS BIGINT) AS indent_lines,
         CAST({kw_terms} AS BIGINT) AS kw_hits
  FROM c
)
SELECT doc_id, n_lines, n_semi, n_punct, indent_lines, kw_hits,
       {per_line} AS punct_per_line,
       {ind_frac} AS indent_frac,
       ({per_line}) >= {T25_PUNCT_PER_LINE}
         OR (({ind_frac}) >= {T25_INDENT_FRAC}
             AND kw_hits >= {T25_MIN_KW}) AS looks_code
FROM sig ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t26 — per-source hapax/vocabulary census
# ---------------------------------------------------------------------------

def t26_hapax_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary census: total token occurrences, distinct
    vocabulary size, hapax legomena (tokens occurring exactly ONCE in
    that source), and the two ratios curation teams track — hapax share
    of vocabulary (high = long-tail-rich or noisy/OCR source; low =
    templated/boilerplate source) and source-level type-token ratio
    (t17 measures diversity per DOCUMENT; this is the corpus-mixture
    view per source). New surface, SURVEY §7.2.7.

    Scale shape: one scan -> explode tokens -> md5 each token and DROP
    the string, so the (source, token) count shuffle carries digests
    only (the d14 exchange rule); that aggregate is map-side combinable,
    and the per-source rollup that follows reduces ~vocab-sized input
    to one row per source. No corpus-wide window, no second scan;
    ratios are single exact BIGINT-to-DOUBLE divisions."""
    toks = (
        _docs(spark, sf_dir)
        .select("source", F.expr(_TOK_S).alias("toks"))
        .select("source", F.explode("toks").alias("tok"))
        .select("source", F.expr("md5(tok)").alias("d"))
    )
    counts = toks.groupBy("source", "d").agg(F.count("*").alias("cnt"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            F.count("*").alias("vocab_size"),
            F.sum(F.expr("IF(cnt = 1, 1, 0)")).cast("bigint").alias("n_hapax"),
        )
        .select(
            "source",
            "total_tokens",
            "vocab_size",
            "n_hapax",
            F.expr("CAST(n_hapax AS DOUBLE) / vocab_size").alias("hapax_frac"),
            F.expr("CAST(vocab_size AS DOUBLE) / total_tokens").alias("ttr"),
        )
        .orderBy("source")
    )


T26_SQL = f"""
WITH toks AS (
  SELECT source, md5(t.tok) AS d
  FROM (SELECT source, {_TOK_D} AS arr FROM documents),
       LATERAL unnest(arr) AS t(tok)
),
counts AS (
  SELECT source, d, count(*) AS cnt FROM toks GROUP BY source, d
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS total_tokens,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         AS hapax_frac,
       CAST(count(*) AS DOUBLE) / sum(cnt) AS ttr
FROM counts GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# t27 — token character-class census
# ---------------------------------------------------------------------------

_T27_DIGITS = "0123456789"
_T27_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _t27_class(len_fn: str) -> str:
    """Shared CASE classifying a token ``tok`` by translate/length
    arithmetic (the t23 rule — no regex on either engine); ``len_fn`` is
    the engine's length function name. Classes: numeric (digits only),
    alpha (a-z only — post-fold, so any cased ASCII word), alnum (both,
    nothing else — ids like 'x86'), other (any punctuation/unicode),
    empty (the '' token of a blank document)."""
    no_d = f"{len_fn}(translate(tok, '{_T27_DIGITS}', ''))"
    no_a = f"{len_fn}(translate(tok, '{_T27_ALPHA}', ''))"
    no_da = f"{len_fn}(translate(tok, '{_T27_DIGITS}{_T27_ALPHA}', ''))"
    n = f"{len_fn}(tok)"
    return (
        f"CASE WHEN {n} = 0 THEN 'empty' "
        f"WHEN {no_da} > 0 THEN 'other' "
        f"WHEN {no_d} = 0 THEN 'numeric' "
        f"WHEN {no_a} = 0 THEN 'alpha' "
        f"ELSE 'alnum' END"
    )


def t27_token_class_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token character-class mix: numeric / alpha / alnum /
    other / empty counts and shares. The numeric+other mass separates
    tables, logs, and markup dumps from prose (a source whose tokens are
    40% numeric is a CSV wearing a text column), complementing t25's
    per-document code verdict with a source-level lexical fingerprint.
    New surface, SURVEY §7.2.7.

    Scale shape: classification is translate/length arithmetic inside
    the scan projection, so the only shuffle is the map-side-combinable
    (source, class) count — 5 classes x #sources rows; shares come from
    a window over that tiny aggregate. No token strings cross an
    exchange (the class label replaces the token before the groupBy)."""
    from pyspark.sql.window import Window

    cls = _t27_class("length")
    counts = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(_TOK_S)).alias("tok"))
        .select("source", F.expr(cls).alias("token_class"))
        .groupBy("source", "token_class")
        .agg(F.count("*").alias("n_tokens"))
    )
    w = Window.partitionBy("source")
    return (
        counts.withColumn("src_tokens", F.sum("n_tokens").over(w))
        .select(
            "source",
            "token_class",
            "n_tokens",
            F.expr("CAST(n_tokens AS DOUBLE) / src_tokens").alias("share"),
        )
        .orderBy("source", "token_class")
    )


def _t27_sql() -> str:
    cls = _t27_class("len")
    return f"""
WITH toks AS (
  SELECT source, t.tok AS tok
  FROM (SELECT source, {_TOK_D} AS arr FROM documents),
       LATERAL unnest(arr) AS t(tok)
),
counts AS (
  SELECT source, {cls} AS token_class, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY 1, 2
)
SELECT source, token_class, n_tokens,
       CAST(n_tokens AS DOUBLE)
         / sum(n_tokens) OVER (PARTITION BY source) AS share
FROM counts ORDER BY source, token_class
"""


# ---------------------------------------------------------------------------
# t28 — per-document token-rarity score (unigram-frequency quality filter)
# ---------------------------------------------------------------------------

#: a doc whose mean token commonness is below this fraction of the corpus
#: mean is flagged rare-vocabulary (OCR noise, code dumps, exotic jargon)
T28_RARE_RATIO = 0.5


def t28_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-frequency document scoring — the integer-exact core of the
    CCNet-style LM-perplexity quality filter: score every document by the
    mean CORPUS frequency of its tokens and compare it to the corpus-wide
    mean token commonness (which is Σf²/Σf over the vocabulary — the
    expected frequency of a token drawn from the corpus itself). Docs far
    below the corpus mean are rare-vocabulary outliers (OCR noise, code
    dumps, wordlists); far above are stopword soup / boilerplate. Unlike
    a real LM score this needs no model and no floats until the final
    ratios, so it is bit-reproducible across engines and runs.

    Determinism: every aggregate is exact (BIGINT counts; DECIMAL sums of
    frequencies and squared frequencies rendered via the _dsum string
    discipline — Σf² exceeds 2^63 for any corpus beyond ~3 B tokens);
    the score and ratio are IEEE divisions of exactly-parsed doubles.
    Untokenizable docs survive with n_tokens = 0 and NULL scores on both
    engines (the m08/m20 guard idiom).

    Scale shape: one scan -> explode -> md5 and DROP the token string
    (digest-only exchange, the d14 rule); the vocabulary count is one
    map-side-combinable groupBy(digest); scoring joins the corpus-sized
    digest stream with the vocab-sized frequency table co-partitioned on
    the digest (both sides hash-shuffled on d — no broadcast of a
    possibly-billion-row vocab); the corpus mean is a 1-row aggregate of
    the frequency table, broadcast back. No corpus-wide window."""
    ex = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(_TOK_S).alias("toks"))
        .select("doc_id", F.explode("toks").alias("tok"))
        # split('', ' ') yields [''] on both engines — the empty string is
        # not a token, and dropping it here is what makes the n_tokens = 0
        # NULL-score path reachable for genuinely empty docs
        .filter(F.col("tok") != "")
        .select("doc_id", F.expr("md5(tok)").alias("d"))
    )
    from floorist_spark.operators._cache import track

    ex = track(ex.persist())
    freq = ex.groupBy("d").agg(F.count("*").alias("f"))
    per_doc = (
        ex.join(freq, "d")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr(
                "CAST(CAST(sum(CAST(f AS DECIMAL(19,0))) AS STRING) AS DOUBLE)"
            ).alias("sum_freq"),
        )
    )
    corpus = freq.agg(
        F.expr(
            "CAST(CAST(sum(CAST(f AS DECIMAL(19,0))) AS STRING) AS DOUBLE)"
        ).alias("tot"),
        F.expr(
            "CAST(CAST(sum(CAST(f AS DECIMAL(19,0)) * CAST(f AS DECIMAL(19,0)))"
            " AS STRING) AS DOUBLE)"
        ).alias("tot2"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.expr("coalesce(n_tokens, CAST(0 AS BIGINT))").alias("n_tokens"),
            F.expr(
                "CASE WHEN n_tokens IS NULL THEN CAST(NULL AS DOUBLE) "
                "ELSE sum_freq / n_tokens END"
            ).alias("mean_tok_freq"),
            F.expr(
                "CASE WHEN n_tokens IS NULL THEN CAST(NULL AS DOUBLE) "
                "ELSE (sum_freq / n_tokens) / (tot2 / tot) END"
            ).alias("rarity_ratio"),
            F.expr(
                "CASE WHEN n_tokens IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"ELSE (sum_freq / n_tokens) / (tot2 / tot) < {T28_RARE_RATIO} "
                "END"
            ).alias("is_rare"),
        )
        .orderBy("doc_id")
    )


T28_SQL = f"""
WITH ex AS (
  SELECT doc_id, md5(t.tok) AS d
  FROM (SELECT doc_id, {_TOK_D} AS arr FROM documents),
       LATERAL unnest(arr) AS t(tok)
  WHERE t.tok != ''
), freq AS (
  SELECT d, CAST(count(*) AS BIGINT) AS f FROM ex GROUP BY d
), per_doc AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(CAST(sum(CAST(f AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
           AS sum_freq
  FROM ex e JOIN freq USING (d) GROUP BY e.doc_id
), corpus AS (
  SELECT CAST(CAST(sum(CAST(f AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS tot,
         CAST(CAST(sum(CAST(f AS DECIMAL(19,0)) * CAST(f AS DECIMAL(19,0)))
              AS VARCHAR) AS DOUBLE) AS tot2
  FROM freq
)
SELECT doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       CASE WHEN p.n_tokens IS NULL THEN NULL
            ELSE p.sum_freq / p.n_tokens END AS mean_tok_freq,
       CASE WHEN p.n_tokens IS NULL THEN NULL
            ELSE (p.sum_freq / p.n_tokens) / (c.tot2 / c.tot) END
         AS rarity_ratio,
       CASE WHEN p.n_tokens IS NULL THEN NULL
            ELSE (p.sum_freq / p.n_tokens) / (c.tot2 / c.tot)
                 < {T28_RARE_RATIO} END AS is_rare
FROM documents LEFT JOIN per_doc p USING (doc_id), corpus c
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t29 — vocabulary-growth curve (Heaps-law audit for crawl budgeting)
# ---------------------------------------------------------------------------

#: corpus-prefix percentages the vocabulary is measured at
T29_PCTS = (1, 2, 5, 10, 25, 50, 100)


def t29_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law audit: distinct vocabulary observed within the first
    1/2/5/10/25/50/100% of the corpus token stream (doc_id order) — the
    "what does more data buy" curve. A vocabulary still growing steeply
    at 100% says the corpus undersamples its domain (keep crawling); a
    flat tail says new data is re-spending known tokens (d21 gives the
    per-DOC novelty signal; this is the corpus-level integral). Each row:
    the prefix boundary in tokens, vocabulary inside it, its share of
    the full vocabulary, and the prefix type-token ratio.

    Exactness: a distinct-count-per-prefix is not decomposable, but
    FIRST-OCCURRENCE position is — vocab within prefix b = #tokens whose
    min global position < b. Global positions come from the c20
    two-level prefix sum (per-doc token counts -> ~sqrt(N) bucket
    offsets -> intra-bucket windows), so no stage serializes more than
    ~sqrt(N) rows; prefix boundaries are exact integers (T*pct) DIV 100.

    Scale shape: tokenize once; the (digest, position) exchange carries
    md5 + one BIGINT (the d14 rule) into a map-side-combinable min; the
    K prefix tests fold into ONE aggregate row (no per-pct rescan)
    unpivoted via stack. Duplicate doc_ids stay deterministic: start
    offsets come from per-doc_id pre-aggregated counts (the c20 rule)
    and first-occurrence is a min over per-row-deterministic positions."""
    from pyspark.sql.window import Window

    ftoks = f"filter({_TOK_S}, t -> t != '')"
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(ftoks).alias("toks"))
    )
    from floorist_spark.operators._cache import track

    base = track(base.persist())
    docs = (
        base.select("doc_id", F.expr("CAST(size(toks) AS BIGINT)").alias("ntok"))
        .groupBy("doc_id")
        .agg(F.sum("ntok").alias("ntok"))
    )
    width = docs.select(
        F.expr(
            "greatest(CAST(16 AS BIGINT), "
            "CAST(ceil((max(doc_id) + 1) / "
            "ceil(sqrt(max(doc_id) + 1))) AS BIGINT))"
        ).alias("w")
    )
    per_doc = (
        docs.crossJoin(F.broadcast(width))
        .withColumn("bkt", F.expr("doc_id DIV w"))
        .drop("w")
    )
    bucket_totals = per_doc.groupBy("bkt").agg(F.sum("ntok").alias("btok"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_totals.select(
        "bkt", F.coalesce(F.sum("btok").over(w_bkt), F.lit(0)).alias("off")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = (
        per_doc.join(F.broadcast(offsets), "bkt")
        .withColumn(
            "start_off",
            F.col("off") + F.coalesce(F.sum("ntok").over(w_in), F.lit(0)),
        )
        .select("doc_id", "start_off")
    )
    first_occ = (
        base.select("doc_id", F.posexplode("toks").alias("idx", "tok"))
        .select("doc_id", "idx", F.expr("md5(tok)").alias("d"))
        .join(starts, "doc_id")
        .groupBy("d")
        .agg(F.min(F.expr("start_off + idx")).alias("first_pos"))
    )
    # the corpus token total is a 1-row aggregate — collect it (the
    # q45/d07-class scalar) and compute the prefix boundaries in exact
    # Python integer arithmetic (identical to both engines' integer
    # division on nonnegative totals). This keeps the final aggregate
    # GLOBAL: a groupBy(tot) over an empty first_occ table would emit
    # ZERO rows while the oracle's constant-select curve always emits
    # |T29_PCTS| — the curve must stay row-count invariant on a
    # zero-token corpus.
    tot = docs.agg(F.sum("ntok").cast("bigint")).first()[0]
    bounds = {
        p: ((tot * p) // 100 if tot is not None else None) for p in T29_PCTS
    }
    aggs = [F.count("*").alias("vocab_total")]
    for i, p in enumerate(T29_PCTS):
        b = bounds[p]
        cond = "FALSE" if b is None else f"first_pos < {b}"
        aggs.append(
            F.sum(F.expr(f"IF({cond}, 1, 0)")).cast("bigint").alias(f"v{i}")
        )
    stack_args = ", ".join(
        "CAST({p} AS INT), CAST({b} AS BIGINT), v{i}".format(
            p=p, b="NULL" if bounds[p] is None else bounds[p], i=i
        )
        for i, p in enumerate(T29_PCTS)
    )
    return (
        first_occ.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(T29_PCTS)}, {stack_args}) "
                "AS (pct, prefix_tokens, vocab_size)"
            ),
            "vocab_total",
        )
        .select(
            "pct",
            "prefix_tokens",
            "vocab_size",
            F.expr(
                "CASE WHEN vocab_total = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE CAST(vocab_size AS DOUBLE) / vocab_total END"
            ).alias("vocab_frac"),
            F.expr(
                "CASE WHEN prefix_tokens = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE CAST(vocab_size AS DOUBLE) / prefix_tokens END"
            ).alias("prefix_ttr"),
        )
        .orderBy("pct")
    )


def _t29_sql() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({p} AS INTEGER) AS pct,
       (SELECT (tot * {p}) // 100 FROM totals) AS prefix_tokens,
       (SELECT CAST(sum(CASE WHEN first_pos < (SELECT (tot * {p}) // 100
                                               FROM totals)
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM first_occ) AS vocab_size"""
        for p in T29_PCTS
    )
    return f"""
WITH base AS (
  SELECT doc_id, list_filter({_TOK_D}, t -> t != '') AS toks FROM documents
), docs AS (
  SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS ntok
  FROM base GROUP BY doc_id
), starts AS (
  SELECT doc_id,
         CAST(coalesce(sum(ntok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM docs
), first_occ AS (
  SELECT md5(toks[i]) AS d,
         CAST(min(start_off + i - 1) AS BIGINT) AS first_pos
  FROM base JOIN starts USING (doc_id),
       LATERAL unnest(range(1, len(toks) + 1)) AS t(i)
  GROUP BY 1
), totals AS (
  SELECT CAST(sum(ntok) AS BIGINT) AS tot FROM docs
), curve AS (
{rows}
)
SELECT pct, prefix_tokens, vocab_size,
       CASE WHEN (SELECT count(*) FROM first_occ) = 0 THEN NULL
            ELSE CAST(vocab_size AS DOUBLE)
                 / (SELECT count(*) FROM first_occ) END AS vocab_frac,
       CASE WHEN prefix_tokens = 0 THEN NULL
            ELSE CAST(vocab_size AS DOUBLE) / prefix_tokens END AS prefix_ttr
FROM curve ORDER BY pct
"""


QUERIES = {
    "t01_token_stats": t01_token_stats,
    "t02_quality_score": t02_quality_score,
    "t03_lang_id": t03_lang_id,
    "t04_fingerprint": t04_fingerprint,
    "t05_top_bigrams": t05_top_bigrams,
    "t06_regex_tokens": t06_regex_tokens,
    "t07_token_rarity": t07_token_rarity,
    "t08_word_repetition": t08_word_repetition,
    "t09_dup_ngram_fraction": t09_dup_ngram_fraction,
    "t10_tfidf_topk": t10_tfidf_topk,
    "t11_feature_hashing": t11_feature_hashing,
    "t12_bigram_lm_score": t12_bigram_lm_score,
    "t13_gopher_rules": t13_gopher_rules,
    "t14_langid_confusion": t14_langid_confusion,
    "t15_bpe_merges": t15_bpe_merges,
    "t16_zipf_audit": t16_zipf_audit,
    "t17_token_diversity": t17_token_diversity,
    "t18_pii_scrub": t18_pii_scrub,
    "t19_distribution_outliers": t19_distribution_outliers,
    "t20_readability": t20_readability,
    "t21_vocab_coverage": t21_vocab_coverage,
    "t22_rake_keyphrases": t22_rake_keyphrases,
    "t23_encoding_anomalies": t23_encoding_anomalies,
    "t24_source_divergence": t24_source_divergence,
    "t25_code_detect": t25_code_detect,
    "t26_hapax_census": t26_hapax_census,
    "t27_token_class_census": t27_token_class_census,
    "t28_token_rarity": t28_token_rarity,
    "t29_vocab_growth_curve": t29_vocab_growth_curve,
}

ORACLES = {
    "t01_token_stats": T01_SQL,
    "t02_quality_score": T02_SQL,
    "t03_lang_id": T03_SQL,
    "t04_fingerprint": T04_SQL,
    "t05_top_bigrams": T05_SQL,
    "t06_regex_tokens": T06_SQL,
    "t07_token_rarity": T07_SQL,
    "t08_word_repetition": T08_SQL,
    "t09_dup_ngram_fraction": T09_SQL,
    "t10_tfidf_topk": T10_SQL,
    "t11_feature_hashing": T11_SQL,
    "t12_bigram_lm_score": T12_SQL,
    "t13_gopher_rules": T13_SQL,
    "t14_langid_confusion": T14_SQL,
    "t15_bpe_merges": T15_SQL,
    "t16_zipf_audit": T16_SQL,
    "t17_token_diversity": T17_SQL,
    "t18_pii_scrub": T18_SQL,
    "t19_distribution_outliers": T19_SQL,
    "t20_readability": T20_SQL,
    "t21_vocab_coverage": T21_SQL,
    "t22_rake_keyphrases": _t22_sql(),
    "t23_encoding_anomalies": _t23_sql(),
    "t24_source_divergence": _t24_sql(),
    "t25_code_detect": _t25_sql(),
    "t26_hapax_census": T26_SQL,
    "t27_token_class_census": _t27_sql(),
    "t28_token_rarity": T28_SQL,
    "t29_vocab_growth_curve": _t29_sql(),
}
