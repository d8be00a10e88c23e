"""Bit-exactness gate for the r12 Arrow-batched shingle+signature pass.

The dedup family's root intermediate (hashed distinct char-5-gram sets)
and the MinHash signature table moved from a JVM expression chain to one
Arrow-batched Python scan (guide §4.2). Every downstream dedup oracle
hash depends on these values, so the rewrite ships behind this pin: the
Python pass must equal the retired expression chain VALUE-FOR-VALUE
(including array element order — array_distinct's first-occurrence
order) on the real corpora and on adversarial literals (NULL, empty,
short, unicode, control whitespace).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from floorist_spark.operators._cache import release_memos
from tests.conftest import SF_CORRECTNESS, SF_SMOKE

SF_BENCH = "/root/testdata/sf0.1"

_MINS_NSIG = 32  # NBANDS * NROWS


def _assert_parity(spark, sf_dir: str) -> None:
    from floorist_spark.operators.dedup import (
        _hashed_shingles,
        _hashed_shingles_expr,
        _signature_mins,
        _signature_mins_expr,
    )

    release_memos()
    try:
        new = _hashed_shingles(spark, sf_dir)
        ref = _hashed_shingles_expr(spark, sf_dir).select(
            "doc_id", F.col("sh").alias("sh_ref")
        )
        diff = (
            new.join(ref, "doc_id", "full_outer")
            .filter("NOT (sh <=> sh_ref)")
            .count()
        )
        assert diff == 0, f"hashed-shingle mismatch rows: {diff}"

        mins_new = _signature_mins(spark, sf_dir)
        mins_ref = _signature_mins_expr(spark, sf_dir).select(
            "doc_id",
            *[F.col(f"mh{i}").alias(f"ref{i}") for i in range(_MINS_NSIG)],
        )
        pred = " OR ".join(
            f"mh{i} IS DISTINCT FROM ref{i}" for i in range(_MINS_NSIG)
        )
        diff = (
            mins_new.join(mins_ref, "doc_id", "full_outer")
            .filter(pred)
            .count()
        )
        assert diff == 0, f"signature-min mismatch rows: {diff}"
    finally:
        release_memos()


def test_shingle_pass_parity_sf0001(spark):
    _assert_parity(spark, SF_SMOKE)


def test_shingle_pass_parity_sf001(spark):
    _assert_parity(spark, SF_CORRECTNESS)


def test_shingle_pass_parity_sf01(spark):
    """Full-corpus pin at the bench scale (VERDICT r11 item 2: the pin
    must hold at sf0.01 AND sf0.1 before the switch ships)."""
    _assert_parity(spark, SF_BENCH)


def test_twins_on_adversarial_literals(spark):
    """The Python pass over constructed rows that exercise every edge the
    expression chain defines behavior for: NULL text (→ [NULL] shingles,
    all-NULL mins), empty text (→ ['']), sub-k text (one whole-string
    shingle), unicode passthrough (ASCII-only fold), control whitespace,
    space runs, repeated shingles (distinct keeps first occurrence)."""
    from floorist_spark.functions import textfrag as tf
    from floorist_spark.operators.dedup import (
        SHINGLE_K,
        _shingle_minhash_batches,
    )

    texts = [
        None,
        "",
        " ",
        "\t\n\x0b\x0c\r",
        "ab",
        "aBc\tD\n e",
        "x" * 4,
        "x" * 5,
        "abcde" * 40,  # one distinct shingle per rotation, many repeats
        "a  b   c    d",
        "héllo wörld ĞİŞ σΣ" * 3,
        " em-space is not whitespace ",
        "🎉🎊🎈" * 7,
        "MiXeD CaSe WiTh   Runs\r\n\r\nof ws",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(
            _shingle_minhash_batches,
            "doc_id bigint, sh array<bigint>, mh array<bigint>",
        ).collect()
    }
    nrm_expr = tf.norm_spark("text")
    ref_sh = df.select(
        "doc_id", F.expr(nrm_expr).alias("nrm")
    ).select(
        "doc_id",
        F.expr(tf.shingles_spark("nrm", SHINGLE_K)).alias("raw"),
    ).select(
        "doc_id",
        F.expr(
            f"transform(array_distinct(raw), s -> {tf.base_hash_spark('s')})"
        ).alias("sh"),
    )
    ref_mh = ref_sh.select("doc_id", F.explode("sh").alias("h")).groupBy(
        "doc_id"
    ).agg(
        *[
            F.expr(f"min({tf.affine_spark('h', i)})").alias(f"mh{i}")
            for i in range(_MINS_NSIG)
        ]
    )
    for r in ref_sh.collect():
        assert out[r["doc_id"]]["sh"] == r["sh"], r["doc_id"]
    for r in ref_mh.collect():
        got = out[r["doc_id"]]["mh"]
        want = [r[f"mh{i}"] for i in range(_MINS_NSIG)]
        assert got == want, r["doc_id"]
