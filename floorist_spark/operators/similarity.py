"""Similarity search over the ``embeddings`` table (``embedding`` is
``array<float>``, 64-dim) — brute-force cosine top-k, sign-LSH bucketed ANN,
and an IVF (inverted-file) coarse-quantizer path.

New surface beyond the reference (SURVEY §7.2.7). All vector math uses
built-in higher-order functions (``zip_with``/``aggregate``) casting
float32→float64 exactly and folding strictly left-to-right, so every query
is bit-identical to its DuckDB oracle (``functions/textfrag.py``).

Scale design (100 TB / billions of vectors):

* s01 brute force is the CORRECTNESS baseline: O(Q·N) — valid only for a
  bounded query set; it broadcasts the Q queries, never shuffles the corpus;
* s02 buckets both sides with an 8-bit sign-LSH (axis-aligned random
  hyperplanes — deterministic here so the oracle can replay it; production
  would use seeded random planes) and joins within buckets only;
* s03/s04 are IVF: assign every vector to its nearest coarse centroid
  (broadcast the tiny centroid set), then search only the probed cluster.
  The centroid set here is deterministic (first K vectors) — production
  would train k-means (Spark MLlib KMeans fits; assignment plan identical);
* top-k is always computed per-partition-then-merge via window row_number
  over a bounded candidate set, never a global sort of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from floorist_spark.functions import textfrag as tf
from floorist_spark.session import load_table

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 3
N_CENTROIDS = 8  # vec_id < 8 double as deterministic coarse centroids

_COS_S = tf.cosine_spark("q_emb", "c_emb")
_COS_D = tf.cosine_duck("q.embedding", "c.embedding")

#: Canonical one-row-per-vec_id view for the ITERATIVE entries (s05's
#: Lloyd chain, s16's MMR greedy chain). Single-pass similarity entries
#: treat vec_id as a plain attribute — a duplicated id is just two corpus
#: rows, and total (value, id) tie-breaks keep both engines aligned. The
#: iterative chains are different: their state is KEYED by vec_id (a
#: Python dict of centroids, a picked-set anti-join on neighbor_id), so
#: conflicting duplicate ids make each engine collapse a different copy
#: and the chains diverge from round one (first seen: seed-11 `random`
#: degenerate corpus, round 11 — s05 assigned 5/14 vectors to different
#: centroids, s16 picked different pool rows). The fix pins the key
#: semantics: among duplicates, BOTH engines keep the lexicographically
#: least (embedding, label) row; with unique ids this is the identity.
_EMB_CANON_CTE = (
    "emb_c AS (SELECT vec_id, embedding, label FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
    "ORDER BY embedding ASC, label ASC) AS _rn FROM embeddings"
    ") WHERE _rn = 1)"
)


def _emb_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_EMB_CANON_CTE`` (see note above): one shuffle on
    vec_id; array columns order lexicographically in both engines."""
    w = Window.partitionBy("vec_id").orderBy(
        F.asc("embedding"), F.asc("label")
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _sign_bucket_spark(col: str, bits: int = 8) -> str:
    """``bits``-bit bucket from the signs of the first ``bits`` coords —
    index resolution is the knob (s13 composes a coarser 4-bit bucket
    with its label predicate; everything else uses the 8-bit default)."""
    return (
        f"aggregate(sequence(0, {bits - 1}), 0, (acc, j) -> "
        f"acc + IF(element_at({col}, j + 1) > 0, shiftleft(1, j), 0))"
    )


def _sign_bucket_duck(col: str, bits: int = 8) -> str:
    return (
        f"CAST(list_sum(list_transform(range(0, {bits}), j -> "
        f"CASE WHEN {col}[(j + 1)::INT] > 0 THEN (1 << j::INT) ELSE 0 END)) AS INTEGER)"
    )


# ---------------------------------------------------------------------------
# s01 — brute-force cosine top-k (baseline)
# ---------------------------------------------------------------------------

def s01_cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for each query vector. The query side
    (5 rows) broadcasts; the corpus streams through one narrow pass —
    per-partition partial top-k, merged by the window. O(Q·N) compute but
    zero corpus shuffle before the (Q·N)-row candidate set."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


S01_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_D} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s02 — sign-LSH bucketed ANN
# ---------------------------------------------------------------------------

def s02_lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3: candidates restricted to the query's sign-LSH
    bucket (expected N/256 of the corpus per bucket). The bounded query
    side broadcasts explicitly (not left to AQE statistics, which at
    small SF happily build the CORPUS side — wrong at scale), so the
    corpus streams through with ZERO shuffle; candidate count is
    sum(|bucket|·|queries in bucket|), never Q·N."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr(_sign_bucket_spark("embedding")).alias("bucket")
    )
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


S02_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c USING (bucket)
  WHERE q.vec_id < 50 AND q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s03 — IVF coarse assignment
# ---------------------------------------------------------------------------

def s03_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest coarse centroid (max cosine, ties
    to the lower centroid id). The centroid set is tiny and broadcast; the
    corpus is scanned once — this is exactly the shape of an MLlib KMeans
    transform at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    vecs = emb.select(F.col("vec_id"), F.col("embedding").alias("q_emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("centroid_id"))
    return (
        vecs.crossJoin(F.broadcast(cent))
        .select("vec_id", "centroid_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.col("cosine").alias("cos_to_centroid"))
        .orderBy("vec_id")
    )


S03_SQL = f"""
WITH scored AS (
  SELECT q.vec_id, c.vec_id AS centroid_id, {_COS_D} AS cosine
  FROM embeddings q, embeddings c WHERE c.vec_id < {N_CENTROIDS}
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cosine DESC, centroid_id ASC) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, cosine AS cos_to_centroid
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# s04 — IVF probe search
# ---------------------------------------------------------------------------

def s04_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with nprobe=1: each query searches only its own coarse
    cluster. Join on centroid_id co-locates query and candidates — the
    candidate count per query is the cluster size (~N/K), not N."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = s03_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    vecs = emb.join(assign, "vec_id")
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "centroid_id",
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "centroid_id",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q).join(c, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


S04_SQL = f"""
WITH scored0 AS (
  SELECT q.vec_id, c.vec_id AS centroid_id, {_COS_D} AS cosine
  FROM embeddings q, embeddings c WHERE c.vec_id < {N_CENTROIDS}
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cosine DESC, centroid_id ASC) AS rn
    FROM scored0
  ) WHERE rn = 1
), vecs AS (
  SELECT e.vec_id, e.embedding, a.centroid_id
  FROM embeddings e JOIN assign a USING (vec_id)
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM vecs q JOIN vecs c USING (centroid_id)
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s06 — multi-probe sign-LSH ANN
# ---------------------------------------------------------------------------

def s06_multiprobe_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: each query searches its own sign-LSH bucket PLUS
    the 8 buckets at hamming distance 1 (one flipped sign bit) — the
    standard recall knob for LSH without adding hash tables. The query
    side explodes into 9 probe keys and equi-joins on the bucket, so the
    plan stays hash-partitioned; candidate volume is 9x s02's, still
    ~N/28 per query rather than N."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr(_sign_bucket_spark("embedding")).alias("bucket")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            F.expr(
                "array_union(array(bucket), transform(sequence(0, 7), j -> "
                "CAST(bucket ^ shiftleft(1, j) AS INT)))"
            )
        ).alias("bucket"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.expr(_COS_S).alias("cosine"))
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


S06_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket FROM embeddings
), scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c ON bit_count(xor(q.bucket::BIGINT, c.bucket::BIGINT)) <= 1
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s05 — trained IVF coarse quantizer (deterministic Lloyd k-means)
# ---------------------------------------------------------------------------

#: Lloyd iterations for s05 — fixed count (not convergence-tested) so the
#: unrolled SQL oracle is finite and both engines run the same schedule.
T_LLOYD = 3
EMB_DIM = 64


def _sqdist_spark(q: str, c: str) -> str:
    """Squared-L2 fold, strictly left-to-right, per-element double cast —
    bit-identical to the DuckDB twin in _s05_sql()."""
    return (
        f"aggregate(zip_with({q}, {c}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )


def _sqdist_duck(q: str, c: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {EMB_DIM} + 1), i -> "
        f"({q}[i]::DOUBLE - {c}[i]::DOUBLE) * ({q}[i]::DOUBLE - {c}[i]::DOUBLE)), "
        f"(a, x) -> a + x)"
    )


#: deterministic coordinate mean: fold the member coordinates in vec_id
#: order with plain IEEE adds, then one divide. NOT a decimal sum — a
#: measured 100k-value audit showed Spark (shortest-repr string) and
#: DuckDB (exact binary expansion) round double→DECIMAL(38,18)
#: differently on 57% of float32-derived values, so decimal sums of
#: ANY float-typed input are cross-engine hazards; the ordered fold is
#: bit-identical by construction. (Member lists are cluster-sized — fine
#: for the deterministic pinning entry; production trains with MLlib.)


def s05_kmeans_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained version of s03: coarse centroids from k-means Lloyd
    iterations instead of the first-K stand-ins — but DETERMINISTIC end to
    end, so unlike an MLlib fit (partition-order-dependent float sums,
    randomized init) the final assignment hash-matches a DuckDB oracle.
    Init = the first K vectors (the same hash-free seeding s04's IVF
    uses); each of the T_LLOYD rounds assigns by squared-L2 argmin
    (ties → lowest centroid id) and recomputes every centroid coordinate
    as a vec_id-ordered IEEE fold divided once — a fixed evaluation
    order, so the result is a pure function of the data, not of the
    partitioning (see the coordinate-mean note below for why decimal
    sums are NOT used here).

    Scale shape: per round, one corpus scan against K broadcast centroids
    (s03's plan) plus one (centroid, dim)-grouped aggregate whose
    map-side-combined output is K×D rows; only that K×D table ever reaches
    the driver (the legitimate driver loop, like d09). MLlib KMeans
    remains the drop-in when bit-reproducibility is not required; this
    entry exists to pin trained-assignment semantics under the hash gate."""
    from floorist_spark.operators._cache import track

    emb = track(
        _emb_canonical(spark, sf_dir)
        .select("vec_id", "embedding")
        .persist()  # scanned T_LLOYD+1 times; the first scan fills it
    )

    cents: list[tuple[int, list[float]]] = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS)
        .orderBy("vec_id")
        .collect()
    ]

    def assign(centroids: list[tuple[int, list[float]]]) -> DataFrame:
        cent_df = spark.createDataFrame(
            centroids, "centroid_id BIGINT, c_emb ARRAY<DOUBLE>"
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.asc("dist"), F.asc("centroid_id")
        )
        return (
            emb.crossJoin(F.broadcast(cent_df))
            .select(
                "vec_id",
                "embedding",
                "centroid_id",
                F.expr(_sqdist_spark("embedding", "c_emb")).alias("dist"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "centroid_id")
        )

    prev = dict(cents)
    for _ in range(T_LLOYD):
        rows = (
            assign(list(prev.items()))
            .select(
                "vec_id", "centroid_id", F.posexplode("embedding").alias("j", "x")
            )
            .groupBy("centroid_id", "j")
            .agg(
                F.expr(
                    "aggregate(transform(array_sort(collect_list("
                    "struct(vec_id, x))), s -> CAST(s.x AS DOUBLE)), "
                    "CAST(0 AS DOUBLE), (a, b) -> a + b) / COUNT(*)"
                ).alias("v")
            )
            .collect()
        )
        upd: dict[int, dict[int, float]] = {}
        for r in rows:
            upd.setdefault(int(r["centroid_id"]), {})[int(r["j"])] = float(r["v"])
        prev = {
            cid: (
                [upd[cid][j] for j in range(EMB_DIM)] if cid in upd else old
            )  # empty cluster keeps its previous centroid (both engines)
            for cid, old in prev.items()
        }

    return (
        assign(list(prev.items()))
        .select("vec_id", "centroid_id")
        .orderBy("vec_id")
    )


def _s05_sql() -> str:
    """The T_LLOYD rounds unrolled as a CTE chain: c0 (first-K init) →
    a0 → c1 → a1 → … — every arithmetic step the exact twin of the Spark
    side (same fold order, same decimal render, same tie-break)."""
    parts = [
        _EMB_CANON_CTE,  # vec_id is a KEY here — see _EMB_CANON_CTE note
        f"c0 AS (SELECT vec_id AS centroid_id, embedding AS c_emb "
        f"FROM emb_c WHERE vec_id < {N_CENTROIDS})",
    ]
    # ORDER BY key audit (round 8): vec_id is the embeddings table key, so
    # the fold order is total within each (centroid_id, j) group; the Spark
    # twin folds in the same vec_id order.
    mean = (
        "list_reduce(list(embedding[j]::DOUBLE ORDER BY vec_id), "
        "(a, b) -> a + b) / COUNT(*)"
    )
    for t in range(T_LLOYD):
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sqdist_duck('e.embedding', 'c.c_emb')} ASC,
                      c.centroid_id ASC) AS rn
    FROM emb_c e, c{t} c
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""u{t} AS (
  SELECT centroid_id, j, {mean} AS v
  FROM a{t}, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS j)
  GROUP BY centroid_id, j
)"""
        )
        parts.append(
            f"""c{t + 1} AS (
  SELECT p.centroid_id, coalesce(n.emb, p.c_emb::DOUBLE[]) AS c_emb
  FROM c{t} p LEFT JOIN (
    -- ORDER BY j is key-complete: u{t} is GROUP BY (centroid_id, j)
    SELECT centroid_id, list(v ORDER BY j) AS emb FROM u{t} GROUP BY centroid_id
  ) n USING (centroid_id)
)"""
        )
    final = f"""SELECT vec_id, centroid_id FROM (
  SELECT e.vec_id, c.centroid_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY {_sqdist_duck('e.embedding', 'c.c_emb')} ASC,
                    c.centroid_id ASC) AS rn
  FROM emb_c e, c{T_LLOYD} c
) WHERE rn = 1 ORDER BY vec_id"""
    return "WITH " + ",\n".join(parts) + "\n" + final


# ---------------------------------------------------------------------------
# s07 — int8 scalar quantization (+ reconstruction error)
# ---------------------------------------------------------------------------

def _sq8_fragments(col: str, engine: str) -> tuple[str, str]:
    """(scale, codes) expressions for symmetric max-abs int8 quantization.
    Every step is an IEEE-754 correctly-rounded op (divide, multiply, add,
    floor) applied in identical order in both engines, so codes are
    bit-identical by construction; floor(x+0.5) is round-half-toward-+inf,
    chosen over round() because the engines' round() disagree on the
    half-to-even rule."""
    if engine == "spark":
        scale = (
            f"aggregate({col}, CAST(0 AS DOUBLE), "
            f"(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
        )
        codes = (
            f"transform({col}, x -> IF(scale = CAST(0 AS DOUBLE), 0, "
            f"CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS INT)))"
        )
    else:
        scale = (
            f"list_reduce(list_transform({col}, x -> abs(x::DOUBLE)), "
            f"(a, x) -> CASE WHEN x > a THEN x ELSE a END)"
        )
        codes = (
            f"list_transform({col}, x -> CASE WHEN scale = 0.0::DOUBLE THEN 0 "
            f"ELSE CAST(floor(x::DOUBLE / scale * 127.0 + 0.5) AS INTEGER) END)"
        )
    return scale, codes


def s07_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4× compression every billion-vector index applies before anything
    else (FAISS ``SQ8``): per-vector max-abs scale, code_j =
    round(x_j/scale*127). Output carries the codes, the scale, and the
    exact reconstruction MSE so a pipeline can gate on quantization loss.

    Scale shape: a narrow per-row map — no shuffle at all except the
    final order; at 100 TB this is the cheapest possible plan (and the
    codes column is what s08 then searches over). The reconstruction
    error folds strictly left-to-right for cross-engine bit-parity.

    The gated output carries ``codes_digest = md5(to_json(codes))``
    rather than the raw int array: harnesses that canonicalize result
    rows with pandas cannot sort/hash list cells, and both engines
    render the JSON identically (``[1,2,-3]``, no whitespace), so the
    digest is a deterministic cross-engine fingerprint of every code."""
    mse = (
        "aggregate(zip_with(embedding, codes, (x, c) -> "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 127.0 * scale) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 127.0 * scale)), "
        "CAST(0 AS DOUBLE), (a, x) -> a + x) / size(embedding)"
    )
    scale_s, codes_s = _sq8_fragments("embedding", "spark")
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", F.expr(scale_s).alias("scale"))
        .select("vec_id", "embedding", "scale", F.expr(codes_s).alias("codes"))
        .select(
            "vec_id",
            "scale",
            F.expr("md5(to_json(codes))").alias("codes_digest"),
            F.expr(mse).alias("recon_mse"),
        )
        .orderBy("vec_id")
    )


def _s07_sql() -> str:
    scale_d, codes_d = _sq8_fragments("embedding", "duck")
    mse_d = (
        "list_reduce(list_transform(range(1, len(embedding) + 1), i -> "
        "(embedding[i]::DOUBLE - codes[i]::DOUBLE / 127.0 * scale) * "
        "(embedding[i]::DOUBLE - codes[i]::DOUBLE / 127.0 * scale)), "
        "(a, x) -> a + x) / len(embedding)"
    )
    return f"""
WITH scaled AS (
  SELECT vec_id, embedding, {scale_d} AS scale FROM embeddings
), coded AS (
  SELECT vec_id, embedding, scale, {codes_d} AS codes FROM scaled
)
SELECT vec_id, scale, md5(to_json(codes)::VARCHAR) AS codes_digest,
       {mse_d} AS recon_mse
FROM coded ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# s08 — two-stage retrieval: quantized prefilter, exact rerank
# ---------------------------------------------------------------------------

#: candidates surviving the quantized stage per query
RERANK_POOL = 10


def s08_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval shape: stage 1 scores sign-LSH-bucket
    candidates on RECONSTRUCTED int8 vectors (what an index actually
    stores) and keeps a pool of ``RERANK_POOL``; stage 2 joins the exact
    float vectors back for only that pool and reranks to top-k. At scale
    the full-precision corpus is touched for Q×pool rows instead of every
    candidate — the bandwidth win that makes quantized indexes pay.

    Plan: the quantized table is built once (narrow map, persisted for
    its two consumers), the bucket equi-join bounds stage-1 candidates,
    and the rerank join keys on (neighbor_id) against the corpus scan —
    both sides hash-partitioned, no broadcast of anything scale-growing."""
    from floorist_spark.operators._cache import track

    scale_s, _ = _sq8_fragments("embedding", "spark")
    # quantize+reconstruct in ONE lambda that references `scale` three
    # times: a single-reference alias would be CollapseProject-inlined
    # into the per-element lambda and the max-abs aggregate re-evaluated
    # 64x per row (pitfall 1)
    recon_s = (
        "transform(embedding, x -> IF(scale = CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), "
        "CAST(CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS INT) AS DOUBLE) "
        "/ 127.0 * scale))"
    )
    quant = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
            F.expr(scale_s).alias("scale"),
        )
        .select("vec_id", "bucket", F.expr(recon_s).alias("recon"))
    )
    quant = track(quant.persist())
    q = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("recon").alias("q_rec"), "bucket"
    )
    c = quant.select(
        F.col("vec_id").alias("neighbor_id"), F.col("recon").alias("c_rec"), "bucket"
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    pool = (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(tf.cosine_spark("q_rec", "c_rec")).alias("approx_cosine"),
        )
        .withColumn("prank", F.row_number().over(w_pool))
        .filter(F.col("prank") <= RERANK_POOL)
    )
    exact = load_table(spark, sf_dir, "embeddings")
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pool.join(
            exact.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")),
            "query_id",
        )
        .join(
            exact.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "approx_cosine",
            F.expr(_COS_S).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _s08_sql() -> str:
    scale_d, _ = _sq8_fragments("embedding", "duck")
    recon_d = (
        "list_transform(embedding, x -> CASE WHEN scale = 0.0::DOUBLE "
        "THEN 0.0::DOUBLE ELSE "
        "(CAST(floor(x::DOUBLE / scale * 127.0 + 0.5) AS INTEGER))::DOUBLE "
        "/ 127.0 * scale END)"
    )
    return f"""
WITH scaled AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket,
         {scale_d} AS scale
  FROM embeddings
), quant AS (
  SELECT vec_id, bucket, {recon_d} AS recon FROM scaled
), pool AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {tf.cosine_duck("q.recon", "c.recon")} AS approx_cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {tf.cosine_duck("q.recon", "c.recon")} DESC,
                      c.vec_id ASC) AS prank
    FROM quant q JOIN quant c USING (bucket)
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
  ) WHERE prank <= {RERANK_POOL}
), reranked AS (
  SELECT p.query_id, p.neighbor_id, p.approx_cosine,
         {tf.cosine_duck("qe.embedding", "ce.embedding")} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
           ORDER BY {tf.cosine_duck("qe.embedding", "ce.embedding")} DESC,
                    p.neighbor_id ASC) AS rank
  FROM pool p
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ce ON ce.vec_id = p.neighbor_id
)
SELECT query_id, neighbor_id, approx_cosine, cosine, CAST(rank AS INTEGER) AS rank
FROM reranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s09 — ANN recall@k against the exact baseline
# ---------------------------------------------------------------------------

def s09_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the multi-probe LSH index (s06) against the exact
    brute-force top-k (s01) per query — the evaluation metric every ANN
    deployment tracks before trading accuracy for candidate volume.

    Scale shape: both inputs are top-k PAIR SETS (Q×k rows, corpus-size
    independent), so the audit join and per-query ratio cost nothing next
    to the searches themselves; the recall is an exact int/int division.
    At 100 TB this runs over a sampled query panel — the panel size, not
    the corpus, bounds the metric's cost."""
    truth = s01_cosine_topk_brute(spark, sf_dir).select("query_id", "neighbor_id")
    approx = s06_multiprobe_ann(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("found_id")
    )
    hits = (
        truth.join(
            approx,
            (truth.query_id == approx.query_id)
            & (truth.neighbor_id == approx.found_id),
            "left",
        )
        .select(truth.query_id, "neighbor_id", "found_id")
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count("*").alias("n_truth"),
            F.count("found_id").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_truth",
            "n_hit",
            F.expr("CAST(n_hit AS DOUBLE) / n_truth").alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


S09_SQL = f"""
WITH truth AS ({S01_SQL}), approx AS ({S06_SQL})
SELECT t.query_id,
       count(*) AS n_truth,
       count(a.neighbor_id) AS n_hit,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall_at_k
FROM truth t
LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id ORDER BY t.query_id
"""


# ---------------------------------------------------------------------------
# s10 — corpus kNN graph (bucketed, per-node top-k)
# ---------------------------------------------------------------------------

def s10_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-wide k-nearest-neighbor GRAPH: every vector's top-3
    cosine neighbors among its sign-LSH bucket mates — the substrate for
    graph clustering, SemDeDup-style pruning, and label propagation. This
    differs from s01-s08 (a small query set vs the corpus): here BOTH
    sides are corpus-sized, so an exact build is O(N²) and the bucket
    restriction is what makes the operator exist at scale.

    Scale shape: one shuffle of (vec_id, embedding) on the 8-bit bucket
    key, candidate pairs only within buckets (E[|bucket|] = N/256 →
    ~N²/256 scored pairs, vs N² brute), per-node top-k as a
    window row_number that compiles to WindowGroupLimit (partial top-k
    before the shuffle). At billions of vectors you'd widen to multi-band
    buckets (s06's multi-probe trick) to bound the recall loss; the graph
    edges per node stay K regardless of corpus size. Empty buckets /
    isolated nodes simply emit no edges (same as production kNN-graph
    builds)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr(_sign_bucket_spark("embedding")).alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "bucket"
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        a.join(b, "bucket")
        .filter(F.col("src_id") != F.col("neighbor_id"))
        .select("src_id", "neighbor_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("src_id", "rank")
    )


S10_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket FROM embeddings
), scored AS (
  SELECT q.vec_id AS src_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c USING (bucket)
  WHERE q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT src_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY src_id, rank
"""


# ---------------------------------------------------------------------------
# s11 — product quantization (per-subspace codebooks)
# ---------------------------------------------------------------------------

PQ_M = 8                     # subvectors per embedding
PQ_SUBDIM = EMB_DIM // PQ_M  # dims per subvector
PQ_K = 16                    # codewords per subspace (first-K codebook)


def s11_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (FAISS ``PQ``): split each embedding into
    ``PQ_M`` subvectors, encode each against an independent per-subspace
    codebook — the compression that takes a billion-vector index from
    float32 to M bytes/vector, an order beyond s07's SQ8. Codebooks here
    are the subvectors of the first ``PQ_K`` corpus rows (the same
    deterministic seeding as s03's IVF; s05 shows the deterministic
    trainer that would refine them). Output per vector: the code digest
    (scalar-only gate contract, like s07) and the exact reconstruction
    MSE so a pipeline can gate on PQ loss before switching its index.

    Scale shape: the codebook is M×K tiny and broadcast; the corpus
    explodes to M narrow subvector rows scored against K codewords
    JVM-side, then the argmin is a ``min(struct(dist, k))`` aggregate —
    map-side combinable, no window shuffle of vectors — and the
    per-vector rollup shuffles only (m, k, dist) scalars. Reconstruction
    error sums per-subspace distances as exact decimals, so the result is
    partition-order independent and bit-identical to the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub_expr = (
        f"transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}))"
    )
    cb = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").alias("k"),
            F.posexplode(F.expr(sub_expr)).alias("m", "cw"),
        )
    )
    subs = emb.select("vec_id", F.posexplode(F.expr(sub_expr)).alias("m", "sub"))
    scored = (
        subs.join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            "k",
            F.expr(_sqdist_spark("sub", "cw")).alias("dist"),
        )
    )
    best = (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "k")).alias("b"))
        .select("vec_id", "m", F.col("b.k").alias("k"), F.col("b.dist").alias("dist"))
    )
    # MSE folds the M per-subspace distances in m-order with plain IEEE
    # adds: a decimal-cast sum here would round each COMPUTED double at
    # digit 18, where the engines' double→decimal conversions disagree by
    # one unit (observed 1-ulp recon_mse flakes); an ordered fold of M=8
    # doubles is bit-deterministic with no conversion at all
    return (
        best.groupBy("vec_id")
        .agg(F.expr("array_sort(collect_list(struct(m, k, dist)))").alias("bb"))
        .select(
            "vec_id",
            F.expr("md5(to_json(transform(bb, s -> s.k)))").alias("codes_digest"),
            F.expr(
                "aggregate(transform(bb, s -> s.dist), CAST(0 AS DOUBLE), "
                f"(a, x) -> a + x) / {EMB_DIM}"
            ).alias("recon_mse"),
        )
        .orderBy("vec_id")
    )


def _s11_sql() -> str:
    dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUBDIM} + 1), i -> "
        f"(s.sub[i]::DOUBLE - c.cw[i]::DOUBLE) * (s.sub[i]::DOUBLE - c.cw[i]::DOUBLE)), "
        f"(a, x) -> a + x)"
    )
    return f"""
WITH sub AS (
  SELECT vec_id, m,
         embedding[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sub
  FROM embeddings, (SELECT unnest(range(0, {PQ_M})) AS m)
), cb AS (
  SELECT vec_id AS k, m, sub AS cw FROM sub WHERE vec_id < {PQ_K}
), scored AS (
  SELECT s.vec_id, s.m, c.k, {dist} AS dist
  FROM sub s JOIN cb c USING (m)
), best AS (
  SELECT vec_id, m, k, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY dist ASC, k ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
-- ORDER BY m is key-complete: best is rn=1 per (vec_id, m)
SELECT vec_id,
       md5(to_json(list(k ORDER BY m))::VARCHAR) AS codes_digest,
       list_reduce(list(dist ORDER BY m), (a, x) -> a + x)
         / {EMB_DIM} AS recon_mse
FROM best GROUP BY vec_id ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# s12 — kNN label classification over LSH-bucketed candidates
# ---------------------------------------------------------------------------

#: neighbors consulted per classification vote
KNN_VOTE_K = 5


def s12_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier over the ANN index: each query vector (vec_id < 50)
    is labeled by majority vote among its KNN_VOTE_K nearest same-bucket
    neighbors (sign-LSH, s02's candidate generation) — the standard
    label-propagation / auto-labeling pass a training-data pipeline runs
    to tag unlabeled documents from a labeled seed set. Every tie is
    deterministic: neighbor rank breaks (cosine DESC, neighbor_id ASC),
    the vote breaks (votes DESC, label ASC).

    Scale shape: identical to s02 — one bucket-keyed equi-join (the
    candidate set is sum(|bucket|·|queries in bucket|), never Q·N), one
    per-query window over ≤|bucket| rows, one tiny vote aggregate. The
    exactness of the gate rests on bit-identical cosines (textfrag strict
    left folds)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label",
        F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("n_label"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("n_label"))
    return (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "true_label", "neighbor_id", "n_label",
            F.expr(_COS_S).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_VOTE_K)
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count("*").alias("votes"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("n_label").alias("pred_label"),
            "votes",
            "true_label",
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


S12_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, label, {_sign_bucket_duck("embedding")} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS n_label,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c USING (bucket)
  WHERE q.vec_id < 50 AND q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
), votes AS (
  SELECT query_id, true_label, n_label, count(*) AS votes
  FROM ranked WHERE rank <= {KNN_VOTE_K}
  GROUP BY query_id, true_label, n_label
), best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY votes DESC, n_label ASC) AS vr
  FROM votes
)
SELECT query_id, n_label AS pred_label, votes, true_label,
       (n_label = true_label) AS correct
FROM best WHERE vr = 1 ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# s13 — metadata-filtered ANN (pre-filter + bucketed search)
# ---------------------------------------------------------------------------

def s13_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: each query's top-3 among corpus vectors
    sharing the query's ``label`` — the "metadata predicate + ANN"
    composition every vector store is asked for. The strategy is
    PRE-filtering: the label predicate becomes part of the join key
    instead of a post-search discard, so a selective filter cannot starve
    the result (post-filtering top-k then dropping mismatches returns
    fewer than k).

    Scale shape: the index key is the (label, bucket) pair — one shuffle
    co-locates the predicate AND the sign-LSH bucket, so candidates per
    query are |bucket ∩ label| (selectivity multiplies with the LSH
    reduction; s02 gets only the LSH factor). This is exactly a
    label-partitioned LSH index: at 100 TB the corpus would be written
    bucketed by (label, bucket) and the search becomes a co-located
    storage join with zero corpus shuffle per query batch.

    The bucket is 4-bit (vs s02's 8): the label predicate already cuts
    candidates by the label cardinality, so the combined key keeps
    comparable occupancy — index resolution composes with filter
    selectivity, the knob a production index tunes per-label."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        "label",
        F.expr(_sign_bucket_spark("embedding", bits=4)).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "label",
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "label",
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q).join(c, ["label", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "label", "neighbor_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


S13_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, label,
         {_sign_bucket_duck("embedding", bits=4)} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c USING (label, bucket)
  WHERE q.vec_id < 50 AND q.vec_id != c.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, label, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s14 — LSH index health audit (bucket occupancy + candidate-pair cost)
# ---------------------------------------------------------------------------

def s14_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational audit of the s02 sign-LSH index: bucket count,
    occupancy percentiles, the worst bucket, and the candidate-pair cost
    Σ c·(c−1)/2 the self-join would pay — plus the share of that cost
    concentrated in the single largest bucket. This is the pre-join
    cardinality estimate the d03 degenerate-bucket cap consumes: a
    top-bucket pair share near 1.0 says one hot bucket owns the join and
    the cap/quarantine path must fire BEFORE the shuffle is launched.

    Scale shape: one corpus scan → map-side-combined count per bucket
    (output is at most 256 rows here; at most 2^bits generally) → a
    single-partition final aggregate over that tiny table. The quantile
    pair is exact interpolated percentile over ≤2^bits values (c13/q32
    machinery). Nothing corpus-sized ever shuffles — the scan reduces to
    (bucket, count) immediately. All ratios are int-derived IEEE
    divisions, bit-identical cross-engine."""
    counts = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.expr(_sign_bucket_spark("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.groupBy()
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("cnt").alias("n_vectors"),
            F.max("cnt").alias("max_bucket"),
            F.expr("percentile(cnt, array(0.5, 0.9))").alias("p"),
            F.expr("CAST(sum(cnt * (cnt - 1) DIV 2) AS BIGINT)").alias(
                "cand_pairs"
            ),
            F.expr("CAST(max(cnt * (cnt - 1) DIV 2) AS BIGINT)").alias(
                "max_bucket_pairs"
            ),
        )
        .select(
            "n_buckets",
            "n_vectors",
            "max_bucket",
            F.expr("element_at(p, 1)").alias("p50_bucket"),
            F.expr("element_at(p, 2)").alias("p90_bucket"),
            F.expr("CAST(n_vectors AS DOUBLE) / n_buckets").alias(
                "mean_occupancy"
            ),
            F.expr("CAST(max_bucket * n_buckets AS DOUBLE) / n_vectors").alias(
                "skew_ratio"
            ),
            "cand_pairs",
            F.expr(
                "IF(cand_pairs > 0, "
                "CAST(max_bucket_pairs AS DOUBLE) / cand_pairs, NULL)"
            ).alias("top_bucket_pair_share"),
        )
    )


S14_SQL = f"""
WITH counts AS (
  SELECT {_sign_bucket_duck("embedding")} AS bucket, count(*) AS cnt
  FROM embeddings GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(cnt) AS BIGINT) AS n_vectors,
         CAST(max(cnt) AS BIGINT) AS max_bucket,
         quantile_cont(cnt, [0.5, 0.9]) AS p,
         CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS cand_pairs,
         CAST(max(cnt * (cnt - 1) // 2) AS BIGINT) AS max_bucket_pairs
  FROM counts
)
SELECT n_buckets, n_vectors, max_bucket,
       p[1] AS p50_bucket, p[2] AS p90_bucket,
       CAST(n_vectors AS DOUBLE) / n_buckets AS mean_occupancy,
       CAST(max_bucket * n_buckets AS DOUBLE) / n_vectors AS skew_ratio,
       cand_pairs,
       CASE WHEN cand_pairs > 0
            THEN CAST(max_bucket_pairs AS DOUBLE) / cand_pairs
       END AS top_bucket_pair_share
FROM agg
"""


# ---------------------------------------------------------------------------
# s15 — multi-probe operating frontier (recall vs candidate cost)
# ---------------------------------------------------------------------------

#: probe radii to price: hamming distance <= R over the 8 sign bits.
#: R=0 is s02 (own bucket), R=1 is s06 (9 probes), R=2 prices the next
#: rung (37 probes) — the knob every LSH deployment turns when recall
#: falls short.
PROBE_RADII = (0, 1, 2)


def _probe_masks(radius: int, bits: int = 8) -> list[int]:
    return [m for m in range(1 << bits) if bin(m).count("1") <= radius]


def s15_probe_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-probe operating frontier: for each probe radius R, the
    measured candidate volume AND the measured recall@k against the
    exact brute-force truth — one row per R. d19 prices the MinHash
    banding knob analytically + by census; this prices the sign-LSH
    probe knob empirically, which is how a deployment decides whether
    more probes (same index) or more hash bits (new index) buys the
    next recall point.

    Scale shape: per radius, the bounded query panel explodes into its
    probe keys (1/9/37 masks) and BROADCASTS — the corpus streams
    through an equi-join on the bucket with zero corpus shuffle (the
    s02/s06 rule; the hamming predicate is materialized as explicit
    probe keys precisely so the join stays an equi-join). The recall
    audit joins two Q×k pair sets — corpus-size independent. At 100 TB
    the panel is a sample; panel size bounds the frontier's cost."""
    from floorist_spark.operators._cache import track

    emb = track(
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
        )
        .persist()
    )
    truth = track(
        s01_cosine_topk_brute(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .persist()
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    parts = []
    for radius in PROBE_RADII:
        masks = _probe_masks(radius)
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                F.expr(
                    f"transform(array({', '.join(map(str, masks))}), "
                    "m -> CAST(bucket ^ m AS INT))"
                )
            ).alias("bucket"),
        )
        cand = track(
            F.broadcast(q)
            .join(c, "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", F.expr(_COS_S).alias("cosine"))
            .distinct()
            .persist()
        )
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", F.col("neighbor_id").alias("found_id"))
        )
        audit = (
            truth.join(
                topk,
                (truth.query_id == topk.query_id)
                & (truth.neighbor_id == topk.found_id),
                "left",
            )
            .agg(
                F.count("*").alias("n_truth"),
                F.count("found_id").alias("n_hit"),
            )
        )
        parts.append(
            audit.crossJoin(
                F.broadcast(cand.agg(F.count("*").alias("n_candidates")))
            ).select(
                F.lit(radius).cast("int").alias("probe_radius"),
                F.lit(len(masks)).cast("int").alias("n_probes"),
                "n_candidates",
                "n_truth",
                "n_hit",
                F.expr("CAST(n_hit AS DOUBLE) / nullif(n_truth, 0)").alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("probe_radius")


def _s15_sql() -> str:
    ctes = [
        f"b AS (SELECT vec_id, embedding, {_sign_bucket_duck('embedding')} AS bucket FROM embeddings)",
        f"truth AS ({S01_SQL})",
    ]
    selects = []
    for radius in PROBE_RADII:
        n_probes = len(_probe_masks(radius))
        ctes.append(
            f"""cand{radius} AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c ON bit_count(xor(q.bucket::BIGINT, c.bucket::BIGINT)) <= {radius}
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
)"""
        )
        ctes.append(
            f"""top{radius} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cand{radius}
  ) WHERE rank <= {TOP_K}
)"""
        )
        selects.append(
            f"""SELECT {radius} AS probe_radius, {n_probes} AS n_probes,
       (SELECT count(*) FROM cand{radius}) AS n_candidates,
       count(*) AS n_truth, count(a.neighbor_id) AS n_hit,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall_at_k
FROM truth t LEFT JOIN top{radius} a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY probe_radius\n"
    )


# ---------------------------------------------------------------------------
# s16 — MMR-diversified retrieval (maximal marginal relevance re-ranking)
# ---------------------------------------------------------------------------

MMR_POOL = 10  # relevance top-N candidate pool per query
MMR_K = 3  # diversified picks per query
#: written as CAST(0.7 AS DOUBLE) in both engines — the decimal literal
#: rounds to the same double either way, the cast just makes it explicit
MMR_LAMBDA = "CAST(0.7 AS DOUBLE)"
MMR_ONE_MINUS = "CAST(0.3 AS DOUBLE)"


def s16_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval (Carbonell & Goldstein '98):
    from each query's relevance top-``MMR_POOL`` pool, greedily pick
    ``MMR_K`` results maximizing ``λ·rel − (1−λ)·max_sim_to_selected`` —
    the de-duplicated result page every retrieval stack re-ranks with
    (a pool of near-identical neighbors collapses to one pick plus
    genuinely different results). New surface (SURVEY §7.2.7).

    Scale shape: the pool comes from the s01-style scan (production
    plugs in the s02/s06 ANN output — same (query, neighbor, cosine)
    schema); pairwise similarities are computed ONLY within each query's
    pool (Q·N² with N=10 — bounded per query, never corpus-pairwise).
    The greedy loop is ``MMR_K − 1`` bounded driver-composed rounds —
    like t15's BPE loop, each round is pure DataFrame ops (anti-join the
    picked set, max-sim aggregate, per-query window argmax) with NO
    collect; state between rounds is the Q-row picked set. Pool, pairs
    AND each round's picked table persist (released by the harness via
    track): round r references picked r−1 three times (anti-join,
    max-sim join, union), so an unpersisted chain re-inlines the whole
    previous round per reference — 3^(K−1) copies of round 1's subtree,
    166 Exchanges / 276 Windows in the executed plan at K=3. Persisting
    the Q·r-row picked set per round makes the CacheManager substitute
    one InMemoryRelation per reference: the final plan is linear in K
    (r11; guide §3.3 "materialise an intermediate to truncate the
    plan").
    Float path: cosine folds are bit-identical by textfrag construction;
    the MMR score is a fixed two-term scalar expression and ``max`` is
    order-independent, so scores hash-match the oracle exactly; ties
    break by neighbor_id. The greedy chain's picked-set is keyed by
    neighbor_id, so the input is the canonical per-vec_id view — see
    ``_EMB_CANON_CTE``."""
    from floorist_spark.operators._cache import track

    emb = _emb_canonical(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    pool = track(
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", F.expr(_COS_S).alias("cosine"), "c_emb"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MMR_POOL)
        .drop("rank")
        .persist()
    )
    sim = tf.cosine_spark("a_emb", "b_emb")
    pairs = track(
        pool.select("query_id", F.col("neighbor_id").alias("a_id"),
                    F.col("c_emb").alias("a_emb"))
        .join(
            pool.select("query_id", F.col("neighbor_id").alias("b_id"),
                        F.col("c_emb").alias("b_emb")),
            "query_id",
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .select("query_id", "a_id", "b_id", F.expr(sim).alias("sim"))
        .persist()
    )
    pool = pool.drop("c_emb")
    score = f"{MMR_LAMBDA} * cosine - {MMR_ONE_MINUS} * max_sim_prev"
    # the round-1 pick reuses `w` — pool rank and first pick MUST share
    # one total order or the oracle's greedy chain diverges on ties
    picked = (
        pool.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.expr("CAST(0 AS DOUBLE)").alias("max_sim_prev"),
            F.expr(f"{MMR_LAMBDA} * cosine").alias("mmr_score"),
            F.lit(1).alias("pick"),
        )
    )
    for r in range(2, MMR_K + 1):
        remaining = pool.join(
            picked.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        maxsim = (
            pairs.join(
                picked.select(
                    "query_id", F.col("neighbor_id").alias("b_id")
                ),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", F.col("a_id").alias("neighbor_id"))
            .agg(F.max("sim").alias("max_sim_prev"))
        )
        wr = Window.partitionBy("query_id").orderBy(
            F.desc("mmr_score"), F.asc("neighbor_id")
        )
        round_pick = (
            remaining.join(maxsim, ["query_id", "neighbor_id"])
            .withColumn("mmr_score", F.expr(score))
            .withColumn("rr", F.row_number().over(wr))
            .filter(F.col("rr") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "cosine",
                "max_sim_prev",
                "mmr_score",
                F.lit(r).alias("pick"),
            )
        )
        picked = picked.unionByName(round_pick)
        if r < MMR_K:
            picked = track(picked.persist())
    return picked.orderBy("query_id", "pick")


def _s16_sql() -> str:
    cos_ab = tf.cosine_duck("ea.embedding", "eb.embedding")
    score = f"{MMR_LAMBDA} * m.cosine - {MMR_ONE_MINUS} * m.max_sim_prev"
    sel_ctes = []
    for r in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, r))
        sel_ctes.append(f"""
picked{r} AS (SELECT query_id, neighbor_id FROM ({prev})),
m{r} AS (
  SELECT p.query_id, p.neighbor_id, p.cosine, max(pr.sim) AS max_sim_prev
  FROM pool p
  LEFT JOIN picked{r} x
    ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
  JOIN pairs pr ON pr.query_id = p.query_id AND pr.a_id = p.neighbor_id
  JOIN picked{r} s ON s.query_id = pr.query_id AND s.neighbor_id = pr.b_id
  WHERE x.neighbor_id IS NULL
  GROUP BY p.query_id, p.neighbor_id, p.cosine
),
sel{r} AS (
  SELECT query_id, neighbor_id, cosine, max_sim_prev, mmr_score,
         {r} AS pick
  FROM (
    SELECT m.*, {score} AS mmr_score,
           ROW_NUMBER() OVER (PARTITION BY m.query_id
             ORDER BY {score} DESC, m.neighbor_id) AS rr
    FROM m{r} m
  ) WHERE rr = 1
)""")
    body = ",".join(sel_ctes)
    final = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
WITH {_EMB_CANON_CTE},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_D} AS cosine
  FROM emb_c q JOIN emb_c c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
pool AS MATERIALIZED (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {MMR_POOL}
),
pairs AS MATERIALIZED (
  SELECT p1.query_id, p1.neighbor_id AS a_id, p2.neighbor_id AS b_id,
         {cos_ab} AS sim
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id
              AND p1.neighbor_id != p2.neighbor_id
  JOIN emb_c ea ON ea.vec_id = p1.neighbor_id
  JOIN emb_c eb ON eb.vec_id = p2.neighbor_id
),
sel1 AS (
  SELECT query_id, neighbor_id, cosine, CAST(0 AS DOUBLE) AS max_sim_prev,
         {MMR_LAMBDA} * cosine AS mmr_score, 1 AS pick
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pool
  ) WHERE rank = 1
),
{body}
SELECT query_id, neighbor_id, cosine, max_sim_prev, mmr_score,
       CAST(pick AS INTEGER) AS pick
FROM ({final}) ORDER BY query_id, pick
"""


# ---------------------------------------------------------------------------
# s17 — hard-negative mining (top-k most-similar DIFFERENT-label vectors)
# ---------------------------------------------------------------------------

#: query set for negative mining (matches s13's query prefix)
NEG_QUERIES = 50


def s17_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the top-3
    most-similar corpus vectors with a DIFFERENT label — the negatives
    that actually move a two-tower/contrastive loss (random negatives are
    trivially separable). The dual of s13: the label predicate is an
    INEQUALITY, so it cannot join into the index key; instead the join
    key is the sign-LSH bucket alone and the label test filters WITHIN
    the bucket — safe here because different-label vectors are the
    overwhelming majority of any bucket, the opposite selectivity regime
    from s13's equality. ``n_candidates`` audits the residual starvation
    corner (a bucket dominated by the query's own label): production
    would multi-probe neighboring buckets (s06) when it drops under k.
    New surface, SURVEY §7.2.7.

    Scale shape: bounded query side broadcast at the bucket join (the
    1e4ba04 rule — never let small-SF AQE stats pick the corpus side as
    build), candidates bounded by bucket occupancy, per-query top-k via
    window row_number over candidates only. At 100 TB the corpus is
    written bucketed by the sign hash and this is a zero-shuffle
    co-located probe per query batch."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        "label",
        F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < NEG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("query_label"),
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("neg_label"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_label") != F.col("neg_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neg_label",
            F.expr(_COS_S).alias("cosine"),
        )
        .withColumn(
            "n_candidates",
            F.count("*").over(Window.partitionBy("query_id")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


S17_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, label,
         {_sign_bucket_duck("embedding")} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neg_label,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine
  FROM b q JOIN b c USING (bucket)
  WHERE q.vec_id < {NEG_QUERIES} AND q.label != c.label
), ranked AS (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT)
           AS n_candidates,
         ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neg_label, cosine,
       n_candidates, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# s18 — reciprocal-rank fusion of two rankers (exact cosine ⊕ sign overlap)
# ---------------------------------------------------------------------------

#: query set for the fusion demo (matches s17's prefix)
RRF_QUERIES = 50
#: the standard RRF smoothing constant (Cormack et al. 2009)
RRF_K = 60
#: fused neighbors reported per query
FUSE_K = 5


def s18_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion: rank each query's bucket candidates by two
    independent signals — exact float cosine and the binary sign-overlap
    count (how many dims agree in sign, i.e. the Hamming similarity of
    the sign sketch) — and fuse with the standard RRF score
    1/(60+r₁) + 1/(60+r₂). The hybrid-retrieval primitive (dense ⊕
    sparse/binary) behind most production search stacks. New surface,
    SURVEY §7.2.7.

    Determinism: both ranks are integers from totally-ordered windows
    (score desc, neighbor asc); the RRF score is a FIXED two-term sum of
    two exact divisions, so the doubles are bit-identical cross-engine.

    Scale shape: bounded query side broadcast at the bucket join (the
    1e4ba04 rule); both rank windows and the fusion window partition on
    query_id over bucket-bounded candidate sets only — at 100 TB this is
    the same zero-corpus-shuffle probe shape as s02/s17 with two extra
    bounded windows."""
    sign_agree = (
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> "
        "IF((x > 0) = (y > 0), 1, 0)), 0, (a, x) -> a + x)"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < RRF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "bucket",
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    w_sign = Window.partitionBy("query_id").orderBy(
        F.desc("sign_agree"), F.asc("neighbor_id")
    )
    w_fuse = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(_COS_S).alias("cosine"),
            F.expr(sign_agree).alias("sign_agree"),
        )
        .withColumn("rank_cos", F.row_number().over(w_cos))
        .withColumn("rank_sign", F.row_number().over(w_sign))
        .withColumn(
            "rrf_score",
            F.expr(
                f"1e0 / ({RRF_K} + rank_cos) + 1e0 / ({RRF_K} + rank_sign)"
            ),
        )
        .withColumn("fused_rank", F.row_number().over(w_fuse))
        .filter(F.col("fused_rank") <= FUSE_K)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            "sign_agree",
            "rank_cos",
            "rank_sign",
            "rrf_score",
            "fused_rank",
        )
        .orderBy("query_id", "fused_rank")
    )


def _s18_sql() -> str:
    sign_agree = (
        "CAST(list_sum(list_transform(range(1, len(q.embedding) + 1), i -> "
        "CASE WHEN (q.embedding[i] > 0) = (c.embedding[i] > 0) "
        "THEN 1 ELSE 0 END)) AS INTEGER)"
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket_duck("embedding")} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.embedding")} AS cosine,
         {sign_agree} AS sign_agree
  FROM b q JOIN b c USING (bucket)
  WHERE q.vec_id < {RRF_QUERIES} AND q.vec_id != c.vec_id
), ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank_cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY sign_agree DESC, neighbor_id ASC) AS INTEGER)
           AS rank_sign
  FROM scored
), fused AS (
  SELECT *,
         1e0 / ({RRF_K} + rank_cos) + 1e0 / ({RRF_K} + rank_sign)
           AS rrf_score
  FROM ranked
), final AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_score DESC, neighbor_id ASC) AS INTEGER)
           AS fused_rank
  FROM fused
)
SELECT query_id, neighbor_id, cosine, sign_agree, rank_cos, rank_sign,
       rrf_score, fused_rank
FROM final WHERE fused_rank <= {FUSE_K} ORDER BY query_id, fused_rank
"""


# ---------------------------------------------------------------------------
# s19 — tombstone / compaction audit over the sign-LSH index
# ---------------------------------------------------------------------------

#: Hash-deterministic tombstones: vectors whose salted id-bucket is 0
#: (~10%) play the "deleted since last index build" set.
TOMB_MOD = 10


def s19_tombstone_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance audit: per sign-LSH cell, live vs tombstoned
    vector counts, reclaimable bytes (float32 payload), dead fraction,
    and a ``needs_compaction`` verdict at the 20% threshold (exact
    integer compare, ``5*n_dead >= n_total``). ANN indexes serve deletes
    as tombstones until a cell is rebuilt; this report is what the
    maintenance loop reads to rebuild ONLY dirty cells instead of the
    whole index — the incremental complement of s14's recall-health
    audit. Deletions are hash-derived from vec_id, so the audit is
    reproducible at any scale. New surface, SURVEY §7.2.7.

    Scale shape: one scan reduced to per-cell aggregates — every term
    (counts, byte sums) is map-side combinable, the exchange carries
    ≤2^8 cell rows, and no vector payload ever shuffles (the byte sum
    folds ``size(embedding)`` before the exchange)."""
    dead = f"({tf.idbucket_spark('tomb', TOMB_MOD, 'vec_id')}) = 0"
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.expr(_sign_bucket_spark("embedding")).alias("bucket"),
            F.expr(dead).alias("dead"),
            F.expr("CAST(size(embedding) * 4 AS BIGINT)").alias("nbytes"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.expr("IF(dead, 1, 0)")).cast("bigint").alias("n_dead"),
            F.sum(F.expr("IF(dead, nbytes, 0)"))
            .cast("bigint")
            .alias("reclaim_bytes"),
        )
        .select(
            "bucket",
            "n_total",
            "n_dead",
            F.expr("n_total - n_dead").alias("n_live"),
            "reclaim_bytes",
            F.expr("CAST(n_dead AS DOUBLE) / n_total").alias("dead_frac"),
            F.expr("5 * n_dead >= n_total").alias("needs_compaction"),
        )
        .orderBy("bucket")
    )


def _s19_sql() -> str:
    dead = f"({tf.idbucket_duck('tomb', TOMB_MOD, 'vec_id')}) = 0"
    return f"""
WITH f AS (
  SELECT {_sign_bucket_duck("embedding")} AS bucket,
         {dead} AS dead,
         CAST(len(embedding) * 4 AS BIGINT) AS nbytes
  FROM embeddings
), agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
         CAST(sum(CASE WHEN dead THEN nbytes ELSE 0 END) AS BIGINT)
           AS reclaim_bytes
  FROM f GROUP BY bucket
)
SELECT bucket, n_total, n_dead, n_total - n_dead AS n_live, reclaim_bytes,
       CAST(n_dead AS DOUBLE) / n_total AS dead_frac,
       5 * n_dead >= n_total AS needs_compaction
FROM agg ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# s20 — cell rebalancing plan over the sign-LSH index
# ---------------------------------------------------------------------------


def s20_cell_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance rebalancing plan: per sign-LSH cell, its vector
    count against the uniform target (total ÷ observed cells), and the
    action a maintenance job would take — ``split`` when the cell holds
    more than 2× target (with the estimated sub-cell count), ``merge``
    when under half the target, ``keep`` otherwise. Skewed cells are THE
    failure mode of bucketed ANN (one hot cell turns probes into scans
    — the same degeneracy the dedup family caps with MAX_BAND_BUCKET);
    this report is how the index keeps probe cost bounded over time.
    All thresholds are exact integer compares. Complements s14 (recall
    health) and s19 (tombstones): the three together are the index
    maintenance dashboard. New surface, SURVEY §7.2.7.

    Scale shape: one map-side-combinable count per cell, then the
    target/action math runs on the ≤2^8-row cell dimension (the totals
    window is a no-op there). No vector payload leaves the scan."""
    from pyspark.sql.window import Window

    cells = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.expr(_sign_bucket_spark("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cells.withColumn("total", F.sum("n_vecs").over(w))
        .withColumn("n_cells", F.count("*").over(w))
        .withColumn("target", F.expr("greatest(total DIV n_cells, 1)"))
        .select(
            "bucket",
            "n_vecs",
            "target",
            F.expr(
                "CASE WHEN n_vecs > 2 * target THEN 'split' "
                "WHEN 2 * n_vecs < target THEN 'merge' "
                "ELSE 'keep' END"
            ).alias("action"),
            F.expr(
                "CASE WHEN n_vecs > 2 * target "
                "THEN (n_vecs + target - 1) DIV target "
                "ELSE CAST(1 AS BIGINT) END"
            ).alias("est_parts"),
            F.expr("CAST(n_vecs AS DOUBLE) / target").alias("load_factor"),
        )
        .orderBy("bucket")
    )


def _s20_sql() -> str:
    return f"""
WITH cells AS (
  SELECT {_sign_bucket_duck("embedding")} AS bucket,
         CAST(count(*) AS BIGINT) AS n_vecs
  FROM embeddings GROUP BY 1
), t AS (
  SELECT *, CAST(sum(n_vecs) OVER () AS BIGINT) AS total,
         CAST(count(*) OVER () AS BIGINT) AS n_cells
  FROM cells
), p AS (
  SELECT *, greatest(total // n_cells, 1) AS target FROM t
)
SELECT bucket, n_vecs, target,
       CASE WHEN n_vecs > 2 * target THEN 'split'
            WHEN 2 * n_vecs < target THEN 'merge'
            ELSE 'keep' END AS action,
       CASE WHEN n_vecs > 2 * target THEN (n_vecs + target - 1) // target
            ELSE CAST(1 AS BIGINT) END AS est_parts,
       CAST(n_vecs AS DOUBLE) / target AS load_factor
FROM p ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# s21 — embedding-hygiene audit (the index-ingest admission gate)
# ---------------------------------------------------------------------------


def s21_embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-hygiene report, the admission gate an index
    runs BEFORE ingest: vector count, zero-norm count (cosine is
    undefined — these crash or silently rank first depending on the
    engine), exact-duplicate count within the label (index bloat:
    identical vectors waste cells and skew kNN votes), cross-label
    CONFLICT count (the same exact vector under different labels —
    poisoned supervision for s12/s17), and the norm envelope
    (min/median/max — a collapsed or exploding norm distribution is
    the classic sign of a broken encoder checkpoint). Duplicate counts
    are rows in a within-label dup group; conflict counts are rows
    whose exact value crosses labels — disjoint failure modes reported
    separately. Complements the maintenance dashboard (s14/s19/s20)
    with the ingest-side check. New surface, SURVEY §7.2.7.

    Float determinism: norms use the shared strict-left-fold fragments
    (textfrag.norm2_*) — bit-identical across engines; min/max are
    order-independent; the median is the EXACT element at rank
    (n+1) DIV 2 under (norm, vec_id) order — no interpolation, because
    Spark's percentile() midpoint arithmetic and DuckDB's
    quantile_cont can disagree by 1 ulp on double inputs. Zero-norm
    is an exact ``= 0.0`` compare on identically-computed doubles.

    Scale shape: duplicate/conflict detection groups on the RAW vector
    value, so those two exchanges carry the 256-byte embedding — the
    honest exactness trade at audit scale; the production swap is a
    fingerprint over the raw float bits (same plan shape, 16-byte
    keys), not values rendered to strings (float→string formats are
    engine-dependent). Everything else shuffles on the tiny label key;
    the median window sorts per label, the approx_percentile sketch is
    the 10⁹-vector swap-in (the c13 rule)."""
    from pyspark.sql.window import Window

    norm = tf.norm2_spark("embedding")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(norm).alias("norm")
    )
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    # within-label exact-duplicate groups; then labels-per-value over the
    # already-distinct (label, value) rows — the second aggregate and the
    # join-back touch one row per distinct value, not per vector
    per_label_val = vecs.groupBy("label", "embedding").agg(
        F.count("*").alias("n_copies")
    )
    per_val = per_label_val.groupBy("embedding").agg(
        F.count("*").alias("n_labels")
    )
    flagged = (
        per_label_val.join(per_val, "embedding")
        .groupBy("label")
        .agg(
            F.sum(F.expr("IF(n_copies > 1, n_copies, 0)"))
            .cast("bigint")
            .alias("n_dup_vecs"),
            F.sum(F.expr("IF(n_labels > 1, n_copies, 0)"))
            .cast("bigint")
            .alias("n_conflict_vecs"),
        )
    )
    w = Window.partitionBy("label").orderBy("norm", "vec_id")
    ranked = emb.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_label", F.count("*").over(Window.partitionBy("label"))
    )
    stats = ranked.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.expr("IF(norm = CAST(0 AS DOUBLE), 1, 0)"))
        .cast("bigint")
        .alias("n_zero_norm"),
        F.min("norm").alias("min_norm"),
        F.max(F.expr("IF(rn = (n_label + 1) DIV 2, norm, NULL)")).alias(
            "median_norm"
        ),
        F.max("norm").alias("max_norm"),
    )
    return (
        stats.join(flagged, "label")
        .select(
            "label",
            "n_vecs",
            "n_zero_norm",
            "n_dup_vecs",
            "n_conflict_vecs",
            "min_norm",
            "median_norm",
            "max_norm",
        )
        .orderBy("label")
    )


def _s21_sql() -> str:
    norm = tf.norm2_duck("embedding")
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding, {norm} AS norm FROM embeddings
),
per_label_val AS (
  SELECT label, embedding, CAST(count(*) AS BIGINT) AS n_copies
  FROM e GROUP BY label, embedding
),
per_val AS (
  SELECT embedding, CAST(count(*) AS BIGINT) AS n_labels
  FROM per_label_val GROUP BY embedding
),
flagged AS (
  SELECT label,
         CAST(sum(CASE WHEN g.n_copies > 1 THEN g.n_copies ELSE 0 END)
              AS BIGINT) AS n_dup_vecs,
         CAST(sum(CASE WHEN p.n_labels > 1 THEN g.n_copies ELSE 0 END)
              AS BIGINT) AS n_conflict_vecs
  FROM per_label_val g JOIN per_val p USING (embedding)
  GROUP BY label
),
ranked AS (
  SELECT label, norm,
         row_number() OVER (PARTITION BY label ORDER BY norm, vec_id)
           AS rn,
         count(*) OVER (PARTITION BY label) AS n_label
  FROM e
),
stats AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(CASE WHEN norm = 0.0::DOUBLE THEN 1 ELSE 0 END)
              AS BIGINT) AS n_zero_norm,
         min(norm) AS min_norm,
         max(CASE WHEN rn = (n_label + 1) // 2 THEN norm END)
           AS median_norm,
         max(norm) AS max_norm
  FROM ranked GROUP BY label
)
SELECT s.label, n_vecs, n_zero_norm, n_dup_vecs, n_conflict_vecs,
       min_norm, median_norm, max_norm
FROM stats s JOIN flagged f ON s.label = f.label
ORDER BY s.label
"""


# ---------------------------------------------------------------------------
# s22 — nprobe cost frontier (IVF candidate-volume model)
# ---------------------------------------------------------------------------

#: probe depths priced by the frontier (nprobe=1 is s04's operating point)
S22_NPROBES = (1, 2, 4, 8)

#: query population the COST axis is priced over. Deliberately wider than
#: the N_QUERIES (= 5) demo set its companion s23 measures RECALL on: the
#: cost model is counts-only (cell sizes × probe ranks — no per-candidate
#: scoring), so pricing 10× more queries is nearly free and smooths the
#: avg/max statistics, while s23 pays brute-force ground truth per query
#: and stays on the small set. The two axes are comparable per-QUERY
#: (avg_candidates vs recall), not per-population.
S22_COST_QUERIES = 50


def s22_nprobe_cost_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume cost model for the IVF index: for each nprobe in
    S22_NPROBES, how many candidates would each query scan if it probed
    its nprobe nearest coarse cells? Reported per nprobe as exact
    avg/max/total candidates and the fraction of the corpus touched —
    the numbers that decide the recall-vs-latency operating point
    BEFORE paying for a recall audit (s09 measures recall at nprobe=1;
    s15 walks the probe frontier by radius; this prices it by cell
    volume). New surface, SURVEY §7.2.7.

    Scale shape: cell sizes are a K-row aggregate of the s03 assignment
    (one corpus scan + map-side-combinable groupBy); the query-to-cell
    ranking is a broadcast K-centroid cross product over the bounded
    query set; joining the K-row size table onto the ranked probe list
    is a broadcast hash join; the per-(query, nprobe) sums are windows
    over <= K rows per query. No stage ever shuffles the corpus —
    the frontier is priced entirely from counts, the d19/m17 rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = s03_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    sizes = assigned.groupBy("centroid_id").agg(
        F.count("*").alias("cell_size")
    )
    corpus = emb.select(F.count("*").alias("n_corpus"))
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    q = emb.filter(F.col("vec_id") < S22_COST_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("centroid_id")
    )
    ranked = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "centroid_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rk", F.row_number().over(w))
    )
    wsum = (
        Window.partitionBy("query_id")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        ranked.join(F.broadcast(sizes), "centroid_id")
        .withColumn("cum_cand", F.sum("cell_size").over(wsum))
    )
    probes = spark.range(0, len(S22_NPROBES)).select(
        F.expr(
            f"element_at(array{S22_NPROBES}, CAST(id AS INT) + 1)"
        ).alias("nprobe")
    )
    return (
        cum.join(F.broadcast(probes), F.col("rk") == F.col("nprobe"))
        .groupBy("nprobe")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum("cum_cand").cast("bigint").alias("total_candidates"),
            F.max("cum_cand").cast("bigint").alias("max_candidates"),
        )
        .crossJoin(F.broadcast(corpus))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_queries",
            "total_candidates",
            F.expr("CAST(total_candidates AS DOUBLE) / n_queries").alias(
                "avg_candidates"
            ),
            "max_candidates",
            F.expr(
                "CAST(total_candidates AS DOUBLE) / n_queries / n_corpus"
            ).alias("corpus_frac"),
        )
        .orderBy("nprobe")
    )


S22_SQL = f"""
WITH assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT q.vec_id, c.vec_id AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_COS_D} DESC, c.vec_id ASC) AS rn
    FROM embeddings q, embeddings c WHERE c.vec_id < {N_CENTROIDS}
  ) WHERE rn = 1
),
sizes AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS cell_size
  FROM assigned GROUP BY centroid_id
),
ranked AS (
  SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
           ORDER BY {_COS_D} DESC, c.vec_id ASC) AS rk
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {S22_COST_QUERIES} AND c.vec_id < {N_CENTROIDS}
),
cum AS (
  SELECT r.query_id, r.rk,
         sum(s.cell_size) OVER (PARTITION BY r.query_id ORDER BY r.rk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cand
  FROM ranked r JOIN sizes s USING (centroid_id)
),
fr AS (
  SELECT CAST(rk AS INTEGER) AS nprobe,
         CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(cum_cand) AS BIGINT) AS total_candidates,
         CAST(max(cum_cand) AS BIGINT) AS max_candidates
  FROM cum WHERE rk IN {S22_NPROBES}
  GROUP BY rk
)
SELECT nprobe, n_queries, total_candidates,
       CAST(total_candidates AS DOUBLE) / n_queries AS avg_candidates,
       max_candidates,
       CAST(total_candidates AS DOUBLE) / n_queries
         / (SELECT count(*) FROM embeddings) AS corpus_frac
FROM fr ORDER BY nprobe
"""


# ---------------------------------------------------------------------------
# s23 — recall-vs-nprobe operating curve
# ---------------------------------------------------------------------------

def s23_recall_vs_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF operating curve itself: recall@k against the exact
    brute-force truth (s01) at every probe depth s22 prices — s22 gives
    the COST axis (candidates scanned), this gives the QUALITY axis
    (recall), and together they are the plot an ANN deployment picks its
    nprobe from. Per nprobe in S22_NPROBES: truth pairs, hits, exact
    recall. New surface, SURVEY §7.2.7.

    Scale shape: cosine is computed ONCE per (query, candidate) pair —
    the probe-depth fan-out joins rank tags [rc <= nprobe] AFTER scoring,
    so deepening the sweep never rescoreds vectors. Candidates come from
    the assignment equi-join on centroid_id (cluster-sized buckets);
    queries and the K-centroid table broadcast; per-(query, nprobe)
    top-k is a window over <= cluster-union rows; the final rollup is a
    4-row aggregate with exact integer hit counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = s01_cosine_topk_brute(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    assigned = s03_ivf_assign(spark, sf_dir).select(
        F.col("vec_id").alias("cand_id"), "centroid_id"
    )
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("centroid_id")
    )
    cells = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "centroid_id", F.expr(_COS_S).alias("cosine"))
        .withColumn("rc", F.row_number().over(wc))
        .select("query_id", "centroid_id", "rc")
    )
    cand_emb = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        cells.join(assigned, "centroid_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .join(cand_emb, "cand_id")
        .select("query_id", "cand_id", "rc", F.expr(_COS_S).alias("cosine"))
    )
    probes = spark.range(0, len(S22_NPROBES)).select(
        F.expr(
            f"element_at(array{S22_NPROBES}, CAST(id AS INT) + 1)"
        ).alias("nprobe")
    )
    wk = Window.partitionBy("query_id", "nprobe").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    found = (
        scored.join(F.broadcast(probes), F.col("rc") <= F.col("nprobe"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= TOP_K)
        .select("nprobe", "query_id", "cand_id")
    )
    tot = truth.agg(F.count("*").alias("n_truth"))
    hits = (
        found.join(
            truth,
            (found.query_id == truth.query_id)
            & (found.cand_id == truth.neighbor_id),
        )
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        probes.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_truth",
            F.expr("coalesce(n_hits, CAST(0 AS BIGINT))").alias("n_hits"),
            F.expr(
                "CAST(coalesce(n_hits, CAST(0 AS BIGINT)) AS DOUBLE) "
                "/ nullif(n_truth, 0)"
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


S23_SQL = f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM ({S01_SQL.replace("ORDER BY query_id, rank", "")})
),
assigned AS (
  SELECT vec_id AS cand_id, centroid_id FROM (
    SELECT q.vec_id, c.vec_id AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_COS_D} DESC, c.vec_id ASC) AS rn
    FROM embeddings q, embeddings c WHERE c.vec_id < {N_CENTROIDS}
  ) WHERE rn = 1
),
cells AS (
  SELECT query_id, centroid_id, rc FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_COS_D} DESC, c.vec_id ASC) AS rc
    FROM embeddings q, embeddings c
    WHERE q.vec_id < {N_QUERIES} AND c.vec_id < {N_CENTROIDS}
  )
),
scored AS (
  SELECT ce.query_id, a.cand_id, ce.rc, {_COS_D} AS cosine
  FROM cells ce
  JOIN assigned a USING (centroid_id)
  JOIN embeddings q ON q.vec_id = ce.query_id
  JOIN embeddings c ON c.vec_id = a.cand_id
  WHERE a.cand_id != ce.query_id
),
probes AS (SELECT unnest({list(S22_NPROBES)}) AS nprobe),
found AS (
  SELECT nprobe, query_id, cand_id FROM (
    SELECT p.nprobe, s.query_id, s.cand_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id, p.nprobe
             ORDER BY s.cosine DESC, s.cand_id ASC) AS rk
    FROM scored s JOIN probes p ON s.rc <= p.nprobe
  ) WHERE rk <= {TOP_K}
),
hits AS (
  SELECT f.nprobe, CAST(count(*) AS BIGINT) AS n_hits
  FROM found f JOIN truth t
    ON f.query_id = t.query_id AND f.cand_id = t.neighbor_id
  GROUP BY f.nprobe
)
SELECT CAST(p.nprobe AS INTEGER) AS nprobe,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE)
         / (SELECT count(*) FROM truth) AS recall
FROM probes p LEFT JOIN hits h USING (nprobe)
ORDER BY nprobe
"""


# ---------------------------------------------------------------------------
# s24 — centroid separation audit (geometric index health)
# ---------------------------------------------------------------------------

#: merge-candidate threshold: a centroid whose nearest-neighbor margin is
#: below median_margin / S24_MERGE_DIVISOR is geometrically redundant —
#: its cell boundary sits deep inside a neighbor's basin
S24_MERGE_DIVISOR = 4


def s24_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric index-health audit over the coarse centroids: per
    centroid, its nearest OTHER centroid and the squared-L2 margin to it,
    the cell population, the margin's ratio to the K-set's median margin,
    and a merge-candidate flag (margin < median/4). s14 audits bucket
    OCCUPANCY and s20 plans SIZE rebalancing; this is the missing
    geometry axis — two centroids can carry balanced cells while sitting
    on top of each other, which wastes a probe (every query near one must
    probe both, the s22 cost model's hidden multiplier) and starves
    recall at fixed nprobe. The merge list feeds the same maintenance
    loop s20's split list does. New surface, SURVEY §7.2.7.

    Determinism: every margin is ONE fixed-order sqdist fold over the dim
    range (the s05 rule — no decimal sums of float inputs); the median is
    a rank-1 SELECTION (lower median at row_number (K+1)//2 ordered by
    (margin, centroid_id)), not an average, so no new float op is
    introduced; the ratio is one double division.

    Scale shape: the K×K centroid matrix is a broadcast self-join over K
    rows (K = index partition count, thousands at most — never corpus-
    sized); cell sizes reuse the s03 assignment (one corpus scan, K-row
    aggregate); everything downstream operates on K rows. No corpus-
    sized exchange anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    other = cent.select(
        F.col("centroid_id").alias("nn_centroid"), F.col("c_emb").alias("o_emb")
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.asc("margin"), F.asc("nn_centroid")
    )
    nearest = (
        cent.crossJoin(F.broadcast(other))
        .filter(F.col("centroid_id") != F.col("nn_centroid"))
        .select(
            "centroid_id",
            "nn_centroid",
            F.expr(_sqdist_spark("c_emb", "o_emb")).alias("margin"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    med_rank = (N_CENTROIDS + 1) // 2
    w_all = Window.orderBy(F.asc("margin"), F.asc("centroid_id"))
    median = (
        nearest.withColumn("mrk", F.row_number().over(w_all))
        .filter(F.col("mrk") == med_rank)
        .select(F.col("margin").alias("median_margin"))
    )
    sizes = (
        s03_ivf_assign(spark, sf_dir)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("cell_size"))
    )
    return (
        # sizes is a K-row aggregate — broadcast it so the audit never
        # plans a sort-merge exchange over the (tiny) centroid axis
        nearest.join(F.broadcast(sizes), "centroid_id", "left")
        .crossJoin(F.broadcast(median))
        .select(
            "centroid_id",
            F.coalesce("cell_size", F.lit(0)).alias("cell_size"),
            "nn_centroid",
            "margin",
            F.expr(
                "CASE WHEN median_margin = 0 THEN 0.0 "
                "ELSE margin / median_margin END"
            ).alias("margin_ratio"),
            F.expr(
                f"margin * {S24_MERGE_DIVISOR} < median_margin"
            ).alias("merge_candidate"),
        )
        .orderBy("centroid_id")
    )


S24_SQL = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
), nearest AS (
  SELECT centroid_id, nn_centroid, margin FROM (
    SELECT a.centroid_id, b.centroid_id AS nn_centroid,
           {_sqdist_duck('a.c_emb', 'b.c_emb')} AS margin,
           ROW_NUMBER() OVER (PARTITION BY a.centroid_id
             ORDER BY {_sqdist_duck('a.c_emb', 'b.c_emb')} ASC,
                      b.centroid_id ASC) AS rn
    FROM cent a JOIN cent b ON a.centroid_id != b.centroid_id
  ) WHERE rn = 1
), med AS (
  -- exact lower-median SELECTION (rank {(N_CENTROIDS + 1) // 2} of
  -- {N_CENTROIDS}), not an average: no new float operation
  SELECT margin AS median_margin FROM (
    SELECT margin, ROW_NUMBER() OVER (ORDER BY margin ASC, centroid_id ASC)
             AS mrk
    FROM nearest
  ) WHERE mrk = {(N_CENTROIDS + 1) // 2}
), sizes AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS cell_size FROM (
    SELECT vec_id, centroid_id FROM (
      SELECT q.vec_id, c.vec_id AS centroid_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY {_COS_D} DESC, c.vec_id ASC) AS rn
      FROM embeddings q, embeddings c WHERE c.vec_id < {N_CENTROIDS}
    ) WHERE rn = 1
  ) GROUP BY centroid_id
)
SELECT n.centroid_id,
       CAST(coalesce(s.cell_size, 0) AS BIGINT) AS cell_size,
       n.nn_centroid, n.margin,
       CASE WHEN m.median_margin = 0 THEN 0.0
            ELSE n.margin / m.median_margin END AS margin_ratio,
       n.margin * {S24_MERGE_DIVISOR} < m.median_margin AS merge_candidate
FROM nearest n LEFT JOIN sizes s USING (centroid_id) CROSS JOIN med m
ORDER BY n.centroid_id
"""


# ---------------------------------------------------------------------------
# s25 — scalar-quantization bit-width sweep (distortion vs compression)
# ---------------------------------------------------------------------------

#: candidate symmetric bit widths: (bits, max level) — level = 2^(bits-1)-1
S25_WIDTHS = ((8, 127), (4, 7), (2, 1))
#: per-vector MSE thresholds for the distortion histogram (doubles compare
#: deterministically — the per-vector MSE itself is bit-identical, s07)
S25_THRESHOLDS = (1e-6, 1e-4, 1e-2)


def s25_quantization_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How few bits can the index afford? Per candidate width (int8 /
    int4 / int2 symmetric max-abs, the s07 scheme at level 2^(b-1)-1):
    the corpus distortion profile — vector count, max per-vector
    reconstruction MSE, and how many vectors exceed each fixed MSE
    threshold. The memory-vs-recall tradeoff every billion-vector
    deployment sweeps before committing: int4 halves int8's footprint
    again, and this table says what that costs in reconstruction error
    (s23 answers the recall side; together they are the operating
    curve). Distortion summaries are threshold COUNTS and a max — never
    a float SUM across vectors, whose order would be engine- and
    partition-dependent; the per-vector MSE folds left-to-right in
    array order, bit-identical cross-engine exactly as in s07.

    Scale shape: the (vector, scale) base builds once (narrow map,
    persisted, released at the catalog boundary); each width adds one
    codes+MSE projection over the cached base — no rescan, no shuffle
    except the three 1-row aggregates; output is |widths| rows. Codes
    materialize as a column per width so the max-abs aggregate is not
    re-evaluated per element inside a lambda (pitfall 1)."""
    from floorist_spark.operators._cache import track

    scale_s, _ = _sq8_fragments("embedding", "spark")
    base = track(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", F.expr(scale_s).alias("scale"))
        .persist()
    )
    parts = []
    for bits, lvl in S25_WIDTHS:
        codes = (
            f"transform(embedding, x -> IF(scale = CAST(0 AS DOUBLE), 0, "
            f"CAST(floor(CAST(x AS DOUBLE) / scale * {lvl}.0 + 0.5) AS INT)))"
        )
        mse = (
            "aggregate(zip_with(embedding, codes, (x, c) -> "
            f"(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / {lvl}.0 * scale) * "
            f"(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / {lvl}.0 * scale)), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x) / size(embedding)"
        )
        per_vec = base.withColumn("codes", F.expr(codes)).select(
            F.expr(mse).alias("mse")
        )
        parts.append(
            per_vec.agg(
                F.count("*").alias("n_vecs"),
                F.max("mse").alias("max_mse"),
                *[
                    F.sum(F.expr(f"IF(mse > {t}, 1, 0)"))
                    .cast("bigint")
                    .alias(f"n_gt_{i}")
                    for i, t in enumerate(S25_THRESHOLDS)
                ],
            ).select(
                F.lit(bits).cast("int").alias("bits"),
                F.lit(lvl).cast("int").alias("max_level"),
                "n_vecs",
                "max_mse",
                *[f"n_gt_{i}" for i in range(len(S25_THRESHOLDS))],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy(F.desc("bits"))


def _s25_sql() -> str:
    scale_d, _ = _sq8_fragments("embedding", "duck")
    selects = []
    for bits, lvl in S25_WIDTHS:
        codes = (
            f"list_transform(embedding, x -> CASE WHEN scale = 0.0::DOUBLE "
            f"THEN 0 ELSE CAST(floor(x::DOUBLE / scale * {lvl}.0 + 0.5) "
            f"AS INTEGER) END)"
        )
        mse = (
            "list_reduce(list_transform(range(1, len(embedding) + 1), i -> "
            f"(embedding[i]::DOUBLE - codes[i]::DOUBLE / {lvl}.0 * scale) * "
            f"(embedding[i]::DOUBLE - codes[i]::DOUBLE / {lvl}.0 * scale)), "
            "(a, x) -> a + x) / len(embedding)"
        )
        counts = ",\n       ".join(
            f"CAST(sum(CASE WHEN mse > {t} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_gt_{i}"
            for i, t in enumerate(S25_THRESHOLDS)
        )
        selects.append(f"""
SELECT CAST({bits} AS INTEGER) AS bits, CAST({lvl} AS INTEGER) AS max_level,
       CAST(count(*) AS BIGINT) AS n_vecs,
       max(mse) AS max_mse,
       {counts}
FROM (
  SELECT {mse} AS mse
  FROM (SELECT embedding, scale, {codes} AS codes
        FROM (SELECT embedding, {scale_d} AS scale FROM embeddings))
)""")
    body = "\nUNION ALL\n".join(selects)
    return f"{body}\nORDER BY bits DESC"


# ---------------------------------------------------------------------------
# s26 — recall@k under scalar quantization (the retrieval side of s25)
# ---------------------------------------------------------------------------

def s26_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each bit width COST in retrieval quality? Per s25 width
    (int8/int4/int2): brute-force top-k per query over the RECONSTRUCTED
    corpus (full-precision query against dequantized codes — the ADC
    shape every quantized index scores with), compared to the exact s01
    truth. Output per width: truth-pair and hit counts plus recall@k as
    one exact int/int division. s25 reports the geometric distortion;
    this is the metric that decides — a width whose recall matches int8
    at half the bytes wins regardless of its MSE.

    Determinism: reconstruction and cosine fold in fixed array order
    (bit-identical, the s05/s07 rule); ranking ties break on
    (score DESC, neighbor_id) — essential here because 2-bit codes
    collapse many corpus vectors onto IDENTICAL reconstructions, making
    score ties the norm, not the edge case.

    Scale shape: per width, the Q-row query panel broadcasts and the
    quantized corpus streams through one narrow projection (codes →
    recon → cosine) — O(Q·N) compute, zero corpus shuffle before the
    (Q·N)-row candidate set, same ride as s01; the audit join is over
    Q×k pair sets. At 100 TB the query panel, not the corpus, bounds
    the metric's cost (the s09 rule)."""
    scale_s, _ = _sq8_fragments("embedding", "spark")
    truth = s01_cosine_topk_brute(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    from floorist_spark.operators._cache import track

    truth = track(truth.persist())
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.expr(scale_s).alias("scale"),
    )
    parts = []
    for bits, lvl in S25_WIDTHS:
        recon = (
            f"transform(embedding, x -> IF(scale = CAST(0 AS DOUBLE), "
            f"CAST(0 AS DOUBLE), "
            f"CAST(CAST(floor(CAST(x AS DOUBLE) / scale * {lvl}.0 + 0.5) AS INT)"
            f" AS DOUBLE) / {lvl}.0 * scale))"
        )
        c = base.select(
            "neighbor_id", F.expr(recon).alias("c_emb")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("qcos"), F.asc("neighbor_id")
        )
        approx = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.expr(tf.cosine_spark("q_emb", "c_emb")).alias("qcos"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", F.col("neighbor_id").alias("found_id"))
        )
        # both sides are QxK-row pair sets — broadcast the probe so the
        # audit join never sort-merges (stats are unknown statically)
        hit = truth.join(
            F.broadcast(approx),
            (truth.query_id == approx.query_id)
            & (truth.neighbor_id == approx.found_id),
            "left_semi",
        )
        parts.append(
            truth.agg(F.count("*").alias("n_truth"))
            .crossJoin(F.broadcast(hit.agg(F.count("*").alias("n_hit"))))
            .select(
                F.lit(bits).cast("int").alias("bits"),
                F.lit(N_QUERIES).cast("int").alias("n_queries"),
                "n_truth",
                "n_hit",
                F.expr("CAST(n_hit AS DOUBLE) / nullif(n_truth, 0)").alias("recall_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy(F.desc("bits"))


def _s26_sql() -> str:
    scale_d, _ = _sq8_fragments("embedding", "duck")
    selects = []
    for bits, _lvl in S25_WIDTHS:
        selects.append(f"""
SELECT CAST({bits} AS INTEGER) AS bits,
       CAST({N_QUERIES} AS INTEGER) AS n_queries,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM truth t
        WHERE EXISTS (SELECT 1 FROM approx_{bits} a
                      WHERE a.query_id = t.query_id
                        AND a.neighbor_id = t.neighbor_id)) AS n_hit,
       CAST((SELECT count(*) FROM truth t
             WHERE EXISTS (SELECT 1 FROM approx_{bits} a
                           WHERE a.query_id = t.query_id
                             AND a.neighbor_id = t.neighbor_id)) AS DOUBLE)
         / (SELECT count(*) FROM truth) AS recall_at_k""")
    approx_ctes = ",\n".join(
        f"""recon_{bits} AS (
  SELECT vec_id, {recon_expr} AS c_emb
  FROM (SELECT vec_id, embedding, {scale_d} AS scale FROM embeddings)
), scored_{bits} AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {tf.cosine_duck("q.embedding", "c.c_emb")} AS qcos
  FROM embeddings q JOIN recon_{bits} c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
), approx_{bits} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY qcos DESC, neighbor_id ASC) AS rank
    FROM scored_{bits}
  ) WHERE rank <= {TOP_K}
)"""
        for bits, lvl in S25_WIDTHS
        for recon_expr in [
            f"list_transform(embedding, x -> CASE WHEN scale = 0.0::DOUBLE "
            f"THEN 0.0::DOUBLE ELSE CAST(floor(x::DOUBLE / scale * {lvl}.0 "
            f"+ 0.5) AS INTEGER)::DOUBLE / {lvl}.0 * scale END)"
        ]
    )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {tf.cosine_duck("q.embedding", "c.embedding")} DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
),
{approx_ctes}
{body}
ORDER BY bits DESC
"""


QUERIES = {
    "s01_cosine_topk_brute": s01_cosine_topk_brute,
    "s02_lsh_bucketed_ann": s02_lsh_bucketed_ann,
    "s03_ivf_assign": s03_ivf_assign,
    "s04_ivf_search": s04_ivf_search,
    "s05_kmeans_ivf_assign": s05_kmeans_ivf_assign,
    "s06_multiprobe_ann": s06_multiprobe_ann,
    "s07_sq8_quantize": s07_sq8_quantize,
    "s08_quantized_rerank": s08_quantized_rerank,
    "s09_ann_recall": s09_ann_recall,
    "s10_knn_graph": s10_knn_graph,
    "s11_pq_quantize": s11_pq_quantize,
    "s12_knn_classify": s12_knn_classify,
    "s13_filtered_ann": s13_filtered_ann,
    "s14_index_health": s14_index_health,
    "s15_probe_frontier": s15_probe_frontier,
    "s16_mmr_diversify": s16_mmr_diversify,
    "s17_hard_negatives": s17_hard_negatives,
    "s18_rrf_fusion": s18_rrf_fusion,
    "s19_tombstone_compaction": s19_tombstone_compaction,
    "s20_cell_rebalance": s20_cell_rebalance,
    "s21_embedding_hygiene": s21_embedding_hygiene,
    "s22_nprobe_cost_frontier": s22_nprobe_cost_frontier,
    "s23_recall_vs_nprobe": s23_recall_vs_nprobe,
    "s24_centroid_separation": s24_centroid_separation,
    "s25_quantization_width_sweep": s25_quantization_width_sweep,
    "s26_quantized_recall": s26_quantized_recall,
}

ORACLES = {
    "s01_cosine_topk_brute": S01_SQL,
    "s02_lsh_bucketed_ann": S02_SQL,
    "s03_ivf_assign": S03_SQL,
    "s04_ivf_search": S04_SQL,
    "s05_kmeans_ivf_assign": _s05_sql(),
    "s06_multiprobe_ann": S06_SQL,
    "s07_sq8_quantize": _s07_sql(),
    "s08_quantized_rerank": _s08_sql(),
    "s09_ann_recall": S09_SQL,
    "s10_knn_graph": S10_SQL,
    "s11_pq_quantize": _s11_sql(),
    "s12_knn_classify": S12_SQL,
    "s13_filtered_ann": S13_SQL,
    "s14_index_health": S14_SQL,
    "s15_probe_frontier": _s15_sql(),
    "s16_mmr_diversify": _s16_sql(),
    "s17_hard_negatives": S17_SQL,
    "s18_rrf_fusion": _s18_sql(),
    "s19_tombstone_compaction": _s19_sql(),
    "s20_cell_rebalance": _s20_sql(),
    "s21_embedding_hygiene": _s21_sql(),
    "s22_nprobe_cost_frontier": S22_SQL,
    "s23_recall_vs_nprobe": S23_SQL,
    "s24_centroid_separation": S24_SQL,
    "s25_quantization_width_sweep": _s25_sql(),
    "s26_quantized_recall": _s26_sql(),
}
