"""LLM-data-pipeline operators L1–L13 (SURVEY.md §2.10).

Driver-mandated extensions (BASELINE.json:6): the operations a
large-scale training-data pipeline needs — text statistics and
quality filtering, exact and near deduplication (SHA-256, Jaccard,
MinHash-LSH), embedding similarity search (brute-force + LSH-banded),
centroid/kNN, and multimodal struct columns.

Scale philosophy, stated once: the all-pairs operators (L7 Jaccard,
L9 brute-force cosine) are the CORRECTNESS baselines; their scalable
twins (L8 MinHash-LSH candidates, banded bucket joins) are the
100 TB path — candidate generation must be sub-quadratic, with exact
verification only on candidates. Both forms ship here, and L8 is
tested to produce exactly L7's answer on this corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import scan_splits_hint, table_bytes, tracked_persist

# q_minhash_lsh's verify stage broadcasts the doc→token-array table
# only while it fits an executor; past this cap (or when the layout
# can't be probed — non-local URI) it switches to plain doc_id hash
# joins, making the long-documented at-scale fallback REAL instead of
# prose (VERDICT r09 #5: past the 8 GB broadcast ceiling the op must
# degrade, not break). 2 GB of parquet is conservative headroom: the
# in-memory long-array rows decompress ~2-3x. NOTE: the probe measures
# WHOLE-TABLE parquet bytes as a proxy for the projected doc→token-array
# build side — a corpus with a wide non-text payload column trips the
# hash-join branch far below the real broadcast limit (safe, never
# incorrect); such deployments should raise this cap accordingly.
MINHASH_BROADCAST_MAX_BYTES_CONF = (
    "spark.data_pipeline_standalone_scripts.minhash.broadcast_max_bytes"
)
_MINHASH_BROADCAST_MAX_BYTES = 2_000_000_000

CAT = "llm"

# --- shared building blocks -------------------------------------------------


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, token) pairs — the token-set relation."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )


def _vec_double(col: str = "embedding"):
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm_sq(a):
    return F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x)


_ORACLE_JACCARD_PAIRS = """
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
"""

# --- text analysis ----------------------------------------------------------


@register(
    "q_text_stats",
    oracle="""
        SELECT doc_id, lang,
               length(text) AS n_chars_calc,
               (length(text) = n_chars) AS chars_consistent,
               len(string_split(text, ' ')) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split(text, ' ')) AS avg_word_len
        FROM documents
    """,
    category=CAT,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: per-document char/word stats, cross-checked against the
    stored n_chars column (FIXTURES.md guarantees equality)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_calc"),
        (F.length("text").cast("long") == F.col("n_chars")).alias("chars_consistent"),
        F.size(toks).cast("long").alias("n_words"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("avg_word_len"),
    )


@register(
    "q_text_quality_filter",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang, n_chars,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split(text, ' ')) AS awl,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS ttr
            FROM documents
        )
        SELECT doc_id, lang, n_words, ROUND(awl, 6) AS avg_word_len, ROUND(ttr, 6) AS ttr
        FROM scored
        WHERE n_chars BETWEEN 150 AND 450
          AND n_words >= 25
          AND awl BETWEEN 3.0 AND 9.0
          AND ttr >= 0.3
    """,
    category=CAT,
)
def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: C4/Gopher-style quality gate — length bounds, word count,
    mean word length band, type-token-ratio floor. All predicates are
    exact integer ratios (identical doubles both engines), so the
    filter is portable. Scale: embarrassingly parallel scan filter."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_words
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            n_words.cast("long").alias("n_words"),
            awl.alias("awl"),
            ttr.alias("ttr"),
        )
        .filter(
            F.col("n_chars").between(150, 450)
            & (F.col("n_words") >= 25)
            & F.col("awl").between(3.0, 9.0)
            & (F.col("ttr") >= 0.3)
        )
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.round("awl", 6).alias("avg_word_len"),
            F.round("ttr", 6).alias("ttr"),
        )
    )


@register(
    "q_lang_distribution",
    oracle="""
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
        FROM documents
        GROUP BY lang, source
    """,
    category=CAT,
)
def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: corpus composition — doc count and mean length per
    lang×source cell (the mixture table every data pipeline reports)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
    )


@register(
    "q_dedup_exact",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, sha256(text) AS text_hash FROM documents
        ), keep AS (
            SELECT text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM hashed GROUP BY text_hash
        )
        SELECT keep_id AS doc_id, text_hash, n_copies
        FROM keep
    """,
    category=CAT,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: exact dedup via SHA-256 content hash — keep min doc_id per
    hash, report copy count.

    Scale: THE canonical 100 TB dedup — hash in the scan (no data
    movement), shuffle only (hash → min_id, count) pairs. Never
    groups on raw text.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.sha2("text", 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "text_hash", "n_copies")
    )


@register(
    "q_ngram_counts",
    oracle="""
        WITH toks AS (
            SELECT lang, string_split(text, ' ') AS t FROM documents
        ), bigrams AS (
            SELECT lang,
                   unnest(list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks WHERE len(t) >= 2
        ), counted AS (
            SELECT lang, bigram, COUNT(*) AS n FROM bigrams GROUP BY lang, bigram
        )
        SELECT lang, bigram, n FROM counted
        QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) <= 3
    """,
    category=CAT,
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: top-3 bigrams per language (ties broken lexically).
    Bigram construction is a JVM-side higher-order transform over the
    token array — no UDF; shuffle carries (lang, bigram) partial
    counts only."""
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        d.filter(F.size(t) >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "q_tf_idf",
    oracle="""
        WITH tf AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), tfc AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY doc_id, token
        ), dfc AS (
            SELECT token, COUNT(*) AS df FROM tfc GROUP BY token
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, token,
               ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
        FROM tfc JOIN dfc USING (token) CROSS JOIN n
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf * ln((n_docs + 1.0) / (df + 1.0)) DESC,
                                            token ASC) <= 5
    """,
    category=CAT,
)
def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: exact TF-IDF, top-5 terms per document.
    idf = ln((N+1)/(df+1)) — smoothed, computed from exact integer
    counts so both engines evaluate ln() on identical doubles.

    Scale: two shuffles (term counts, doc frequency) + one broadcast
    (df table is vocabulary-sized); N rides a 1-row broadcast
    crossJoin, never a driver-side collect. The term-count table is
    persisted because BOTH the tf branch and the df branch consume it —
    without it Catalyst recomputes the explode+count pipeline for each
    (measured 1.4 s vs 0.65 s at sf0.1); at 100 TB this intermediate
    is the materialize-once posting table every IR system keeps.
    """
    from pyspark import StorageLevel

    d = load(spark, sf_dir, "documents")
    # Repartition raw docs by doc_id BEFORE the token explode: the
    # exchange moves 1 row per doc (not ~50 token rows), the explode
    # parallelizes, and groupBy(doc_id, token) is satisfied by the
    # doc_id partitioning — no post-explosion shuffle. 1.0 s → 0.78 s.
    tfc = (
        d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tfc = tracked_persist(tfc, StorageLevel.MEMORY_AND_DISK)
    dfc = tfc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("token").asc())
    return (
        tfc.join(F.broadcast(dfc), "token")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", F.round(tfidf, 6).alias("tfidf"))
    )


@register("q_jaccard_neardup", oracle=_ORACLE_JACCARD_PAIRS, category=CAT)
def q_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: exact near-duplicate pairs — token-set Jaccard ≥ 0.8.

    This is the all-pairs CORRECTNESS baseline: token self-join →
    intersection counts → |∩|/(|A|+|B|−|∩|). The jaccard is an exact
    integer ratio, so the ≥0.8 filter is portable.

    Scale: the token self-join is quadratic in document frequency of
    common tokens — at 100 TB this exact form runs ONLY on L8's LSH
    candidate pairs, never on the full corpus (see q_minhash_lsh).
    """
    tok = _doc_tokens(spark, sf_dir)
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = tok.select(F.col("doc_id").alias("doc_a"), "token")
    b = tok.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        a.join(b, ["token"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


N_MINHASH = 32
N_BANDS = 16  # 16 bands × 2 rows: P(candidate | s=0.8) ≈ 1 − (1−0.64)^16 ≈ 1 − 7e−8

# Carter–Wegman 2-universal family for the 32 minhash functions:
# h_i(x) = (A_i·x + B_i) mod M over M = 2^31 − 1 (Mersenne), with x a
# 31-bit reduction of the portable 60-bit token hash. 31-bit inputs ×
# 31-bit coefficients stay < 2^62 — exact in BIGINT arithmetic in
# BOTH engines, which is what makes the whole candidate stage
# SQL-replicable (the oracle embeds the same literals). Constants are
# fixed draws (seed 20260815); independence ACROSS i is what makes
# the 16 bands 16 independent chances — a structured slope family
# (h1 + i·h2, tried first) correlated the per-i argmins and collapsed
# banding recall to 0.82 on the sf0.01 corpus (measured, 25003/30328).
MH_P = (1 << 31) - 1
MH_A = [
    188173298, 62257559, 1614569235, 1541888526, 1123302577, 1183693762,
    941201756, 612741584, 1915815023, 145743896, 1042332867, 1469431004,
    1586907769, 1724705302, 1367643000, 567634414, 1182429425, 1450717930,
    1840887320, 92282880, 2033346063, 1574816041, 1426551802, 1173352587,
    2087082879, 168846214, 1825997516, 891168107, 124724675, 334069098,
    1102350415, 1146895920,
]
MH_B = [
    219526903, 869419486, 1990932741, 1704402767, 1686331959, 1377364803,
    290080262, 930729593, 55352767, 97832728, 726089930, 1645827621,
    1153574288, 1936722475, 1186229689, 604467990, 574428062, 1312015206,
    1286881531, 30543376, 1998600299, 448033446, 688987778, 71707707,
    821772388, 983224251, 1706450687, 659952465, 1490355664, 1025317256,
    1408183434, 50049223,
]


def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) from banded MinHash.

    Signature (round 6): h_i(doc) = min over tokens of
    (A_i·x + B_i) mod (2^31 − 1), i = 0..31, with x the 31-bit
    reduction of the portable 60-bit md5 token hash and A_i/B_i fixed
    literals (MH_A/MH_B above). Round 5 used xxhash64(i, token) —
    NOT SQL-replicable, so q_dedup_eval's oracle had to hardcode its
    minhash row to the truth set (VERDICT r05 "what's wrong" #1). The
    Carter–Wegman family keeps one hash evaluation per token (md5;
    the 32 multiply-add-mods are cheap codegen arithmetic), still ONE
    pass of 32 min-aggregates with map-side combine, and lets the
    DuckDB oracle recompute signatures, banding, and the candidate
    set exactly. Recall on the fixtures stays 1 (pytest superset
    check + q_minhash_lsh parity at sf0.001/0.01).

    Bands of 2 rows join on their raw (band, s_{2b}, s_{2b+1}) values
    (equivalent collision semantics to the old hashed-bucket key, one
    hash cheaper, and portable). A pair is a candidate if any band
    collides. Exposed for the pytest recall check (candidates ⊇ exact
    L7 pairs).
    """
    tok = _doc_tokens(spark, sf_dir).withColumn("m", F.md5("token"))
    x = F.expr(
        f"cast(conv(substring(m, 1, 15), 16, 10) as long) % {MH_P}"
    )
    hashed = tok.select("doc_id", x.alias("x"))
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(MH_A[i]) * F.col("x") + MH_B[i]) % MH_P).alias(
                f"h{i}"
            )
            for i in range(N_MINHASH)
        ]
    )
    rows_per_band = N_MINHASH // N_BANDS
    # Triangle decomposition (same recipe as q_simhash_neardup): the
    # dense corpus packs up to ~3.2k docs into one band bucket, so a
    # plain (band, bucket) self-join serializes that bucket's ~5M pair
    # evaluations on one task. Splitting by doc-hash group g ∈ [0, G)
    # spreads each bucket over G(G+1)/2 join keys. The joined rows
    # stay THIN (two ids) — the 83M-row collision stream (measured at
    # sf0.1) then costs ~16 bytes/row to materialize, and the
    # candidate dedup is an ordinary distinct over thin rows. A
    # lowest-band emission variant (carrying the 16-bucket array on
    # every row to filter non-minimal bands) was measured SLOWER here
    # — 256 bytes/row × 83M dominates the saved distinct — unlike
    # SimHash, where the band check is bit arithmetic on one long.
    # bucket = s_{2b}·2^31 + s_{2b+1}: injective packing of the two
    # 31-bit band values into ONE long (62 bits) — same collision
    # semantics as joining on the raw pair, single-long join key, and
    # still exactly replicable in SQL
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.col(f"h{b * rows_per_band}") * (1 << 31)
                    + F.col(f"h{b * rows_per_band + 1}")
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    G = 8
    g = F.pmod(F.hash("doc_id"), F.lit(G))
    a = (
        bands.withColumn("ga", g)
        .withColumn("gb", F.explode(F.expr(f"sequence(ga, {G - 1})")))
        .alias("a")
    )
    b = (
        bands.withColumn("gb", g)
        .withColumn("ga", F.explode(F.expr("sequence(0, gb)")))
        .alias("b")
    )
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.ga") == F.col("b.ga"))
        & (F.col("a.gb") == F.col("b.gb"))
        & (
            (F.col("a.ga") != F.col("b.gb"))
            | (F.col("a.doc_id") < F.col("b.doc_id"))
        ),
    ).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
    )
    # Candidate dedup partition sizing (round-5 sf1 finding): the
    # collision stream is ~83 M thin rows PER sf0.1-worth of corpus
    # (this corpus is 24%-dup-dense and true dups collide in ~7 of 16
    # bands), so a distinct at the session's 32 shuffle partitions
    # builds ~26 M-entry hash tables per task at sf1 — measured:
    # GC-locker thrash and 512 MB page-allocation failures. Scaling
    # the dedup's partition count with the corpus (explicit hash
    # repartition on the pair key, reused by the deduplicating
    # aggregate — still ONE exchange) removes the agg-memory cliff;
    # sf0.1 plans are bit-identical (hint = 1). What remains at sf1
    # is pure shuffle PROVISIONING: the 830 M-row map output plus
    # sorter spill needs ~100 GB of shuffle disk and this box has
    # 77 GB free — two measured runs filled it. That is the corpus's
    # density, not a plan defect (the collision stream is
    # Θ(true_pairs × colliding_bands), thin 16-byte rows, exactly
    # what cluster shuffle tiers are provisioned for). Alternatives
    # re-measured and rejected this round: lowest-band emission
    # (kills the distinct but interprets a 16-element zip_with on
    # every collision row — 119.6 s vs 31.9 s at sf0.1, CPU-bound);
    # coarser banding (8×4 bands shrink collisions ~3× but drop
    # candidate recall to ~98.5% at J=0.8, breaking the
    # candidates ⊇ truth oracle contract).
    par = spark.sparkContext.defaultParallelism
    splits = scan_splits_hint(spark, sf_dir, "documents")
    n_dedup = par * max(1, min(32, splits))
    return pairs.repartition(n_dedup, "doc_a", "doc_b").distinct()


@register("q_minhash_lsh", oracle=_ORACLE_JACCARD_PAIRS, category=CAT)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: scalable near-dup — MinHash-LSH candidates, then EXACT
    Jaccard verification on candidates only.

    The oracle is the exact all-pairs answer (same SQL as L7): with
    16×2 banding, miss probability at the 0.8 threshold is ≈7e-8, so
    verified candidates equal the exact answer on this corpus (and
    pytest asserts the superset property of the candidate stage).

    Scale: THIS is the 100 TB near-dup path — candidate generation is
    linear in corpus size (signatures) plus bucket-collision joins;
    the quadratic exact check runs only inside buckets.
    """
    cand = minhash_candidates(spark, sf_dir)
    # Verify by joining each candidate pair to the two docs' token
    # ARRAYS and intersecting in codegen — the exact count without
    # exploding candidates × tokens through a shuffle (the former
    # posting-list formulation moved ~270 M (pair, token) rows on the
    # dense corpus). Tokens are pre-hashed to sorted LONG arrays:
    # array_intersect over 8-byte longs beats string arrays ~3× at
    # 12 M candidate pairs, and the global vocabulary (~40 tokens)
    # makes xxhash64 collisions impossible to miss in parity. The
    # doc→array table broadcasts here WHILE IT FITS (size guard below,
    # VERDICT r09 #5); past the cap — or when the layout can't be
    # probed — it becomes the two documented doc_id hash joins, so the
    # op degrades to a shuffle instead of breaking on the 8 GB
    # broadcast ceiling. Still never an explode either way.
    d = load(spark, sf_dir, "documents")
    arrs = d.select(
        "doc_id",
        F.array_sort(
            F.transform(
                F.array_distinct(F.split("text", " ")), lambda t: F.xxhash64(t)
            )
        ).alias("toks"),
    )
    cap = int(
        spark.conf.get(
            MINHASH_BROADCAST_MAX_BYTES_CONF, str(_MINHASH_BROADCAST_MAX_BYTES)
        )
    )
    nbytes = table_bytes(sf_dir, "documents")
    small_enough = 0 < nbytes <= cap
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    bb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    if small_enough:
        aa, bb = F.broadcast(aa), F.broadcast(bb)
    n_common = F.size(F.array_intersect("ta", "tb"))
    jac = n_common.cast("double") / (
        F.size("ta") + F.size("tb") - n_common
    )
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- similarity search ------------------------------------------------------


@register(
    "q_cosine_topk",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT vec_id, label,
               ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_sim
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id ASC
        LIMIT 10
    """,
    category=CAT,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: brute-force cosine top-10 neighbors of vec_id=0.

    Rewritten round 4 as an Arrow-batched numpy kernel: the sf10 run
    exposed the JVM higher-order-fold formulation as interpreted per
    element (2.9 s / 8.2x DuckDB at 200 k vectors). The kernel
    vectorizes across rows and folds SEQUENTIALLY across the 64 dims,
    so every sum rounds in the same order as the JVM aggregate and
    DuckDB's list_cosine_similarity — outputs bit-identical (parity
    pins it; float32→float64 casts and elementwise products are
    exact, the sequential sum is the only rounding path). The query
    vector is a 1-row pushed-down collect (the kmeans init pattern —
    control-plane, not data), which also removes the crossJoin.
    Ordering is on the ROUNDED similarity + vec_id so both engines
    cut the same top-k; the top-k itself is TakeOrderedAndProject.

    Scale: brute force scans all N vectors per query — right answer
    for one-off queries; for query batches use q_knn_label_vote's
    shape, for ANN use LSH bucketing (same banding machinery as L8).
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    qrows = e.filter(F.col("vec_id") == 0).select("embedding").collect()
    if not qrows:
        # empty embeddings table / missing vec_id=0: degrade to the
        # empty result frame (ADVICE r04 #1 — the old crossJoin form
        # degraded this way; the collect must not turn it into an
        # IndexError at plan-build time. Same guard as q_kmeans_embed.)
        return spark.createDataFrame(
            [], "vec_id bigint, label int, cos_sim double"
        )
    qv = np.array(qrows[0][0], dtype=np.float64)
    nq = 0.0
    for x in qv:  # sequential fold — matches the engines' list folds
        nq = nq + x * x
    qnorm = float(np.sqrt(nq))

    def kern(batches: "object"):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(pdf)
            dot = np.zeros(n)
            nx = np.zeros(n)
            for j in range(X.shape[1]):
                dot = dot + X[:, j] * qv[j]
                nx = nx + X[:, j] * X[:, j]
            cos = dot / (np.sqrt(nx) * qnorm)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "label": pdf["label"], "cos_raw": cos}
            )

    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "embedding")
        .mapInPandas(kern, schema="vec_id bigint, label int, cos_raw double")
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "q_knn_label_vote",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20
        ), sims AS (
            SELECT query_id, e.vec_id, e.label,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6)
                       AS cos_sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> query_id
        ), knn AS (
            SELECT query_id, vec_id, label FROM sims
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id ASC) <= 10
        ), votes AS (
            SELECT query_id, label, COUNT(*) AS n_votes FROM knn GROUP BY query_id, label
        )
        SELECT query_id, label AS pred_label, n_votes FROM votes
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label ASC) = 1
    """,
    category=CAT,
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10: k-NN (k=10) majority-label vote for a 20-query batch.
    Query batch broadcasts against the corpus — one pass computes all
    query×corpus similarities; per-query top-k via window; vote ties
    break on the smaller label."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), _vec_double().alias("qv")
    )
    v = _vec_double()
    cos = _dot(v, F.col("qv")) / (F.sqrt(_norm_sq(v)) * F.sqrt(_norm_sq(F.col("qv"))))
    sims = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", F.round(cos, 6).alias("cos_sim"))
    )
    w_knn = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    knn = sims.withColumn("rn", F.row_number().over(w_knn)).filter(F.col("rn") <= 10)
    votes = knn.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w_vote))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )


@register(
    "q_centroid_per_label",
    oracle="""
        WITH comps AS (
            SELECT label,
                   unnest(CAST(embedding AS DOUBLE[])) AS v,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ), means AS (
            SELECT label, pos, ROUND(AVG(v), 6) AS mean_v
            FROM comps GROUP BY label, pos
        )
        SELECT label,
               string_agg(printf('%.6f', mean_v), ',' ORDER BY pos) AS centroid
        FROM means GROUP BY label
    """,
    category=CAT,
)
def q_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11: per-label mean embedding (64-dim centroid) reassembled as
    an ordered, ','-joined '%.6f' string. posexplode → (label, pos)
    mean → sort-collect-format. Components round to 6 (unit-scale
    floats; merge-order drift is ~1e-16, eight orders below the
    rounding grid); formatting AFTER rounding is tie-free at the 7th
    digit, so Java (%.6f HALF_UP) and C printf (half-even) agree.

    Scale: shuffle carries (label, pos) partial sums — 10×64 cells
    regardless of corpus size; the array rebuild is 64 rows per label.
    """
    e = load(spark, sf_dir, "embeddings")
    comps = e.select(
        "label", F.posexplode(_vec_double()).alias("pos", "v")
    )
    means = comps.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("mean_v"))
    return means.groupBy("label").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_v"))),
                lambda s: F.format_string("%.6f", s.getField("mean_v")),
            ),
            ",",
        ).alias("centroid")
    )


@register(
    "q_multimodal_struct",
    oracle="""
        SELECT rec.doc_id AS doc_id, rec.lang AS lang, rec.n_chars AS n_chars,
               rec.label AS label, rec.dim AS dim
        FROM (
            SELECT struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars,
                               label := label, dim := len(embedding)) AS rec
            FROM documents JOIN embeddings ON doc_id = vec_id
        )
        WHERE rec.lang IN ('en', 'fr') AND rec.n_chars > 300
    """,
    category=CAT,
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12: multimodal record assembly — join text and vector
    modalities into one typed struct column, filter on nested fields,
    project back to scalars (structs never cross the oracle boundary;
    arrow struct layouts differ).

    Scale: the struct is a zero-cost projection (columnar at rest);
    this is the pattern for image/audio payloads too — opaque binary
    + typed metadata struct (see sources/multimodal.py).
    """
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    rec = F.struct(
        F.col("doc_id"),
        F.col("lang"),
        F.col("n_chars"),
        F.col("label"),
        F.size("embedding").alias("dim"),
    )
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(rec.alias("rec"))
        .filter(F.col("rec.lang").isin("en", "fr") & (F.col("rec.n_chars") > 300))
        .select(
            F.col("rec.doc_id").alias("doc_id"),
            F.col("rec.lang").alias("lang"),
            F.col("rec.n_chars").alias("n_chars"),
            F.col("rec.label").alias("label"),
            F.col("rec.dim").cast("long").alias("dim"),
        )
    )


@register(
    "q_embedding_norm_filter",
    oracle="""
        SELECT vec_id, label,
               ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> x * x))), 6) AS l2_norm,
               ROUND(CAST(embedding[1] AS DOUBLE)
                     / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                    x -> x * x))), 6) AS first_comp_normed,
               len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS n_positive
        FROM embeddings
        WHERE len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) BETWEEN 24 AND 40
    """,
    category=CAT,
)
def q_embedding_norm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L13: L2-normalize + degeneracy filter. The corpus is unit-
    normalized (measured: |v|² ≈ 1±1e-4), so a norm threshold would
    sit exactly on the value cluster — a cross-engine float-boundary
    trap. The filter therefore uses an exact integer degeneracy proxy
    (positive-component count band); norms and the normalized first
    component are emitted rounded."""
    e = load(spark, sf_dir, "embeddings")
    v = _vec_double()
    norm = F.sqrt(_norm_sq(v))
    n_pos = F.size(F.filter(v, lambda x: x > 0)).cast("long")
    return (
        e.select(
            "vec_id",
            "label",
            F.round(norm, 6).alias("l2_norm"),
            F.round(F.element_at(v, 1) / norm, 6).alias("first_comp_normed"),
            n_pos.alias("n_positive"),
        )
        .filter(F.col("n_positive").between(24, 40))
    )


# --- retrieval scoring ------------------------------------------------------

BM25_K1, BM25_B = 1.2, 0.75
BM25_QUERY = ("table", "vector", "merge")  # fixed query-term set
BM25_TOPK = 20


@register(
    "q_bm25_rank",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   string_split(text, ' ') AS t
            FROM documents
        ), tok AS (
            SELECT doc_id, unnest(t) AS token FROM d
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tok
            WHERE token IN {str(BM25_QUERY)}
            GROUP BY doc_id, token
        ), dfreq AS (
            SELECT token, COUNT(*) AS df FROM tf GROUP BY token
        ), stats AS (
            SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM d
        ), terms AS (
            SELECT tf.doc_id,
                   CAST(round(
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                       * tf.tf * ({BM25_K1} + 1.0)
                       / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}
                          * (CAST(d.dl AS DOUBLE) * stats.n / stats.total_dl)))
                       * 1000000) AS BIGINT) AS m
            FROM tf
            JOIN d ON d.doc_id = tf.doc_id
            JOIN dfreq ON dfreq.token = tf.token
            CROSS JOIN stats
        )
        SELECT doc_id,
               ROUND(CAST(SUM(m) AS DOUBLE) / 1000000.0, 6) AS bm25
        FROM terms GROUP BY doc_id
        ORDER BY SUM(m) DESC, doc_id ASC
        LIMIT {BM25_TOPK}
    """,
    category=CAT,
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval ranking (Robertson/Okapi, +1 idf variant) for a
    fixed query-term set: top-20 documents by
    Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) — the lexical
    scorer behind search-index sampling and retrieval-augmented data
    curation.

    Determinism: tf, df, N, dl, Σdl are exact integers and every float
    expression is built with an identical operation tree on both
    sides; each per-term score is micro-rounded and summed as BIGINT
    (the dsum discipline) so the top-20 cut and the emitted scores are
    bit-stable. Ties break on doc_id.

    Scale: corpus stats (N, Σdl) fold into scalar literals via a
    bounded 1-row collect on the cache-materializing action; the
    per-term df table is query-sized (broadcast); TopK is
    TakeOrderedAndProject, no global sort. Round 6 (VERDICT r05 #2),
    re-kerneled round 12 (VERDICT r11 #7): ONE corpus pass — a
    ``mapInArrow`` pyarrow-compute kernel
    tokenizes each doc once, emits (doc_id, token, tf, dl) rows only
    for query terms plus ONE per-batch stats row (token NULL, tf =
    batch doc count, dl = batch Σdl), so the corpus-wide (N, Σdl)
    aggregate rides the same pass instead of re-tokenizing (round 5
    had two passes, round 4 three). The kernel output is
    tracked-persisted — it is tiny (≤ |query| rows per matching doc +
    one row per batch) — and both the tf branch and the stats branch
    read the cache. The kernel-side is_in filter replaces the
    JVM's full explode-then-filter, which materialized every token
    before dropping non-query ones. Measured sf10 (in-session
    medians): two-pass JVM 2.42 s → r6 dict kernel 1.73 s → r12
    arrow kernel −7% further; bench-protocol numbers in BASELINE.md.

    NOTE — eager build (ADVICE r06): constructing this DataFrame runs
    a job. The 1-row corpus-stats collect below materializes the
    persisted kernel output at BUILD time (deliberate, the r4
    broadcast-race lesson), so plan-only consumers (dump_plans,
    EXPLAIN tests) trigger a full corpus tokenization pass.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    qterms = sorted(BM25_QUERY)

    def tf_partials(batches):
        # r12 (VERDICT r11 #7, guide §4.2): the per-token Python
        # set-membership loop becomes pyarrow-compute — split_pattern
        # → is_in filter on the flattened tokens → one Acero
        # (doc, token) group_by per batch — with no pandas
        # materialization (mapInArrow). Per-batch emission and the one
        # NULL-token stats partial per batch are unchanged: n_docs
        # counts every row (null text included), Σdl skips null lists,
        # exactly the oracle's COUNT(*) / SUM(dl) split
        # (tests/test_guards.py pins the null-text behavior). ABBA vs
        # the dict kernel (toPandas protocol, interleaved): sf0.1
        # 1.00→0.88 s, sf1 1.19→1.18 s, sf10 1.32→1.22 s — never
        # loses (round-12 interleaved A/B; perfbench measures it now).
        import pyarrow as pa
        import pyarrow.compute as pc

        qarr = pa.array(qterms, pa.string())
        for batch in batches:
            doc_id = batch.column(0)
            split = pc.split_pattern(batch.column(1), " ")
            dl = pc.list_value_length(split)
            flat = pc.list_flatten(split)
            keep = pc.is_in(flat, value_set=qarr)
            t = pa.table(
                {
                    "parent": pc.list_parent_indices(split).filter(keep),
                    "token": flat.filter(keep),
                }
            )
            g = t.group_by(["parent", "token"]).aggregate([("token", "count")])
            par = g["parent"]
            n_docs = len(doc_id)
            sum_dl = pc.sum(dl).as_py() or 0
            yield pa.record_batch(
                [
                    pa.concat_arrays(
                        [
                            doc_id.take(par).combine_chunks(),
                            pa.array([-1], pa.int64()),
                        ]
                    ),
                    pa.concat_arrays(
                        [
                            g["token"].combine_chunks(),
                            pa.array([None], pa.string()),
                        ]
                    ),
                    pa.concat_arrays(
                        [
                            g["token_count"].cast(pa.int64()).combine_chunks(),
                            pa.array([n_docs], pa.int64()),
                        ]
                    ),
                    pa.concat_arrays(
                        [
                            dl.take(par).cast(pa.int64()).combine_chunks(),
                            pa.array([sum_dl], pa.int64()),
                        ]
                    ),
                ],
                names=["doc_id", "token", "tf", "dl"],
            )

    out = tracked_persist(
        d.mapInArrow(tf_partials, "doc_id long, token string, tf long, dl long")
    )
    # Collect the 1-row corpus stats ON the cache-materializing action
    # (the r4 lesson: two lazy broadcast consumers of one persisted
    # frame race to materialize it — "Block already exists" warnings,
    # kernel runs twice). After this collect the dfreq broadcast and
    # the scoring pass read the warm cache. Bounded control-plane
    # collect: exactly one row.
    srow = (
        out.filter(F.col("token").isNull())
        .agg(F.sum("tf").alias("n"), F.sum("dl").alias("total_dl"))
        .collect()[0]
    )
    # empty-corpus guard: sums are NULL over zero batches; the tf
    # branch is empty then, so the literals are never consumed
    n_docs_total = int(srow["n"] or 0)
    total_dl = int(srow["total_dl"] or 1)
    tf = out.filter(F.col("token").isNotNull())
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(n_docs_total) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (
                1.0
                - BM25_B
                + BM25_B
                * (
                    F.col("dl").cast("double")
                    * F.lit(n_docs_total)
                    / F.lit(total_dl)
                )
            )
        )
    )
    micros = score * 1_000_000
    term = (micros + F.when(micros >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .select("doc_id", term.alias("m"))
        .groupBy("doc_id")
        .agg(F.sum("m").alias("msum"))
        .orderBy(F.col("msum").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
        .select(
            "doc_id",
            F.round(F.col("msum").cast("double") / 1_000_000.0, 6).alias("bm25"),
        )
    )


_PHRASE = "table value part"  # 3-token query phrase (common corpus words)


@register(
    "q_phrase_search",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN position('{_PHRASE}'
                             IN ' ' || text || ' ') > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
               CAST(COALESCE(MIN(CASE WHEN position('{_PHRASE}'
                             IN ' ' || text || ' ') > 0
                        THEN doc_id END), -1) AS BIGINT) AS first_match
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    category=CAT,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L14: exact phrase search through a POSITIONAL INVERTED INDEX —
    the IR-engine way: explode (doc, position, token), keep postings
    for the phrase's terms only, and self-join consecutive positions
    (token_i at p, token_{i+1} at p+1) so only docs with the terms in
    adjacent order survive. The oracle is the scan-and-substring
    answer — the two strategies MUST agree, which is exactly the
    index-correctness property a search engine tests.

    Scale: this is why positional indexes exist — the postings for a
    3-term phrase are ~3 rows per occurrence, joined on (doc, pos)
    co-partitioning, vs re-scanning every document's full text. At
    100 TB the posting table is the materialized artifact and each
    phrase query touches only its terms' lists.
    """
    terms = _PHRASE.split(" ")
    d = load(spark, sf_dir, "documents")
    post = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("p", "token"),
    ).filter(F.col("token").isin(terms))
    t0 = post.filter(F.col("token") == terms[0]).select(
        "doc_id", "lang", F.col("p").alias("p0")
    )
    t1 = post.filter(F.col("token") == terms[1]).select(
        F.col("doc_id").alias("d1"), F.col("p").alias("p1")
    )
    t2 = post.filter(F.col("token") == terms[2]).select(
        F.col("doc_id").alias("d2"), F.col("p").alias("p2")
    )
    hits = (
        t0.join(
            t1,
            (F.col("doc_id") == F.col("d1")) & (F.col("p1") == F.col("p0") + 1),
        )
        .join(
            t2,
            (F.col("doc_id") == F.col("d2")) & (F.col("p2") == F.col("p0") + 2),
        )
        .select("doc_id", "lang")
        .distinct()
    )
    per_doc = d.select("doc_id", "lang").join(
        hits.select("doc_id", F.lit(1).alias("m")), "doc_id", "left"
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("m"), F.lit(0)))
            .cast("long")
            .alias("n_matches"),
            F.coalesce(
                F.min(F.when(F.col("m") == 1, F.col("doc_id"))), F.lit(-1)
            )
            .cast("long")
            .alias("first_match"),
        )
        .orderBy("lang")
    )


_NEEDLE = "stream merge"  # substring needle for the trigram-index search


@register(
    "q_trigram_search",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN position('{_NEEDLE}' IN text) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
               CAST(COALESCE(MIN(CASE WHEN position('{_NEEDLE}' IN text) > 0
                                 THEN doc_id END), -1) AS BIGINT)
                   AS first_match
        FROM documents
    """,
    category=CAT,
)
def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L15: substring search through a TRIGRAM INDEX (the pg_trgm /
    code-search pattern): decompose documents into character
    trigrams, keep docs containing EVERY trigram of the needle
    (candidate generation — provably a superset), then verify with a
    real substring check on candidates only. Oracle = the full-scan
    substring answer; index pruning must not change it.

    Scale: LIKE '%needle%' cannot use ordinary indexes/pruning — the
    trigram posting table turns it into |needle|-3 posting-list
    intersections plus verification on the (tiny) candidate set. The
    intersection is a grouped count-matching-trigrams == n_needed,
    one shuffle on doc_id.
    """
    needle = _NEEDLE
    grams = sorted({needle[i : i + 3] for i in range(len(needle) - 2)})
    d = load(spark, sf_dir, "documents")
    tri = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
            )
        ).alias("g"),
    ).filter(F.col("g").isin(grams))
    cand = (
        tri.groupBy("doc_id")
        .agg(F.countDistinct("g").alias("ng"))
        .filter(F.col("ng") == len(grams))
        .select("doc_id")
    )
    verified = (
        d.join(cand, "doc_id")
        .filter(F.instr("text", needle) > 0)
        .select("doc_id")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    stats = verified.agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).alias("first_match"),
    )
    return n_docs.crossJoin(stats).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_matches").cast("long").alias("n_matches"),
        F.col("first_match").cast("long").alias("first_match"),
    )


_KNN_PRED_CTE = """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 20
    ), sims AS (
        SELECT query_id, e.vec_id, e.label,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv),
                     6) AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> query_id
    ), knn AS (
        SELECT query_id, vec_id, label FROM sims
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) <= 10
    ), votes AS (
        SELECT query_id, label, COUNT(*) AS n_votes FROM knn
        GROUP BY query_id, label
    ), pred AS (
        SELECT query_id, label AS pred_label FROM votes
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label ASC) = 1
    )
"""


@register(
    "q_knn_accuracy",
    oracle=f"""
        {_KNN_PRED_CTE}
        SELECT CAST(t.label AS BIGINT) AS true_label,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               round(CAST(SUM(CASE WHEN p.pred_label = t.label
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                   AS accuracy
        FROM pred p JOIN embeddings t ON p.query_id = t.vec_id
        GROUP BY t.label
        ORDER BY true_label
    """,
    category=CAT,
)
def q_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L16: leave-one-out k-NN classification accuracy per true label —
    the standard embedding-quality eval (a good embedding space puts
    same-label points together, so the kNN vote should recover the
    label). Composes L10's predictor with the true labels into the
    per-class accuracy table a model card reports.

    Scale: inherits L10's broadcast query batch; the eval join adds
    one |queries|-row lookup.
    """
    pred = q_knn_label_vote(spark, sf_dir).select("query_id", "pred_label")
    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    j = pred.join(e, "query_id")
    return (
        j.groupBy(F.col("true_label").cast("long").alias("true_label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(
                        F.col("pred_label") == F.col("true_label"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("true_label")
    )
