"""Text-analysis operators for the training-data pipeline (driver
mandate, BASELINE.json:6): language identification, tokenizer-style
token counting, and winnowing document fingerprints.

These extend SURVEY.md §2.10 beyond L1–L13. All three are exact,
deterministic, and fully DuckDB-oracle-checked (T2) — the winnowing
fingerprints cross the oracle boundary as VALUES (an injective 8-byte
gram encoding identical in both engines), not just row counts.

Reference capability mapping: the reference's per-image feature
extraction (datapipe/image/hillas_parameters.py [UNVERIFIED-PK,
SURVEY.md §2.12]) is the analog of per-document featurization here —
a narrow, embarrassingly parallel scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load
from .common import h60, o_h60, tracked_persist

CAT = "textpipe"

# Language marker lexicons for the n-gram/stopword heuristic.  On the
# synthetic corpus (shared vocabulary across langs) most docs resolve
# to 'en' — prediction *quality* is data-bound; the operator contract
# is the deterministic scoring pipeline itself.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "and", "of"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "los", "y", "las", "una"),
    "zh": ("的", "是", "了", "在", "和"),
}


@register(
    "q_lang_id",
    oracle=f"""
        WITH markers(m_lang, m_token) AS (
            VALUES {", ".join(
                f"('{lang}', '{tok}')"
                for lang, toks in sorted(LANG_MARKERS.items())
                for tok in toks
            )}
        ), tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), hits AS (
            SELECT doc_id, lang, m_lang, n_tokens, COUNT(*) AS n_hits
            FROM tok JOIN markers ON token = m_token
            GROUP BY doc_id, lang, m_lang, n_tokens
        ), best AS (
            SELECT doc_id, lang, m_lang AS pred_lang,
                   ROUND(CAST(n_hits AS DOUBLE) / n_tokens, 6) AS score
            FROM hits
            QUALIFY row_number() OVER (PARTITION BY doc_id
                                       ORDER BY n_hits DESC, m_lang ASC) = 1
        )
        SELECT d.doc_id, d.lang,
               coalesce(b.pred_lang, 'und') AS pred_lang,
               coalesce(b.score, 0.0) AS score
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    """,
    category=CAT,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-marker scoring: count marker-lexicon
    hits per candidate language, predict the argmax (ties → smaller
    lang code), score = hits/n_tokens (exact integer ratio). Docs with
    zero marker hits get ('und', 0.0).

    Scale: the marker lexicon is a ~25-row broadcast join against the
    exploded token stream; one shuffle on (doc_id, candidate lang)
    partial counts. At 100 TB this is the same shape as any n-gram
    profile scorer — profile table broadcast, corpus never moves.
    """
    d = load(spark, sf_dir, "documents")
    markers = spark.createDataFrame(
        [(lang, tok) for lang, toks in sorted(LANG_MARKERS.items()) for tok in toks],
        "m_lang string, m_token string",
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    hits = (
        toks.join(F.broadcast(markers), toks.token == markers.m_token)
        .groupBy("doc_id", "lang", "m_lang", "n_tokens")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("n_hits").desc(), F.col("m_lang").asc())
    best = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("m_lang").alias("pred_lang"),
            F.round(F.col("n_hits").cast("double") / F.col("n_tokens"), 6).alias("score"),
        )
    )
    return d.select("doc_id", "lang").join(best, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("score", F.lit(0.0)).alias("score"),
    )


# BPE-ish chunking: letter runs are split into <=4-char pieces, digits
# and punctuation are single tokens — a deterministic stand-in for a
# subword tokenizer, portable across Java/RE2 regex dialects.
BPE_PATTERN = "[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9 ]"


@register(
    "q_token_count",
    oracle=f"""
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
               ROUND(CAST(n_chars AS DOUBLE)
                     / len(regexp_extract_all(text, '{BPE_PATTERN}')), 6)
                   AS chars_per_bpe_token
        FROM documents
    """,
    category=CAT,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish regex
    chunks (≤4-char letter pieces + single digits/punct), plus the
    chars-per-token compression ratio every tokenizer budget uses.

    Scale: pure narrow scan — regex runs inside codegen; no shuffle.
    """
    d = load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.round(F.col("n_chars").cast("double") / F.size(bpe), 6).alias(
            "chars_per_bpe_token"
        ),
    )


K_GRAM = 8  # fingerprint k-gram length (chars)
WINNOW_W = 4  # winnowing window (k-grams per window)


# Shared winnow-fingerprint CTE (ends in a `fps(doc_id, fingerprint)`
# relation) — used by q_fingerprint_winnow and q_contamination_check.
_WINNOW_CTE = f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(generate_series(1, length(text) - {K_GRAM} + 1)) AS pos
        FROM documents
        WHERE length(text) >= {K_GRAM}
    ), hashed AS (
        SELECT doc_id, pos,
               CAST('0x' || hex(substr(text, pos, {K_GRAM})) AS BIGINT) AS gh
        FROM grams g JOIN documents USING (doc_id)
    ), winnowed AS (
        SELECT doc_id, gh,
               MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                      AND CURRENT ROW) AS win_min
        FROM hashed
    ), fps AS (
        SELECT DISTINCT doc_id, gh AS fingerprint
        FROM winnowed WHERE gh = win_min
    )
"""


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint) — the winnowed fingerprint set per doc;
    the Spark twin of ``_WINNOW_CTE``. See q_fingerprint_winnow for the
    algorithm, encoding, and plan-shape notes.

    One mapInArrow numpy kernel over each whole Arrow batch, reading
    the string column's data buffer directly (no per-doc Python):
    every 8-gram at every byte position as one int64 from eight
    shifted ORs (big-endian bytes — the exact integer
    conv(hex(gram),16,10) computes), the trailing window-min from
    WINNOW_W − 1 shifted minimums masked at doc heads, keep grams that
    equal their window-min at valid starts (no gram crossing a doc
    end), then a pyarrow hash group_by dedups (row, fingerprint) and
    the doc ids are taken by row. Each doc is ONE input row, so
    per-row uniqueness IS global uniqueness — no distinct or window
    sort in the plan. Value-pinned against the r12 explode + window
    formulation (tests/test_round13_opt.py) and the unchanged oracle.

    Degenerate inputs: null doc_id rows are dropped before the kernel
    (the oracle's ``JOIN documents USING (doc_id)`` drops them too);
    non-ASCII text raises ValueError naming the first offending
    doc_id, since a multi-byte char would overflow the 8-byte gram.
    The single pre-explosion doc_id exchange (the parallelism crutch
    for single-row-group local scans) is unchanged and still gated."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & (F.length("text") >= K_GRAM))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "text")
    )

    def kern(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids, text = batch.column(0), batch.column(1)
            if len(text) == 0:
                continue
            bad = pc.not_equal(pc.binary_length(text), pc.utf8_length(text))
            if pc.any(bad).as_py():
                raise ValueError(
                    f"winnow_fingerprints: doc_id {ids.filter(bad)[0]} has "
                    "non-ASCII text; the 8-byte gram encoding needs ASCII"
                )
            large = pa.types.is_large_string(text.type)
            _, obuf, dbuf = text.buffers()
            off = np.frombuffer(obuf, np.int64 if large else np.int32)
            off = off[text.offset : text.offset + len(text) + 1].astype(np.int64)
            b = np.frombuffer(dbuf, np.uint8)[off[0] : off[-1]].astype(np.int64)
            lens = np.diff(off)
            m = len(b) - K_GRAM + 1
            gh = b[:m] << 8 * (K_GRAM - 1)
            for j in range(1, K_GRAM):
                gh |= b[j : j + m] << 8 * (K_GRAM - 1 - j)
            row = np.repeat(np.arange(len(lens)), lens)[:m]
            pos = np.arange(m) - (off[:-1] - off[0])[row]
            wm = gh.copy()
            for k in range(1, WINNOW_W):
                np.minimum(wm[k:], gh[:-k], out=wm[k:], where=pos[k:] >= k)
            keep = (pos <= lens[row] - K_GRAM) & (gh == wm)
            fps = (
                pa.table({"row": row[keep], "fingerprint": gh[keep]})
                .group_by(["row", "fingerprint"], use_threads=False)
                .aggregate([])
            )
            yield pa.record_batch(
                [
                    ids.take(fps.column("row").combine_chunks()),
                    fps.column("fingerprint").combine_chunks(),
                ],
                names=["doc_id", "fingerprint"],
            )

    return d.mapInArrow(kern, "doc_id long, fingerprint long")


@register(
    "q_fingerprint_winnow",
    oracle=_WINNOW_CTE + "SELECT doc_id, fingerprint FROM fps",
    category=CAT,
)
def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every 8-char gram (rolling by position), keep a gram when it
    is the minimum of its trailing 4-gram window, emit the distinct
    fingerprint set per document. Guarantees any shared substring of
    length ≥ k+w−1 yields a shared fingerprint — the standard
    plagiarism/near-dup sketch.

    The "gram hash" is the gram ITSELF, encoded injectively into a
    BIGINT (k = 8 ASCII chars = 8 bytes = one long, via hex + base
    conversion — identical in both engines, verified on literals).
    The winnowing guarantee — any shared substring of length ≥ k+w−1
    yields a shared fingerprint — holds for ANY deterministic gram
    value map, and an injective map can't even collide. r01 used
    md5-``h60`` per gram; dropping the digest for the direct encoding
    measured 3.4 s → 2.65 s at sf0.1 (the md5 was ~25% of the query).
    Constraint: corpus must be ASCII (verified for the test corpus —
    max code point 121); multi-byte text would overflow the 8-byte
    budget and needs the md5 fallback.

    Plan shape (gated by test_winnow_single_preexplosion_exchange):
    repartition the RAW docs by doc_id before the per-doc expansion —
    the exchange carries whole documents (1 row each) instead of ~490
    hashed gram rows and the kernel runs on every core (single-
    row-group test parquet ⇒ single-task scan otherwise): zero
    post-expansion exchanges. Shuffle-before-expansion holds at any
    scale: moving a document once is always cheaper than its grams.
    r13: the expansion itself moved from explode + codegen encode +
    trailing-min window + distinct into one mapInArrow numpy kernel —
    see winnow_fingerprints for the mechanism (ABBA vs the window
    plan at sf0.1/sf1/sf10: 0.90×/0.40×/0.21×). Its per-doc Python
    loop later became whole-batch numpy: over all 50,000 sf1 docs,
    single-threaded on a 4-core host, 2.30 s → 0.69 s for the same
    3,049,001 rows.

    Formulation history: an all-higher-order variant (hash array +
    per-element slice/array_min, zero shuffle) was built and
    benchmarked in r01 — it LOSES to the window formulation (Spark
    evaluates HOF lambdas interpreted, and the lambda-nested array
    reference defeats subexpression elimination; 96 s in the naive
    inlined form). The r04–r12 posexplode + window plan kept the gram
    encode inside codegen (2.75 → 0.75 s at sf0.1); the r13 kernel
    replaces it per the tier-swept ABBA above.

    Scale: positions explode ×|text| rows after the 1-row-per-doc
    shuffle; output is the winnowed set (~2/(w+1) of grams). No skew
    (docs are bounded length).
    """
    return winnow_fingerprints(spark, sf_dir)


CONTAM_MIN_SHARED = 3  # shared fingerprints below this are noise, not overlap


@register(
    "q_contamination_check",
    oracle=_WINNOW_CTE
    + f"""
        SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fps c JOIN fps b ON c.fingerprint = b.fingerprint
        WHERE c.doc_id % 97 != 0 AND b.doc_id % 97 = 0
        GROUP BY c.doc_id, b.doc_id
        HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
    """,
    category=CAT,
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing
    winnowing fingerprints with a held-out "benchmark" set (stand-in:
    every 97th doc_id) — the overlap check every training pipeline
    runs so evaluation data doesn't leak into training data. The
    winnowing guarantee makes this sound: any shared substring of
    length ≥ k+w−1 (11 chars) between a corpus doc and a benchmark doc
    yields a shared fingerprint, so thresholding on ≥ 3 shared
    fingerprints has no false negatives for substantial overlap.

    Scale: the benchmark fingerprint set is tiny relative to the
    corpus (the Spark plan broadcasts it), so the check is one linear
    pass over corpus fingerprints + a broadcast hash join — the same
    shape at 100 TB with a real benchmark suite.
    """
    fps = winnow_fingerprints(spark, sf_dir)
    corpus = fps.filter(F.col("doc_id") % 97 != 0)
    bench = fps.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "fingerprint"
    )
    return (
        corpus.join(F.broadcast(bench), "fingerprint")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


REP_THRESHOLD = 0.55  # duplicate-unigram fraction above which a doc is flagged


@register(
    "q_repetition_filter",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), pos AS (
            SELECT doc_id, t, len(t) AS n, unnest(range(1, len(t) + 1)) AS p
            FROM toks WHERE len(t) >= 3
        ), grams AS (
            SELECT doc_id, n,
                   list_extract(t, p) AS g1,
                   CASE WHEN p <= n - 1 THEN
                       list_extract(t, p) || ' ' || list_extract(t, p + 1) END AS g2,
                   CASE WHEN p <= n - 2 THEN
                       list_extract(t, p) || ' ' || list_extract(t, p + 1)
                       || ' ' || list_extract(t, p + 2) END AS g3
            FROM pos
        ), fracs AS (
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   1.0 - CAST(COUNT(DISTINCT g1) AS DOUBLE) / n AS d1,
                   1.0 - CAST(COUNT(DISTINCT g2) AS DOUBLE) / (n - 1) AS d2,
                   1.0 - CAST(COUNT(DISTINCT g3) AS DOUBLE) / (n - 2) AS d3
            FROM grams GROUP BY doc_id, n
        )
        SELECT doc_id, n_tokens,
               ROUND(d1, 6) AS dup_frac_1,
               ROUND(d2, 6) AS dup_frac_2,
               ROUND(d3, 6) AS dup_frac_3,
               d1 >= {REP_THRESHOLD} AS repetitive
        FROM fracs
    """,
    category=CAT,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filtering (the Gopher/MassiveText-style quality
    signal): per document, the duplicate fraction of word 1/2/3-grams —
    `1 − distinct/total` per order — flagging documents whose unigram
    duplication exceeds REP_THRESHOLD (on this corpus that splits the
    distribution near its median; real pipelines drop flagged docs
    before training). All three orders come from ONE explode over
    token positions (higher orders are NULL past their last valid
    position; count-distinct skips NULLs identically in both engines),
    and every ratio is an exact integer quotient — bit-portable.

    Scale: same shuffle-before-expansion shape as winnowing —
    repartition raw docs by doc_id, explode ×n_tokens positions
    locally; the count-distinct aggregates are satisfied by the doc_id
    partitioning: zero post-explosion exchanges.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    n = F.size("t")
    grams = d.select(
        "doc_id",
        n.alias("n"),
        F.explode(F.sequence(F.lit(1), n)).alias("p"),
        F.col("t"),
    ).select(
        "doc_id",
        "n",
        F.element_at("t", F.col("p")).alias("g1"),
        F.when(
            F.col("p") <= F.col("n") - 1,
            F.concat_ws(
                " ", F.element_at("t", F.col("p")), F.element_at("t", F.col("p") + 1)
            ),
        ).alias("g2"),
        F.when(
            F.col("p") <= F.col("n") - 2,
            F.concat_ws(
                " ",
                F.element_at("t", F.col("p")),
                F.element_at("t", F.col("p") + 1),
                F.element_at("t", F.col("p") + 2),
            ),
        ).alias("g3"),
    )
    d1 = 1.0 - F.col("u1").cast("double") / F.col("n")
    d2 = 1.0 - F.col("u2").cast("double") / (F.col("n") - 1)
    d3 = 1.0 - F.col("u3").cast("double") / (F.col("n") - 2)
    # size(collect_set) rather than count_distinct: Spark rewrites
    # multiple count-distincts through an Expand (×3 row blowup) whose
    # re-aliased output loses the doc_id partitioning and forces two
    # extra exchanges; collect_set is a plain hash aggregate (sets are
    # bounded by doc length) that keeps the plan at one pre-explosion
    # exchange — gated by test_repetition_filter_single_preexplosion_exchange.
    return (
        grams.groupBy("doc_id", "n")
        .agg(
            F.size(F.collect_set("g1")).alias("u1"),
            F.size(F.collect_set("g2")).alias("u2"),
            F.size(F.collect_set("g3")).alias("u3"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.round(d1, 6).alias("dup_frac_1"),
            F.round(d2, 6).alias("dup_frac_2"),
            F.round(d3, 6).alias("dup_frac_3"),
            (d1 >= REP_THRESHOLD).alias("repetitive"),
        )
    )


BIGRAM_ADD_K = 1  # add-one (Laplace) smoothing
HIGH_PPL_NLL = 3.40  # ≈ corpus p75 of avg bigram NLL — the CCNet-style cut


@register(
    "q_ngram_lm_score",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), pos AS (
            SELECT doc_id, t, len(t) AS n, unnest(range(1, len(t))) AS p
            FROM toks WHERE len(t) >= 2
        ), bg AS (
            SELECT doc_id, n, list_extract(t, p) AS w1,
                   list_extract(t, p) || ' ' || list_extract(t, p + 1) AS g
            FROM pos
        ), big AS (
            SELECT g, COUNT(*) AS c2 FROM bg GROUP BY g
        ), uni AS (
            SELECT split_part(g, ' ', 1) AS w1, SUM(c2) AS c1
            FROM big GROUP BY split_part(g, ' ', 1)
        ), v AS (
            SELECT COUNT(*) AS vv FROM uni
        ), terms AS (
            SELECT doc_id, n,
                   CAST(round(-ln((big.c2 + {BIGRAM_ADD_K}.0) / (uni.c1 + v.vv))
                              * 1000000) AS BIGINT) AS m
            FROM bg JOIN big USING (g) JOIN uni USING (w1) CROSS JOIN v
        )
        SELECT doc_id, CAST(n - 1 AS BIGINT) AS n_bigrams,
               -- integer-arithmetic half-up rounding to micro-nats:
               -- bit-identical to Spark's DIV at every scale (a
               -- round-a-double formulation flipped on exact-half
               -- rationals, 4/50k docs at sf1)
               CAST((SUM(m) * 2 + (n - 1)) // ((n - 1) * 2) AS DOUBLE)
                   / 1000000.0 AS avg_nll,
               CAST(SUM(m) AS DOUBLE) / 1000000.0 / (n - 1) > {HIGH_PPL_NLL}
                   AS high_perplexity
        FROM terms GROUP BY doc_id, n
    """,
    category=CAT,
)
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filtering (the CCNet/KenLM signal): fit
    an add-one-smoothed bigram LM on the corpus itself, score each
    document by its average bigram negative log-likelihood, and flag
    the high-perplexity tail (avg NLL > p75). Real pipelines score
    against a reference-domain LM; the plumbing — train counts, join
    scores, aggregate per doc — is identical. The denominator is the
    bigram-PREFIX count c1(w1) = Σ_w c2(w1,w) (the proper conditional
    normalizer), so model and scores all derive from ONE bigram stream.

    Determinism: P(w2|w1) = (c2+1)/(c1+V) is a double quotient of exact
    integers (bit-identical in both engines); each term's −ln(P) is
    rounded half-away to micro-units and summed as BIGINT, so the
    per-doc sum is exact and order-free (the ``dsum`` discipline,
    operators/common.py) — only the final ÷(n−1) + round(6) is float.

    Scale: two passes over the corpus — a FIT pass (explode → map-side-
    combined bigram counts) and a SCORE pass (explode → broadcast-join
    → per-doc rollup) — the CCNet shape. Recomputing the explode beats
    materializing the corpus-sized bigram stream: the expansion is
    narrow (no shuffle), while a persisted stream costs a cache write
    + read of |tokens| rows (measured at sf0.1: dropping the persist
    AND the pre-explode repartition cut the median 0.78 → 0.55 s; at
    100 TB the same logic holds — you re-scan the corpus, never spill
    a multiple of it). Model tables are vocabulary-bounded broadcasts;
    with a web-scale vocab they become shuffle joins co-keyed on the
    gram. Explode fan-out is ~|doc| per row — uniform here;
    pathologically long docs would warrant a pre-explode repartition.

    Round 13 (VERDICT r12 #3, guide §2.3/§2.4): the r12 shape chained
    three broadcast builds (big, uni, V) whose subtrees each contained
    the corpus explode — column pruning makes the repeated subtrees
    non-canonical, so without AQE's runtime stage reuse the corpus was
    tokenized FOUR times per run (plans/r13/docs_lm_score_before.txt:
    4 Generate nodes over 4 documents scans). This shape derives c1
    and V from the bigram-count table ITSELF via windows (vocab-
    bounded: partitionBy(w1) unbounded sums + one whole-frame sum —
    no self-join, no subtree duplication), precomputes each gram's
    micro-nat term m on the model table with the IDENTICAL float
    expression tree (same (c2,c1,vv) integers per g ⇒ bit-identical
    doubles ⇒ identical half-away longs), and broadcasts just (g, m):
    exactly TWO corpus explodes by construction in every mode — and
    strictly less work even under AQE reuse. Value-pinned against the
    r12 three-broadcast formulation (tests/test_round13_opt.py) and
    the unchanged oracle. Measured (ABBA, toPandas protocol,
    tools/bench_r13_ab.py): sf0.1 1.02→0.93 s, sf1 1.11→0.96 s, sf10
    4.40→4.35 s (wash inside noise — never loses a tier). At web-scale
    vocab the whole-frame V window becomes the same shuffle-agg the
    broadcast fallback already prescribes.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n = F.size("t")
    bg = (
        d.filter(n >= 2)
        .select(
            "doc_id",
            n.alias("n"),
            F.explode(F.sequence(F.lit(1), n - 1)).alias("p"),
            F.col("t"),
        )
        .select(
            "doc_id",
            "n",
            F.concat_ws(
                " ", F.element_at("t", F.col("p")), F.element_at("t", F.col("p") + 1)
            ).alias("g"),
        )
    )
    big = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    # Prefix counts c1(w1) = Σ_w2 c2(w1,w2) and the vocab size V roll
    # up from the bigram count table (vocab²-bounded) via windows —
    # NOT from the full bigram stream and NOT as separate aggregate
    # branches (each extra branch re-explodes the corpus). g is the
    # group key, hence unique: "g == min(g) over w1" marks each
    # distinct w1 exactly once, so the whole-frame sum of those marks
    # is COUNT(DISTINCT w1) = V.
    w_w1 = Window.partitionBy("w1")
    w_all = Window.partitionBy()
    model = (
        big.withColumn("w1", F.substring_index("g", " ", 1))
        .withColumn("c1", F.sum("c2").over(w_w1))
        .withColumn("gmin", F.min("g").over(w_w1))
        .withColumn(
            "vv",
            F.sum(
                F.when(F.col("g") == F.col("gmin"), F.lit(1)).otherwise(F.lit(0))
            ).over(w_all),
        )
    )
    nll = -F.log(
        (F.col("c2") + float(BIGRAM_ADD_K)) / (F.col("c1") + F.col("vv"))
    )
    micros = nll * 1_000_000
    term = (micros + F.when(micros >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast(
        "long"
    )
    avg = F.col("msum").cast("double") / 1_000_000.0 / (F.col("n") - 1)
    # The reported avg_nll is rounded IN INTEGER ARITHMETIC:
    # round6(msum/1e6/nb) == round-to-int of msum/nb in micro-nats ==
    # (2*msum + nb) div (2*nb) for the positive sums here. A
    # double-round formulation (F.round(avg, 6) vs DuckDB's
    # ROUND(...)) disagreed on 4 of 50,000 docs at sf1 — the exact
    # rational lands ON a x.xxxxxx5 boundary and the two engines'
    # round-a-double paths pick opposite sides. Integer division has
    # no such path: bit-identical at every scale.
    nb = F.col("n") - 1
    avg6 = F.expr(
        "CAST((msum * 2 + (n - 1)) DIV ((n - 1) * 2) AS DOUBLE) / 1000000.0"
    )
    return (
        bg.join(F.broadcast(model.select("g", term.alias("m"))), "g")
        .groupBy("doc_id", "n")
        .agg(F.sum("m").alias("msum"))
        .select(
            "doc_id",
            nb.cast("long").alias("n_bigrams"),
            avg6.alias("avg_nll"),
            (avg > HIGH_PPL_NLL).alias("high_perplexity"),
        )
    )


# Fixed linear quality model (a stand-in for a published fasttext-style
# classifier): z = b + w·[mean word len, stopword frac, distinct ratio,
# ln n_tokens]. Weights centered so the corpus score distribution
# straddles the 0.5 keep-threshold (measured medians: 4.5/0.061/0.462).
QW_BIAS, QW_MWL, QW_SW, QW_DR, QW_LNT = -8.0, 0.8, 6.0, 5.0, 0.35
_STOPWORDS = ("the", "a", "is", "and", "of")


@register(
    "q_quality_score_model",
    oracle=f"""
        WITH f AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                       / len(string_split(text, ' ')) AS mwl,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x IN {str(_STOPWORDS)})) AS DOUBLE)
                       / len(string_split(text, ' ')) AS sw,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS dr
            FROM documents
        ), z AS (
            SELECT doc_id, n_tok, mwl, sw, dr,
                   {QW_BIAS} + {QW_MWL} * mwl + {QW_SW} * sw + {QW_DR} * dr
                       + {QW_LNT} * ln(n_tok) AS z
            FROM f
        )
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
               ROUND(mwl, 6) AS mean_word_len,
               ROUND(sw, 6) AS stopword_frac,
               ROUND(dr, 6) AS distinct_ratio,
               ROUND(1.0 / (1.0 + exp(-z)), 6) AS quality_score,
               1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
        FROM z
    """,
    category=CAT,
)
def q_quality_score_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a fixed-weight linear classifier
    over cheap text features (mean word length, stopword fraction,
    distinct-token ratio, log length) squashed through a sigmoid, with
    keep = score ≥ 0.5 — the shape of every learned quality filter
    (fasttext / logreg) once the weights are frozen for inference.

    The features are exact integer ratios; only the final sigmoid is
    float (round-6 on both sides, the r6 discipline).

    Scale: embarrassingly parallel narrow scan — all features come
    from one split() per row, no shuffle at all. A real model swaps
    the literal weights for a broadcast weight vector; the plan shape
    is unchanged.
    """
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n_tok = F.size(t)
    sw_hits = F.size(
        F.filter(t, lambda x: x.isin(*_STOPWORDS))
    )
    mwl = (F.col("n_chars") - (n_tok - 1)).cast("double") / n_tok
    sw = sw_hits.cast("double") / n_tok
    dr = F.size(F.array_distinct(t)).cast("double") / n_tok
    z = (
        F.lit(QW_BIAS)
        + F.lit(QW_MWL) * mwl
        + F.lit(QW_SW) * sw
        + F.lit(QW_DR) * dr
        + F.lit(QW_LNT) * F.log(n_tok.cast("double"))
    )
    score = 1.0 / (1.0 + F.exp(-z))
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(sw, 6).alias("stopword_frac"),
        F.round(dr, 6).alias("distinct_ratio"),
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


DOMAIN_QUOTA = 15  # max docs kept per source stratum


@register(
    "q_domain_quota",
    oracle=f"""
        SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
        FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                      || ':' || source), 1, 15)) AS BIGINT),
                                doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= {DOMAIN_QUOTA}
    """,
    category=CAT,
)
def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: cap each source at DOMAIN_QUOTA
    documents, chosen by deterministic content-hash order (h60 of
    doc_id:source, doc_id tie-break) — the crawl-side step that stops
    a single domain from dominating the training mixture. Hash order
    makes the kept set reproducible and partition-independent, unlike
    "first N seen".

    Scale: one shuffle on source + a per-partition top-N window. With
    skewed domains (one source = half the corpus) the window input is
    still the full stratum — the scale fix is a two-level quota
    (per-partition pre-top-N, then global top-N), which AQE's skew
    handling approximates; at 20 balanced sources this single window
    is the right plan.
    """
    d = load(spark, sf_dir, "documents")
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    from ..operators.common import h60

    w = Window.partitionBy("source").orderBy(h60(key), F.col("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DOMAIN_QUOTA)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )


# Per-source sampling rates in permille: a deterministic function of
# the source index so the "mixture config" needs no side table —
# sources src0..src19 get 50/95/140/185/230 ‰ cyclically.
_MIX_BASE, _MIX_STEP, _MIX_CYCLE = 50, 45, 5


@register(
    "q_mixture_sample",
    oracle=f"""
        WITH rated AS (
            SELECT doc_id, source, lang,
                   {_MIX_BASE} + {_MIX_STEP}
                       * (CAST(substr(source, 4) AS INTEGER) % {_MIX_CYCLE})
                       AS rate_permille
            FROM documents
        )
        SELECT doc_id, source, rate_permille
        FROM rated
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 15))
                   AS BIGINT) % 1000 < rate_permille
    """,
    category=CAT,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: each source stratum is down-sampled
    at its own rate (the domain-weighting step every LLM data pipeline
    runs before training). Selection is a deterministic content hash —
    h60(doc_id:source) mod 1000 < rate‰ — so the sample is exactly
    reproducible on both engines, independent of partitioning, and
    stable under re-runs (unlike df.sample).

    Scale: embarrassingly parallel scan-side filter; the per-source
    rate is pure arithmetic on the source name, so there is no config
    join at all — with a real mixture table it becomes a ~#sources-row
    broadcast join.
    """
    d = load(spark, sf_dir, "documents")
    rate = F.lit(_MIX_BASE) + F.lit(_MIX_STEP) * (
        F.substring("source", 4, 10).cast("int") % _MIX_CYCLE
    )
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    keep = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % 1000 < rate
    return d.filter(keep).select(
        "doc_id", "source", rate.cast("int").alias("rate_permille")
    )


CHUNK_TOKENS = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # stride (CHUNK_TOKENS − overlap of 8)


@register(
    "q_doc_chunk",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ), idx AS (
            SELECT doc_id, t, n,
                   unnest(range(0, (n - 1) // {CHUNK_STRIDE} + 1)) AS chunk_idx
            FROM toks
        )
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
               CAST(len(list_slice(t, chunk_idx * {CHUNK_STRIDE} + 1,
                        chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
                   AS n_chunk_tokens,
               array_to_string(list_slice(t, chunk_idx * {CHUNK_STRIDE} + 1,
                        chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
                   AS chunk_text
        FROM idx
    """,
    category=CAT,
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size training-chunk extraction: split each document into
    32-token chunks with 8-token overlap (stride 24) — the step that
    turns variable-length documents into model-context-sized training
    examples while the overlap preserves cross-boundary context. The
    last chunk per doc is short rather than padded (padding is a
    tokenizer-side concern).

    Chunk boundaries are pure integer arithmetic on token positions,
    and the chunk text is a deterministic slice — everything crosses
    the oracle boundary exactly.

    Scale: shuffle-before-expansion again — chunking explodes ×(n/24)
    rows, so the repartition moves whole docs first; slicing runs in
    codegen. Chunks inherit doc_id so downstream dedup/quota joins
    co-partition for free.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .withColumn("n", F.size("t"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE + 1
    chunk = F.slice("t", start, CHUNK_TOKENS)
    return d.select(
        "doc_id",
        "t",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / CHUNK_STRIDE))
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


PACK_BUDGET = 256  # token budget per packed training sequence


@register(
    "q_pack_sequences",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT doc_id, source, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_excl
            FROM toks
        )
        SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum_excl // {PACK_BUDGET} AS BIGINT) AS pack_id,
               CAST(cum_excl % {PACK_BUDGET} AS BIGINT) AS offset_in_pack,
               cum_excl % {PACK_BUDGET} + n_tokens > {PACK_BUDGET}
                   AS crosses_boundary
        FROM cum
    """,
    category=CAT,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concatenate-then-split): within each source
    shard, documents are concatenated in doc_id order and cut into
    256-token training sequences; each doc reports the pack it starts
    in, its token offset there, and whether it straddles a pack
    boundary — the bookkeeping a packed-pretraining dataloader needs.
    All integer arithmetic on an exclusive running token count.

    Scale: the prefix sum is windowed PER SOURCE SHARD (how packing is
    actually run — shard-local concatenation), so no global ordering
    bottleneck exists; each stratum's window is one partition of work
    after the source-keyed shuffle. A truly global pack order would
    need the classic two-pass prefix sum (per-partition subtotals,
    broadcast offsets) — deliberately avoided by keying on the shard.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(cum_excl / PACK_BUDGET).cast("long").alias("pack_id"),
        (cum_excl % PACK_BUDGET).cast("long").alias("offset_in_pack"),
        (cum_excl % PACK_BUDGET + F.col("n_tokens") > PACK_BUDGET).alias(
            "crosses_boundary"
        ),
    )


@register(
    "q_token_entropy",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), tf AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
        ), wn AS (
            SELECT doc_id, c,
                   SUM(c) OVER (PARTITION BY doc_id) AS n,
                   COUNT(*) OVER (PARTITION BY doc_id) AS nd
            FROM tf
        ), terms AS (
            SELECT doc_id, nd,
                   CAST(round(-(CAST(c AS DOUBLE) / n)
                              * log2(CAST(c AS DOUBLE) / n) * 1000000)
                        AS BIGINT) AS m
            FROM wn
        )
        SELECT doc_id, CAST(nd AS BIGINT) AS n_distinct,
               ROUND(CAST(SUM(m) AS DOUBLE) / 1000000.0, 6) AS entropy
        FROM terms GROUP BY doc_id, nd
    """,
    category=CAT,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the
    information-density quality signal (near-zero entropy = degenerate
    repetition; complements X21's duplicate-fraction view). p = tf/n
    is an exact integer ratio; each −p·log2(p) term is micro-rounded
    and summed as BIGINT (dsum discipline), so only the final round(6)
    is float.

    Scale: shuffle-before-expansion repartition by doc_id, then BOTH
    the (doc_id, token) aggregate and the per-doc window reuse that
    partitioning — one exchange total, same contract as winnowing.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    tf = (
        d.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.col("n")
    micros = -p * F.log2(p) * 1_000_000
    term = (micros + F.when(micros >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast(
        "long"
    )
    return (
        tf.withColumn("n", F.sum("c").over(w))
        .withColumn("nd", F.count(F.lit(1)).over(w))
        .select("doc_id", "nd", term.alias("m"))
        .groupBy("doc_id", "nd")
        .agg(F.sum("m").alias("msum"))
        .select(
            "doc_id",
            F.col("nd").cast("long").alias("n_distinct"),
            F.round(F.col("msum").cast("double") / 1_000_000.0, 6).alias("entropy"),
        )
    )


SPLIT_VAL_PERMILLE = 100  # 10% validation
SPLIT_TEST_PERMILLE = 100  # 10% test


@register(
    "q_train_test_split",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                         1, 15)) AS BIGINT) % 1000 AS bucket
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN bucket < {SPLIT_TEST_PERMILLE} THEN 'test'
                    WHEN bucket < {SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE}
                        THEN 'val'
                    ELSE 'train' END AS split
        FROM h
    """,
    category=CAT,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by content
    hash of the document id — reproducible across runs, engines, and
    partitionings, and stable under corpus growth (a doc's split never
    changes when other docs are added — the property random shuffles
    lack and the reason every production pipeline splits by hash).

    Scale: embarrassingly parallel scan-side expression; no state, no
    shuffle, no split-manifest table to keep consistent.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    split = (
        F.when(bucket < SPLIT_TEST_PERMILLE, F.lit("test"))
        .when(bucket < SPLIT_TEST_PERMILLE + SPLIT_VAL_PERMILLE, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return d.select("doc_id", "lang", split.alias("split"))


RARE_MIN_COUNT = 40  # sources rarer than this collapse to 'other'


@register(
    "q_rare_bucket",
    oracle=f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS c FROM documents GROUP BY source
        )
        SELECT d.doc_id,
               CASE WHEN c.c >= {RARE_MIN_COUNT} THEN d.source
                    ELSE 'other' END AS source_bucketed,
               CAST(c.c AS BIGINT) AS source_count
        FROM documents d JOIN counts c ON d.source = c.source
    """,
    category=CAT,
)
def q_rare_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category bucketing: sources with fewer than RARE_MIN_COUNT
    documents collapse into 'other' — the cardinality-control step
    before any categorical feature is fed to a model or used as a
    partition key (unbounded category sets are both a model and a
    small-files hazard).

    Scale: category counts are a category-bounded aggregate joined
    back as a broadcast; the corpus never shuffles.
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    return d.join(F.broadcast(counts), "source").select(
        "doc_id",
        F.when(F.col("c") >= RARE_MIN_COUNT, F.col("source"))
        .otherwise(F.lit("other"))
        .alias("source_bucketed"),
        F.col("c").cast("long").alias("source_count"),
    )


@register(
    "q_fim_split",
    oracle="""
        WITH t AS (
            SELECT doc_id, source, text,
                   string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        cuts AS (
            SELECT doc_id, source, text, toks, n,
                   CAST(('0x' || substr(md5('f1_' || doc_id), 1, 15)) AS BIGINT)
                     % (n + 1) AS c1,
                   CAST(('0x' || substr(md5('f2_' || doc_id), 1, 15)) AS BIGINT)
                     % (n + 1) AS c2
            FROM t
        ),
        parts AS (
            SELECT doc_id, source, text, n,
                   LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi,
                   array_to_string(toks[1:LEAST(c1, c2)], ' ') AS prefix,
                   array_to_string(toks[LEAST(c1, c2)+1:GREATEST(c1, c2)], ' ')
                     AS middle,
                   array_to_string(toks[GREATEST(c1, c2)+1:n], ' ') AS suffix
            FROM cuts
        ),
        j AS (
            SELECT source, n, hi - lo AS mid_tokens,
                   CASE WHEN concat_ws(' ',
                                  nullif(prefix, ''), nullif(middle, ''),
                                  nullif(suffix, '')) = text
                        THEN 1 ELSE 0 END AS lossless
            FROM parts
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(lossless) AS BIGINT) AS n_lossless,
               CAST(SUM(mid_tokens) AS BIGINT) AS total_mid_tokens,
               round(CAST(SUM(mid_tokens) AS DOUBLE) / SUM(n), 6)
                   AS mid_fraction
        FROM j
        GROUP BY source
        ORDER BY source
    """,
    category=CAT,
)
def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X39: fill-in-the-middle (FIM) split — partition each document's
    token stream into (prefix, middle, suffix) at two hash-derived cut
    points (Bavarian et al. 2022's PSM transform, made deterministic:
    cuts come from the portable h60 of the doc id, not RNG). Reports
    per-source split-mass statistics and the LOSSLESS invariant: the
    three pieces, re-joined, must reproduce the original text exactly
    — the property that guarantees FIM training data never corrupts
    the underlying tokens.

    Scale: scan-side token split + slicing (narrow, codegen), one
    small-key rollup. The real pipeline writes the three columns out;
    the reassembly check here is what its unit test asserts, done
    in-engine over every row.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        "text",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    c1 = h60(F.concat(F.lit("f1_"), F.col("doc_id").cast("string"))) % (
        F.col("n") + 1
    )
    c2 = h60(F.concat(F.lit("f2_"), F.col("doc_id").cast("string"))) % (
        F.col("n") + 1
    )
    cuts = t.select(
        "source",
        "text",
        "toks",
        "n",
        F.least(c1, c2).alias("lo"),
        F.greatest(c1, c2).alias("hi"),
    )
    prefix = F.concat_ws(
        " ", F.slice("toks", F.lit(1), F.col("lo").cast("int"))
    )
    middle = F.concat_ws(
        " ",
        F.slice(
            "toks",
            (F.col("lo") + 1).cast("int"),
            (F.col("hi") - F.col("lo")).cast("int"),
        ),
    )
    suffix = F.concat_ws(
        " ",
        F.slice(
            "toks",
            (F.col("hi") + 1).cast("int"),
            (F.col("n") - F.col("hi")).cast("int"),
        ),
    )
    rejoined = F.concat_ws(
        " ",
        F.nullif(prefix, F.lit("")),
        F.nullif(middle, F.lit("")),
        F.nullif(suffix, F.lit("")),
    )
    j = cuts.select(
        "source",
        "n",
        (F.col("hi") - F.col("lo")).alias("mid_tokens"),
        F.when(rejoined == F.col("text"), 1).otherwise(0).alias("lossless"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("lossless").cast("long").alias("n_lossless"),
            F.sum("mid_tokens").cast("long").alias("total_mid_tokens"),
            F.round(
                F.sum("mid_tokens").cast("double") / F.sum("n"), 6
            ).alias("mid_fraction"),
        )
        .orderBy("source")
    )


@register(
    "q_lang_confusion",
    oracle=f"""
        WITH markers(m_lang, m_token) AS (
            VALUES {", ".join(
                f"('{lang}', '{tok}')"
                for lang, toks in sorted(LANG_MARKERS.items())
                for tok in toks
            )}
        ), tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), hits AS (
            SELECT doc_id, lang, m_lang, COUNT(*) AS n_hits
            FROM tok JOIN markers ON token = m_token
            GROUP BY doc_id, lang, m_lang
        ), best AS (
            SELECT doc_id, lang, m_lang AS pred_lang
            FROM hits
            QUALIFY row_number() OVER (PARTITION BY doc_id
                                       ORDER BY n_hits DESC, m_lang ASC) = 1
        ), labeled AS (
            SELECT d.lang AS true_lang,
                   coalesce(b.pred_lang, 'und') AS pred_lang
            FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
        )
        SELECT true_lang, pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM labeled
        GROUP BY true_lang, pred_lang
        ORDER BY true_lang, pred_lang
    """,
    category=CAT,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41: language-ID confusion matrix — the evaluation table for
    q_lang_id's predictor: counts per (true language, predicted
    language) cell, the diagnostic every classifier ships with (on
    this shared-vocabulary synthetic corpus most mass lands in the
    'en' column — the matrix QUANTIFIES that known bias rather than
    hiding it).

    Scale: inherits the predictor's broadcast-lexicon shape; the
    matrix is a ≤|langs|² aggregate.
    """
    pred = q_lang_id(spark, sf_dir).select(
        F.col("lang").alias("true_lang"), "pred_lang"
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


_VOCAB_V = 1000  # tokenizer vocabulary budget (top-V corpus tokens)


@register(
    "q_vocab_coverage",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), tf AS (
            SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
        ), vocab AS (
            SELECT token FROM tf
            ORDER BY freq DESC, token ASC
            LIMIT {_VOCAB_V}
        ), scored AS (
            SELECT t.lang, t.token,
                   CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
            FROM tok t LEFT JOIN vocab v ON t.token = v.token
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(oov) AS BIGINT) AS n_oov,
               round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
        FROM scored
        GROUP BY lang
    """,
    category=CAT,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45: tokenizer-vocabulary coverage — fit a top-{_VOCAB_V}
    frequency vocabulary on the corpus (the whitespace stand-in for a
    tokenizer's learned symbol table), then report per-language token
    counts and out-of-vocabulary rates. This is the fit check run
    before/after tokenizer training: a language whose OOV rate is an
    outlier is under-served by the vocabulary and will fragment into
    long byte-fallback sequences at training time.

    Determinism: the vocabulary cut is (freq DESC, token ASC) — a
    total order, so the boundary of the top-V set is engine-identical;
    coverage counts are exact integers and the rate is one integer
    ratio rounded 6.

    Scale: the CCNet/lm_score two-pass shape — a FIT pass (explode →
    map-side-combined token counts → TakeOrderedAndProject top-V) and
    a SCORE pass (explode → broadcast LEFT join against the V-row
    vocabulary → lang rollup). The vocabulary is budget-bounded by
    construction (V rows regardless of corpus size), so the broadcast
    never grows with data; both corpus passes are narrow scans.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(_VOCAB_V)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    scored = tok.join(F.broadcast(vocab), "token", "left").select(
        "lang",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.round(
            F.sum("oov").cast("double") / F.count(F.lit(1)), 6
        ).alias("oov_rate"),
    )


q_vocab_coverage.__doc__ = q_vocab_coverage.__doc__.replace(
    "{_VOCAB_V}", str(_VOCAB_V)
)


# --- round-7 addition: DSIR data selection -----------------------------------

DSIR_B = 1024  # hashed feature buckets
DSIR_TOPK = 200  # selection budget


@register(
    "q_dsir_selection",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, doc_id % 97 = 0 AS tgt,
                   string_split(text, ' ') AS t
            FROM documents
        ), unis AS (
            SELECT doc_id, tgt, unnest(t) AS f FROM toks
        ), bis AS (
            SELECT doc_id, tgt,
                   list_extract(t, p) || ' ' || list_extract(t, p + 1) AS f
            FROM (
                SELECT doc_id, tgt, t, unnest(range(1, len(t))) AS p
                FROM toks WHERE len(t) >= 2
            )
        ), feats AS (
            SELECT doc_id, tgt, ({o_h60("f")}) % {DSIR_B} AS b
            FROM (SELECT * FROM unis UNION ALL SELECT * FROM bis)
        ), bcnt AS (
            SELECT b,
                   SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                   SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
            FROM feats GROUP BY b
        ), tot AS (
            SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM bcnt
        ), lr AS (
            SELECT b,
                   CAST(round(ln((CAST(ct + 1 AS DOUBLE)
                                  * CAST(nr + {DSIR_B} AS DOUBLE))
                                 / (CAST(cr + 1 AS DOUBLE)
                                    * CAST(nt + {DSIR_B} AS DOUBLE)))
                              * 1000000) AS BIGINT) AS lr
            FROM bcnt, tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_feats,
               CAST(SUM(lr) AS BIGINT) AS dsir_micro_nats
        FROM feats JOIN lr USING (b)
        WHERE NOT tgt
        GROUP BY doc_id
        ORDER BY dsir_micro_nats DESC, doc_id ASC
        LIMIT {DSIR_TOPK}
    """,
    category=CAT,
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54: DSIR — Data Selection via Importance Resampling (Xie et
    al. 2023): score every raw-pool document by the log importance
    ratio of a target domain over the raw pool in a HASHED n-gram
    feature space, and select the top-k. Features are unigrams +
    bigrams hashed into DSIR_B buckets (the hashing makes the feature
    space fixed-size at any corpus scale — the paper's core trick);
    both distributions are add-one smoothed; the target domain
    stand-in is every 97th doc_id (the benchmark-set convention shared
    with q_contamination_check). This is the principled replacement
    for threshold quality filters when you have examples of the data
    you WANT (e.g. select web text that looks like Wikipedia).

    Determinism: the per-bucket log ratio rounds half-away to integer
    MICRO-NATS once per bucket (1024 roundings total), and every
    per-doc score is then an exact BIGINT dot product of occurrence
    counts with that table — the q_ngram_lm_score discipline; the
    output carries no float column at all. Top-k ties break on doc_id.

    Scale: one explode pass builds the hashed-feature stream (the
    wordcount/boilerplate class); the bucket table is DSIR_B rows
    regardless of corpus size — it broadcasts forever; scoring is a
    map-side-combined per-doc rollup and selection is
    TakeOrderedAndProject. The target pass and the raw pass share the
    single feature stream (conditional aggregation, not two scans).
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 97 == 0).alias("tgt"),
        F.split("text", " ").alias("t"),
    )
    unis = d.select("doc_id", "tgt", F.explode("t").alias("f"))
    bis = d.filter(F.size("t") >= 2).select(
        "doc_id",
        "tgt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("f"),
    )
    feats = unis.unionByName(bis).select(
        "doc_id", "tgt", F.pmod(h60(F.col("f")), F.lit(DSIR_B)).alias("b")
    )
    bcnt = feats.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("tgt"), 0).otherwise(1)).alias("cr"),
    )
    tot = bcnt.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    ratio = (
        (F.col("ct") + 1).cast("double")
        * (F.col("nr") + DSIR_B).cast("double")
    ) / (
        (F.col("cr") + 1).cast("double")
        * (F.col("nt") + DSIR_B).cast("double")
    )
    lr = bcnt.crossJoin(F.broadcast(tot)).select(
        "b", F.round(F.log(ratio) * 1000000).cast("long").alias("lr")
    )
    return (
        feats.filter(~F.col("tgt"))
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lr").cast("long").alias("dsir_micro_nats"),
        )
        .orderBy(F.col("dsir_micro_nats").desc(), F.col("doc_id").asc())
        .limit(DSIR_TOPK)
    )


DOREMI_STEPS = 3
DOREMI_ETA = 0.5  # multiplicative-weights learning rate (per nat of excess)
_W_SCALE = 1_000_000  # weights live as exact micro-integers summing to 1e6


def _doremi_loss_ctes() -> str:
    """Per-domain unigram cross-entropy as DuckDB CTEs: corpus add-one
    unigram LM, per-token micro-nat NLL rounded ONCE (the lm_score
    discipline), domain mean via the exact half-up integer division."""
    return """
        toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), cnt AS (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ), tot AS (
            SELECT COUNT(*) AS n, (SELECT COUNT(*) FROM cnt) AS v FROM toks
        ), terms AS (
            SELECT t.source,
                   CAST(round(-ln((cnt.c + 1.0) / (tot.n + tot.v))
                              * 1000000) AS BIGINT) AS m
            FROM toks t JOIN cnt USING (tok) CROSS JOIN tot
        ), dom AS (
            SELECT source,
                   COUNT(*) AS n_toks,
                   CAST((SUM(m) * 2 + COUNT(*)) // (COUNT(*) * 2) AS BIGINT)
                       AS loss_micro
            FROM terms GROUP BY source
        )"""


def _doremi_step_ctes(t: int, prev: str, name: str) -> str:
    """One multiplicative-weights step as CTEs: excess over the
    weighted-average loss (exact BIGINT numerators, one double
    division), update w·(1 + eta·excess_nats), renormalize to 1e6."""
    return f"""
{name}_avg AS (
    SELECT CAST(SUM(w * loss_micro) AS DOUBLE) / SUM(w) AS avg_micro
    FROM {prev}
), {name}_raw AS (
    SELECT source, loss_micro,
           greatest(0, CAST(round(
               w * (1 + {DOREMI_ETA} * (loss_micro - a.avg_micro)
                        / 1000000.0)) AS BIGINT)) AS raw
    FROM {prev} CROSS JOIN {name}_avg a
), {name} AS (
    SELECT source, loss_micro,
           CAST(round(raw * 1000000.0
                      / (SELECT SUM(raw) FROM {name}_raw)) AS BIGINT) AS w
    FROM {name}_raw
)"""


_DOREMI_ORACLE = (
    "WITH"
    + _doremi_loss_ctes()
    + """, k AS (
        SELECT COUNT(*) AS kk FROM dom
    ), w0 AS (
        SELECT source, loss_micro,
               CAST(round(1000000.0 / k.kk) AS BIGINT) AS w
        FROM dom CROSS JOIN k
    ),"""
    + ",".join(
        _doremi_step_ctes(t, f"w{t - 1}", f"w{t}")
        for t in range(1, DOREMI_STEPS + 1)
    )
    + """
    SELECT step, source, loss_micro, w AS weight_micro FROM (
    """
    + " UNION ALL ".join(
        f"SELECT {t} AS step, source, loss_micro, w FROM w{t}"
        for t in range(DOREMI_STEPS + 1)
    )
    + ")"
)


@register("q_domain_reweight", oracle=_DOREMI_ORACLE, category=CAT)
def q_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57: DoReMi-style domain reweighting (Xie et al. 2023, public —
    Domain Reweighting with Minimax Optimization): iterate
    multiplicative weights over corpus domains, upweighting domains
    whose loss exceeds the current weighted average — the principled
    mixture-tuning step between X22's quota sampling and X54's
    per-document DSIR selection. The per-domain loss proxy is the
    domain's unigram cross-entropy under the CORPUS add-one LM (the
    deterministic stand-in for DoReMi's proxy-model excess loss; the
    reference pipeline's equivalent knob is its per-domain mixture
    config [UNVERIFIED-PK]).

    Determinism: per-token NLL rounds ONCE to integer micro-nats
    (X24's lm_score discipline); each step's weighted average is a
    ratio of exact BIGINT sums; the update w·(1+eta·excess) rounds
    back to micro-integers and renormalizes to Σ=1e6 — so the oracle
    replays all three steps bit-identically as unrolled CTEs (the X13
    pattern).

    Scale: ONE corpus scan + two token-grain exchanges build the LM
    and the K-domain loss table (map-side combined); the 3-step loop
    runs over K rows with broadcast 1-row averages — control-plane
    sized at any corpus scale. K domains, 4·K output rows.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    toks = tracked_persist(toks)
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    nll = -F.log(
        (F.col("c") + 1.0) / (F.col("n") + F.col("v")).cast("double")
    )
    micros = nll * 1_000_000
    # NLL > 0 always (probabilities < 1), so the codegen trunc(+0.5)
    # form equals round() on both engines (the lm_score speed trick)
    m = (micros + F.lit(0.5)).cast("long")
    terms = toks.join(F.broadcast(cnt.crossJoin(tot)), "tok").select(
        "source", m.alias("m")
    )
    dom = (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("m").alias("msum"),
        )
        # half-up mean in INTEGER arithmetic (the lm_score boundary
        # lesson: a round-a-double mean flips on exact-half rationals)
        .select(
            "source",
            F.expr(
                "CAST((msum * 2 + n_toks) DIV (n_toks * 2) AS BIGINT)"
            ).alias("loss_micro"),
        )
    )
    # the K-row domain table is the loop state: persist it (and each
    # step's weights) or the unionByName of 4 steps re-derives the
    # token-grain aggregation once per lineage copy — measured 84 s at
    # sf0.01 unpersisted vs ~8 s persisted (3^t subtree blowup)
    dom = tracked_persist(dom)
    k = dom.agg(F.count(F.lit(1)).alias("kk"))
    w = dom.crossJoin(F.broadcast(k)).select(
        "source",
        "loss_micro",
        F.round(F.lit(1_000_000.0) / F.col("kk")).cast("long").alias("w"),
    )
    out = w.select(F.lit(0).cast("long").alias("step"), "source", "loss_micro",
                   F.col("w").alias("weight_micro"))
    for t in range(1, DOREMI_STEPS + 1):
        avg = w.agg(
            (
                F.sum(F.col("w") * F.col("loss_micro")).cast("double")
                / F.sum("w")
            ).alias("avg_micro")
        )
        raw = w.crossJoin(F.broadcast(avg)).select(
            "source",
            "loss_micro",
            F.greatest(
                F.lit(0),
                F.round(
                    F.col("w")
                    * (
                        1
                        + DOREMI_ETA
                        * (F.col("loss_micro") - F.col("avg_micro"))
                        / 1_000_000.0
                    )
                ).cast("long"),
            ).alias("raw"),
        )
        sraw = raw.agg(F.sum("raw").alias("sraw"))
        w = tracked_persist(
            raw.crossJoin(F.broadcast(sraw)).select(
                "source",
                "loss_micro",
                F.round(F.col("raw") * 1_000_000.0 / F.col("sraw"))
                .cast("long")
                .alias("w"),
            )
        )
        out = out.unionByName(
            w.select(
                F.lit(t).cast("long").alias("step"),
                "source",
                "loss_micro",
                F.col("w").alias("weight_micro"),
            )
        )
    return out
