"""Corpus-level training-data operators: benchmark decontamination,
stratified corpus mixing, and vocabulary building.

These complement the dedup/similarity family with the remaining ops a
large-scale LM data pipeline runs before training:

- ``decontaminate``: flag training documents that share any word n-gram with
  a held-out eval/benchmark slice (GPT-3 App. C / PaLM-style n-gram overlap
  decontamination).  At 100 TB the eval side is tiny (benchmarks are MBs),
  so its distinct-shingle set broadcasts and the training side streams
  through a broadcast hash join — no shuffle of the big side at all.
- ``corpus_mix``: deterministic per-language stratified sampling (the
  "sampling weights" table of every LM data recipe).  Pure narrow filter —
  the keep/drop decision is a hash of doc_id compared to the stratum's rate,
  so there is NO shuffle and NO global coordination at any scale.
- ``vocab_topk``: global top-k token counts (vocabulary building).  Explode →
  partial-aggregated count (map-side combine) → TakeOrderedAndProject; the
  only full shuffle is on the token key, and the final top-k never
  global-sorts.

All three ship exactly-mirrored DuckDB oracles; determinism comes from
md5-based sampling hashes and total-order tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_spark.datapipe.text import doc_shingles
from event_stream_spark.queries import t

# Decontamination n-gram order.  13 is the GPT-3 setting; the synthetic docs
# are ~50 words so 5 keeps the overlap test discriminative at every SF.
DECON_N = 5
# Deterministic eval slice: every 50th doc stands in for the benchmark set.
DECON_EVAL_MOD = 50

# Per-language sampling rates (out of 10000) for the corpus mix.
MIX_RATES = {"en": 9000, "de": 6000, "fr": 6000, "es": 6000, "zh": 3000}
MIX_DEFAULT_RATE = 1000

VOCAB_K = 100


def _sample_bucket(doc_id: Column) -> Column:
    """Deterministic 0..9999 bucket from md5(doc_id) — identical arithmetic
    in Spark (conv hex→dec) and DuckDB ('0x'||… cast)."""
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10000
    )


def decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Per training doc: how many of its distinct word 5-grams appear in the
    eval slice (doc_id % 50 == 0), and the resulting contaminated flag.

    Scale shape: the eval shingle set is tiny relative to the corpus →
    broadcast; the training shingle relation is the shared ``doc_shingles``
    mat-view, so candidate generation is a broadcast semi-probe with one
    groupBy(doc_id) on the (few) hits.  The big side is never shuffled on
    the shingle key.
    """
    sh = doc_shingles(spark, sf, DECON_N)
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select("s").distinct()
    hits = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_hits"))
    )
    train = t(spark, sf, "documents").filter(~is_eval).select("doc_id")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_eval_hits", F.lit(0)).alias("n_eval_hits"),
            (F.coalesce("n_eval_hits", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id, unnest(
                 list_distinct(list_transform(range(1, len(ws) - {DECON_N - 2}),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                        || ws[i+3] || ' ' || ws[i+4]))) AS s
        FROM w WHERE len(ws) >= {DECON_N}),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
    hits AS (
        SELECT sh.doc_id, count(*) AS n_eval_hits
        FROM sh JOIN ev USING (s)
        WHERE sh.doc_id % {DECON_EVAL_MOD} <> 0
        GROUP BY sh.doc_id)
    SELECT d.doc_id,
           coalesce(h.n_eval_hits, 0) AS n_eval_hits,
           coalesce(h.n_eval_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {DECON_EVAL_MOD} <> 0
    ORDER BY d.doc_id
"""


def corpus_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified corpus sample: keep each doc iff its deterministic
    md5(doc_id) bucket falls under its language's sampling rate.

    Scale shape: one narrow projection + filter, zero shuffles — the stratum
    is a column already on the row and the keep decision is per-row hash
    arithmetic, so this runs at scan speed on any corpus size.
    """
    d = t(spark, sf, "documents")
    rate = F.lit(MIX_DEFAULT_RATE)
    for lang, r in MIX_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        d.select("doc_id", "lang", "source", _sample_bucket(F.col("doc_id")).alias("bucket"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


_MIX_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in MIX_RATES.items()
)

CORPUS_MIX_SQL = f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000
          < (CASE {_MIX_CASE} ELSE {MIX_DEFAULT_RATE} END)
    ORDER BY doc_id
"""


def vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-{VOCAB_K} tokens by global count (vocabulary building), ties
    broken by token ascending for a total order.

    Scale shape: posexplode-free token explode → groupBy(token) count with
    map-side partial aggregation (the shuffle moves one (token, partial)
    row per distinct token per partition, not one row per occurrence) →
    TakeOrderedAndProject for the top-k (no global sort)."""
    from event_stream_spark.datapipe.text import word_rows

    d = t(spark, sf, "documents")
    w = word_rows(d).select(F.col("w").alias("word"))
    return (
        w.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(VOCAB_K)
    )


VOCAB_TOPK_SQL = f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT {VOCAB_K}
"""


# PII patterns: deliberately simple and identical under Java regex (Spark)
# and RE2 (DuckDB) — no lookarounds, no backrefs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses, with per-doc counts.

    Scale shape: three chained ``regexp_replace`` + three
    ``regexp_extract_all`` counts — a narrow scan-local projection with no
    shuffle; at 100 TB this runs at scan speed and is the standard pre-dedup
    scrub stage.  Replacement order (email → phone → ip) is fixed so the
    two engines redact identically when patterns could overlap.
    """
    d = t(spark, sf, "documents")
    n_email = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0))
    n_phone = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), 0))
    n_ip = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_PHONE,
            "[PHONE]",
        ),
        PII_IPV4,
        "[IP]",
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ip.alias("n_ip"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL}', '[EMAIL]', 'g'),
               '{PII_PHONE}', '[PHONE]', 'g'),
               '{PII_IPV4}', '[IP]', 'g') AS scrubbed,
           len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_email,
           len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phone,
           len(regexp_extract_all(text, '{PII_IPV4}')) AS n_ip
    FROM documents
    ORDER BY doc_id
"""

# Duplicated-span detection: span order (production value ~50 tokens per
# Lee et al. "Deduplicating Training Data Makes Language Models Better";
# 5 keeps it discriminative on the ~50-word synthetic docs) and the flag
# threshold on the duplicated fraction.
DUP_SPAN_N = DECON_N  # same order as decontamination → shares the mat-view
DUP_SPAN_FRAC_MAX = 0.3


def dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-span analysis: for each doc, how many of
    its distinct word {DUP_SPAN_N}-gram spans also occur in at least one
    other document, and the resulting flag (approximate exact-substring
    dedup signal, Lee et al. 2022 §4.1 re-expressed relationally).

    Scale shape: the shared ``doc_shingles`` mat-view is aggregated once on
    the span key (map-side partial count, one shuffle), joined back to the
    span rows co-partitioned on the same key (no re-shuffle of the count
    side), then reduced per doc — two linear shuffles total, no pairwise
    doc×doc expansion at any corpus size.  The span relation is distinct
    per (doc_id, span), so the per-span document count is a plain
    ``count(*)`` — no count-distinct state.
    """
    sh = doc_shingles(spark, sf, DUP_SPAN_N)
    counts = sh.groupBy("s").agg(F.count("*").alias("nd"))
    per = (
        sh.join(counts, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
    )
    # Cross-engine hash-exact contract (same as lm_score_bigram): the 6-dp
    # rounding is done in EXACT integer arithmetic — round-half-up of
    # a/b·1e6 is floor((2a·1e6 + b) / 2b), pure BIGINT DIV on both engines —
    # then one int/1e6 IEEE division (correctly rounded, bit-identical)
    # produces the double.  Spark's F.round (BigDecimal HALF_UP on the
    # double) and DuckDB's round() disagree in the last ulp on some
    # fractions, which failed the driver's raw-value hash in r4.
    scaled = F.expr(
        "(n_dup_spans * 2000000 + n_spans) DIV (n_spans * 2)"
    )
    return (
        t(spark, sf, "documents")
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce(scaled / F.lit(1000000.0), F.lit(0.0)).alias("dup_span_frac"),
            (
                F.coalesce(scaled, F.lit(0)) > int(DUP_SPAN_FRAC_MAX * 1_000_000)
            ).alias("span_flagged"),
        )
        .orderBy("doc_id")
    )


DUP_SPANS_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id, unnest(
                 list_distinct(list_transform(range(1, len(ws) - {DUP_SPAN_N - 2}),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                        || ws[i+3] || ' ' || ws[i+4]))) AS s
        FROM w WHERE len(ws) >= {DUP_SPAN_N}),
    c AS (SELECT s, count(*) AS nd FROM sh GROUP BY s),
    per AS (
        SELECT sh.doc_id, count(*) AS n_spans,
               sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
        FROM sh JOIN c USING (s) GROUP BY sh.doc_id)
    SELECT d.doc_id,
           coalesce(p.n_spans, 0) AS n_spans,
           coalesce(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
           coalesce(((p.n_dup_spans * 2000000 + p.n_spans) // (p.n_spans * 2))
               / 1000000.0, 0.0) AS dup_span_frac,
           coalesce((p.n_dup_spans * 2000000 + p.n_spans) // (p.n_spans * 2), 0)
               > {int(DUP_SPAN_FRAC_MAX * 1_000_000)} AS span_flagged
    FROM documents d LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
"""


# Gopher-style repetition thresholds
REP_DUP_WORD_MAX = 0.7
REP_DUP_2GRAM_MAX = 0.5


def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition signals (Gopher repetition filters):
    duplicate-word fraction, duplicate-2-gram fraction, and the resulting
    `repetitive` flag.

    Scale shape: ROW-based, not array-HOF — explode the words, assemble
    2-grams with a codegen'd ``lead()`` window, aggregate count +
    count-distinct per doc.  The array-``transform``/``element_at``
    formulation evaluates its lambdas interpreted per element and measured
    9× slower at 20k docs (82 s at 200k); this shape is one doc_id shuffle
    of narrow rows, fully whole-stage codegen, linear in corpus size."""
    from pyspark.sql import Window

    from event_stream_spark.datapipe.text import word_rows

    d = t(spark, sf, "documents")
    w = word_rows(d)
    nxt = F.lead("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    g = w.select(
        "doc_id",
        "w",
        F.when(nxt.isNotNull(), F.concat_ws(" ", F.col("w"), nxt)).alias("gram"),
    )
    agg = g.groupBy("doc_id").agg(
        F.count("w").alias("n_w"),
        F.countDistinct("w").alias("d_w"),
        F.count("gram").alias("n_g"),
        F.countDistinct("gram").alias("d_g"),
    )
    dup_w = F.round(1.0 - F.col("d_w") / F.col("n_w"), 6)
    dup_g = F.when(
        F.col("n_g") > 0, F.round(1.0 - F.col("d_g") / F.col("n_g"), 6)
    ).otherwise(F.lit(0.0))
    per_doc = agg.select(
        "doc_id", dup_w.alias("dup_word_frac"), dup_g.alias("dup_2gram_frac")
    )
    # restore zero-word docs (excluded by the explode) with 0.0 signals
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_word_frac", F.lit(0.0)).alias("dup_word_frac"),
            F.coalesce("dup_2gram_frac", F.lit(0.0)).alias("dup_2gram_frac"),
            (
                (F.coalesce("dup_word_frac", F.lit(0.0)) > REP_DUP_WORD_MAX)
                | (F.coalesce("dup_2gram_frac", F.lit(0.0)) > REP_DUP_2GRAM_MAX)
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents),
    g AS (
        SELECT doc_id, ws,
               CASE WHEN len(ws) >= 2 THEN
                 list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
               ELSE [] END AS grams
        FROM w),
    f AS (
        SELECT doc_id,
               CASE WHEN len(ws) > 0
                    THEN round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 6)
                    ELSE 0.0 END AS dup_word_frac,
               CASE WHEN len(grams) > 0
                    THEN round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6)
                    ELSE 0.0 END AS dup_2gram_frac
        FROM g)
    SELECT doc_id, dup_word_frac, dup_2gram_frac,
           (dup_word_frac > {REP_DUP_WORD_MAX} OR dup_2gram_frac > {REP_DUP_2GRAM_MAX})
               AS repetitive
    FROM f ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tf-idf top terms
# ---------------------------------------------------------------------------

TFIDF_TOPK = 3


def tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-{k} terms by tf-idf (score = tf · ln(N/df)) — the
    classic document-keyword / topic-signal extraction pass.

    Scale shape: one explode → groupBy(doc_id, word) count (shuffle 1);
    document frequency reuses that output grouped by word (shuffle 2 moves
    one row per distinct (doc, word), never per occurrence); the df table is
    vocabulary-sized — orders of magnitude smaller than the corpus — so AQE
    broadcasts it back onto tf; the final per-doc top-k is a row_number
    window over the doc_id partitioning tf already has.  Determinism: score
    rounded to 6dp BEFORE ranking (ln may differ in the last ulp across
    engines), ties broken by term ascending.
    """
    from pyspark.sql import Window

    from event_stream_spark.datapipe.text import word_rows

    d = t(spark, sf, "documents")
    n_docs = d.count()
    w = word_rows(d).select("doc_id", F.col("w").alias("word"))
    # referenced twice (document frequency and the scoring join);
    # unpersisted, the corpus explode + (doc, word) shuffle executes
    # twice.  Distinct-(doc, word)-sized — persisted per execution,
    # recomputed from parquet each run.
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf")).persist()
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "rank", F.col("word").alias("term"), "score")
        .orderBy("doc_id", "rank")
    )


TFIDF_TOPTERMS_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    scored AS (
        SELECT tf.doc_id, tf.word,
               round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df),
                     6) AS score
        FROM tf JOIN df USING (word)),
    ranked AS (
        SELECT doc_id, word, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, word ASC)
                    AS INTEGER) AS rank
        FROM scored)
    SELECT doc_id, rank, word AS term, score
    FROM ranked WHERE rank <= {TFIDF_TOPK}
    ORDER BY doc_id, rank
"""


def lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style unigram surprisal score per document: the corpus unigram
    model is fit in one pass and each doc scored by its mean word surprisal
    ``avg(ln N - ln count(w))`` — high scores flag rare-word/gibberish docs,
    the standard perplexity-bucket quality filter (KenLM stands in for the
    unigram model in the original recipe; the Spark shape is identical).

    Scale shape: fit = one word-keyed partial-agg shuffle; the model (vocab
    × 8 bytes) broadcasts back — a 10M-type vocabulary is ~100 MB, still a
    broadcast candidate, else the join co-partitions on the word key.  The
    grand total joins as a broadcast single-row relation, so scoring is one
    doc_id-keyed aggregation — two shuffles end-to-end at any corpus size.
    """
    from event_stream_spark.datapipe.text import word_rows

    w = word_rows(t(spark, sf, "documents")).select("doc_id", "w")
    # referenced twice (the grand total and the scoring join);
    # unpersisted, each reference re-executes the corpus token pass.
    # Vocab-bounded — persisted per execution.
    uni = w.groupBy("w").agg(F.count("*").alias("c")).persist()
    total = uni.agg(F.sum("c").cast("double").alias("n"))
    # no broadcast hint on the model: AQE broadcasts it under the threshold
    # and falls back to a word-keyed co-partitioned join above it — a forced
    # hint would make the documented fallback unreachable
    scored = (
        w.join(uni, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg(F.log(F.col("n")) - F.log(F.col("c"))) * 1e6)
            .cast("long")
            .alias("surprisal_p6"),
        )
    )
    return scored.orderBy("doc_id")


# integer-scaled rounding (see embed_quantize): round to a WHOLE number after
# *1e6 — DuckDB's round(x, n) decimal-scaling drifts 1 ulp on deep decimals
LM_SCORE_SQL = """
    WITH w AS (
        SELECT doc_id, x.w
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS ws
              FROM documents) d,
             unnest(d.ws) AS x(w)),
    uni AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni)
    SELECT doc_id, count(*) AS n_words,
           CAST(round(avg(ln((SELECT n FROM tot)) - ln(c)) * 1e6) AS BIGINT)
             AS surprisal_p6
    FROM w JOIN uni USING (w)
    GROUP BY doc_id ORDER BY doc_id
"""


# Interpolation weight for the bigram LM: p = λ·p_bigram + (1−λ)·p_unigram
LM_BIGRAM_LAMBDA = 0.8


def lm_score_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated-bigram LM surprisal per document — the order-2 upgrade of
    ``lm_score`` (closer to the CCNet recipe's 5-gram KenLM):

        p(wᵢ | wᵢ₋₁) = λ · c(wᵢ₋₁wᵢ)/c(wᵢ₋₁) + (1 − λ) · c(wᵢ)/N

    scored as the mean ``−ln p`` over a doc's bigram positions (docs with
    < 2 tokens have no positions and drop out, as in ``lm_score``).
    Interpolation with the unigram model is the classic Jelinek-Mercer
    smoothing, so unseen-bigram positions still get finite surprisal when
    scoring held-out text against a frozen model; in this self-scoring
    registry form every bigram is seen by construction.

    Scale shape: bigram assembly is one ``lead()`` over the (doc_id, pos)
    token rows; the bigram-count fit is a gram-keyed partial-agg shuffle
    (Zipf-bounded output).  Scoring joins counts back on the gram key —
    co-partitioned with the fit, AQE broadcasts when the model is small —
    and reduces per doc_id.  Three linear shuffles end-to-end, no doc×doc
    or vocab×vocab term at any size.

    Determinism: same integer-scaled rounding as ``lm_score`` — the mean is
    scaled ×1e6 and rounded to a WHOLE number, so sub-1e-8 cross-engine
    fp-sum drift cannot flip the output.
    """
    from pyspark.sql import Window

    from event_stream_spark.datapipe.text import word_rows

    lam = LM_BIGRAM_LAMBDA
    wr = word_rows(t(spark, sf, "documents"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        wr.select("doc_id", F.col("w").alias("w1"), F.lead("w").over(win).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    # uni feeds THREE consumers (total, the c1 join, the w2 join) and
    # pair two (the count fit and the scoring join); unpersisted, each
    # reference re-executes the corpus token pass / bigram window.
    # Vocab/Zipf-bounded — persisted per execution, recomputed from
    # parquet each run (the lm_score_kn pattern).
    uni = wr.groupBy(F.col("w")).agg(F.count("*").alias("uc")).persist()
    pair = big.groupBy("w1", "w2").agg(F.count("*").alias("pc")).persist()
    total = uni.agg(F.sum("uc").cast("double").alias("n"))
    p = F.lit(lam) * (F.col("pc") / F.col("c1")) + F.lit(1.0 - lam) * (
        F.col("uc") / F.col("n")
    )
    return (
        big.join(pair, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("uc").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), "uc"), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)) * 1e6).cast("long").alias("surprisal_p6"),
        )
        .orderBy("doc_id")
    )


LM_SCORE_BIGRAM_SQL = f"""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS ws
              FROM documents)),
    big AS (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks),
    uni AS (SELECT w, count(*) AS uc FROM toks GROUP BY w),
    pair AS (SELECT w1, w2, count(*) AS pc
             FROM big WHERE w2 IS NOT NULL GROUP BY w1, w2),
    tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS n FROM uni)
    SELECT b.doc_id, count(*) AS n_bigrams,
           CAST(round(avg(-ln({LM_BIGRAM_LAMBDA} * (p.pc / u1.uc)
                           + {1.0 - LM_BIGRAM_LAMBDA} * (u2.uc / (SELECT n FROM tot))))
                      * 1e6) AS BIGINT) AS surprisal_p6
    FROM big b
    JOIN pair p ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    WHERE b.w2 IS NOT NULL
    GROUP BY b.doc_id ORDER BY b.doc_id
"""


# Absolute discount for the Kneser-Ney model (the standard 0.75; exact in
# binary64, so c − D is bit-identical across engines)
LM_KN_DISCOUNT = 0.75


def lm_score_kn(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal per document — the smoothing
    actually used by production n-gram LMs (KenLM's default; Kneser & Ney
    1995, Chen & Goodman 1999 §2.7):

        p(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
                   + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)

    The backoff mass a context releases is proportional to how many
    DISTINCT continuations it was discounted on (N₁₊(w₁·)), and the
    lower-order model is the CONTINUATION probability — how many distinct
    left contexts w₂ appears after, over the total bigram-type count —
    not the raw unigram frequency.  That is the property that separates
    KN from the Jelinek-Mercer interpolation in ``lm_score_bigram``:
    a word that is frequent only inside one collocation ("francisco")
    gets a small continuation weight.  Scored as mean ``−ln p`` over each
    doc's bigram positions.

    Scale shape: everything derives from the bigram-type relation — pair
    counts are one gram-keyed partial-agg shuffle (Zipf-bounded); the
    left-context stats (c(w₁·), N₁₊(w₁·)) are a second aggregation OF THE
    PAIR RELATION grouped by w₁ (type-bounded, far smaller than the token
    stream), the continuation counts group the same relation by w₂, and
    the type total is a single broadcast row.  Scoring joins back on the
    gram key and reduces per doc — linear end-to-end, no vocab×vocab term.

    Determinism: the integer-scaled ``surprisal_p6`` contract of the other
    LM twins — mean ×1e6 rounded to a whole number absorbs last-ulp ``ln``
    disagreement between engines.
    """
    from pyspark.sql import Window

    from event_stream_spark.datapipe.text import word_rows

    d = LM_KN_DISCOUNT
    wr = word_rows(t(spark, sf, "documents"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        wr.select("doc_id", F.col("w").alias("w1"), F.lead("w").over(win).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    # the bigram-type relation feeds FOUR consumers (left stats,
    # continuation counts, the type total, and the score join);
    # unpersisted, each re-inlines and re-executes the corpus-scale
    # token window + pair shuffle.  Type-bounded (Zipf-small) — persist
    # per execution, recomputed from parquet each run.
    pair = big.groupBy("w1", "w2").agg(F.count("*").alias("pc")).persist()
    left = pair.groupBy("w1").agg(
        F.sum("pc").alias("c1"), F.count("*").alias("fanout")
    )
    cont = pair.groupBy("w2").agg(F.count("*").alias("nleft"))
    types = pair.agg(F.count("*").cast("double").alias("tt"))
    p = (
        F.greatest(F.col("pc") - F.lit(d), F.lit(0.0)) / F.col("c1")
        + F.lit(d) * F.col("fanout") / F.col("c1") * (F.col("nleft") / F.col("tt"))
    )
    return (
        big.join(pair, ["w1", "w2"])
        .join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)) * 1e6).cast("long").alias("surprisal_p6"),
        )
        .orderBy("doc_id")
    )


LM_SCORE_KN_SQL = f"""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS ws
              FROM documents)),
    big AS (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks),
    pair AS (SELECT w1, w2, count(*) AS pc
             FROM big WHERE w2 IS NOT NULL GROUP BY w1, w2),
    lft AS (SELECT w1, sum(pc) AS c1, count(*) AS fanout FROM pair GROUP BY w1),
    cont AS (SELECT w2, count(*) AS nleft FROM pair GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM pair)
    SELECT b.doc_id, count(*) AS n_bigrams,
           CAST(round(avg(-ln(
               greatest(p.pc - {LM_KN_DISCOUNT}, 0.0) / l.c1
               + {LM_KN_DISCOUNT} * l.fanout / l.c1
                 * (c.nleft / (SELECT tt FROM tot))))
               * 1e6) AS BIGINT) AS surprisal_p6
    FROM big b
    JOIN pair p ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN lft l ON l.w1 = b.w1
    JOIN cont c ON c.w2 = b.w2
    WHERE b.w2 IS NOT NULL
    GROUP BY b.doc_id ORDER BY b.doc_id
"""


def dup_spans_clean(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-span REMOVAL — the transformation ``dup_spans`` is the
    analysis for (Lee et al. 2022 "Deduplicating Training Data" §4.1,
    re-expressed relationally): every word position covered by a
    {DUP_SPAN_N}-gram span that also occurs in another document is cut,
    and the doc is reassembled from the surviving words.  Emits the md5
    digest of the cleaned text plus kept/removed counts (narrow rows, the
    ``dedup_paragraph_clean`` contract — the full rebuild is the same
    expression without the digest).

    Scale shape: positioned spans come from one ``lead()`` window over the
    shared word rows (one doc_id exchange); the duplicated-span set reuses
    the ``doc_shingles`` mat-view aggregated on the span key (one linear
    shuffle, never doc×doc); coverage expansion is a codegen
    ``explode(sequence(...))`` of constant width {DUP_SPAN_N}; the cut is
    a (doc_id, pos) anti-join co-partitioned with the word rows.  Linear
    end-to-end at any corpus size.
    """
    from pyspark.sql import Window

    from event_stream_spark.datapipe.text import doc_shingles, word_rows

    d = t(spark, sf, "documents")
    w = word_rows(d)
    win = Window.partitionBy("doc_id").orderBy("pos")
    span = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(win) for i in range(1, DUP_SPAN_N)]
    )
    starts = (
        w.select(
            "doc_id", "pos", span.alias("s"),
            F.lead("w", DUP_SPAN_N - 1).over(win).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())  # only full-width spans
        .drop("_tail")
    )
    dup = (
        doc_shingles(spark, sf, DUP_SPAN_N)
        .groupBy("s")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("s")
    )
    # word positions covered by ANY cross-doc-duplicated span
    covered = (
        starts.join(dup, "s")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + DUP_SPAN_N - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    # Single-pass form (was: an anti-join per-doc digest agg PLUS a
    # separate full token count — THREE corpus-scale executions of the
    # token relation — reassembled through two doc_id left joins).  One
    # left join marks covered positions; ONE doc_id aggregation computes
    # n_words, n_kept and the digest from the marks.  collect_list drops
    # the NULL entries of covered positions, so the digest covers exactly
    # the kept words; an all-covered doc yields the empty concat —
    # md5('') — exactly the value the join form's coalesce supplied.
    flag = w.join(
        covered.withColumn("_c", F.lit(True)), ["doc_id", "pos"], "left"
    )
    per = flag.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.when(F.col("_c").isNull(), 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_c").isNull(), F.struct("pos", "w")
                            )
                        )
                    ),
                    lambda x: x["w"],
                ),
            )
        ).alias("clean_digest"),
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            (
                F.coalesce("n_words", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("clean_digest", F.md5(F.lit(""))).alias("clean_digest"),
        )
        .orderBy("doc_id")
    )


DUP_SPANS_CLEAN_SQL = f"""
    WITH w0 AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents),
    w AS (
        SELECT doc_id,
               unnest(range(1, len(ws) + 1)) AS pos,
               unnest(ws) AS w
        FROM w0),
    starts AS (
        SELECT doc_id, u['pos'] AS pos, u['s'] AS s
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ws) - {DUP_SPAN_N - 2}),
                     i -> {{'pos': i,
                           's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                || ' ' || ws[i+3] || ' ' || ws[i+4]}})) AS u
            FROM w0 WHERE len(ws) >= {DUP_SPAN_N})),
    sh AS (SELECT DISTINCT doc_id, s FROM starts),
    dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
    covered AS (
        SELECT DISTINCT st.doc_id, st.pos + o.o AS pos
        FROM starts st JOIN dup USING (s), range(0, {DUP_SPAN_N}) AS o(o)),
    kept AS (
        SELECT w.doc_id, w.pos, w.w
        FROM w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.pos = w.pos
        WHERE c.pos IS NULL),
    per AS (
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(w, ' ' ORDER BY pos)) AS clean_digest
        FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(t.n_words, 0) AS n_words,
           coalesce(t.n_words, 0) - coalesce(p.n_kept, 0) AS n_removed,
           coalesce(p.clean_digest, md5('')) AS clean_digest
    FROM documents d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
"""


# DSIR hashed-feature importance resampling (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): score each raw
# doc by how much more likely its hashed-unigram features are under a
# TARGET distribution than under the raw distribution.  The registry form
# self-targets the corpus's high-quality slice (text_quality ≥ 0.5) — the
# production form swaps in any target corpus's bucket counts.
DSIR_BUCKETS = 1024
DSIR_TARGET_QUALITY = 0.5


def dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, n_words, dsir_p6, keep): per-doc hashed-unigram importance
    log-weight Σ ln(p_target(b)/p_raw(b)), add-1 smoothed over
    {DSIR_BUCKETS} md5 buckets, and the resample-toward-target flag.

    Determinism: the per-bucket log-ratio is rounded to integer micro-units
    ON THE {DSIR_BUCKETS}-ROW MODEL RELATION, so the corpus-scale per-doc
    reduction is a plain commutative BIGINT sum — exact at any parallelism,
    the ``graph_pagerank`` fixed-point contract.  The residual cross-engine
    risk is the JVM-vs-libm last ulp of ``ln`` landing a bucket's
    ratio·1e6 exactly on a .5 rounding boundary — confined to the constant-
    size model relation, the same accepted class as ``lm_score`` (driver-
    green since r1); the corpus-scale arithmetic cannot drift.

    Scale shape: two corpus-scale shuffles (bucket counts — map-side
    combined to ≤{DSIR_BUCKETS} groups — and the per-doc sum); the model
    relation is constant-size and broadcasts back; the target slice is a
    left-semi join on doc_id.  No vocabulary-sized state anywhere — that
    is the point of DSIR's hashing."""
    d = t(spark, sf, "documents")
    model = dsir_model(spark, sf)
    return dsir_score(d, model).orderBy("doc_id")


def _dsir_bucket(col: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


def dsir_model(spark: SparkSession, sf: str) -> DataFrame:
    """The frozen (b, lr_p6) bucket model: add-1-smoothed log-ratio of the
    target (high-quality slice) vs raw hashed-unigram distributions,
    rounded to integer micro-units per bucket.  Constant-size
    ({DSIR_BUCKETS} rows) — materialize/broadcast it once and score any
    number of corpora against it."""
    from event_stream_spark.datapipe.text import word_rows
    from event_stream_spark.datapipe.textstats import text_quality

    d = t(spark, sf, "documents")
    wb = word_rows(d).select("doc_id", _dsir_bucket(F.col("w")).alias("b"))
    target_ids = (
        text_quality(spark, sf)
        .filter(F.col("quality") >= DSIR_TARGET_QUALITY)
        .select("doc_id")
    )
    raw = wb.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = (
        wb.join(target_ids, "doc_id", "left_semi")
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    dom = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    # referenced twice (the totals aggregate and the final ratio select);
    # unpersisted, each reference re-executes BOTH corpus-scale token
    # passes (raw + target bucket counts).  {DSIR_BUCKETS} rows — persist
    # is free; recomputed from parquet every execution.
    model = (
        dom.join(raw, "b", "left")
        .join(tgt, "b", "left")
        .select(
            "b",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
        .persist()
    )
    tots = model.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    ratio = F.log(
        (F.col("ct") + 1) / (F.col("nt") + DSIR_BUCKETS)
    ) - F.log((F.col("cr") + 1) / (F.col("nr") + DSIR_BUCKETS))
    return model.crossJoin(F.broadcast(tots)).select(
        "b", F.round(ratio * 1e6).cast("long").alias("lr_p6")
    )


def dsir_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Score (doc_id, text, …) rows against a frozen (b, lr_p6) model:
    (doc_id, n_words, dsir_p6, keep).  Pure map-side apart from the
    per-doc integer sum."""
    from event_stream_spark.datapipe.text import word_rows

    wb = word_rows(docs).select("doc_id", _dsir_bucket(F.col("w")).alias("b"))
    scored = (
        wb.join(model, "b")  # ≤1024-row side: AQE broadcasts it
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("lr_p6").alias("dsir_p6"))
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("dsir_p6", F.lit(0)).alias("dsir_p6"),
            (F.coalesce("dsir_p6", F.lit(0)) > 0).alias("keep"),
        )
    )


def _dsir_sql() -> str:
    from event_stream_spark.datapipe.textstats import TEXT_QUALITY_SQL

    nb = DSIR_BUCKETS
    return f"""
    WITH wr AS (
        SELECT doc_id, x.w
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS ws
              FROM documents) d,
             unnest(d.ws) AS x(w)),
    wb AS (
        SELECT doc_id,
               ('0x' || substring(md5(w), 1, 8))::BIGINT % {nb} AS b
        FROM wr),
    tids AS (
        SELECT doc_id FROM ({TEXT_QUALITY_SQL})
        WHERE quality >= {DSIR_TARGET_QUALITY}),
    raw AS (SELECT b, count(*) AS cr FROM wb GROUP BY b),
    tgt AS (
        SELECT b, count(*) AS ct FROM wb
        WHERE doc_id IN (SELECT doc_id FROM tids) GROUP BY b),
    dom AS (SELECT range AS b FROM range(0, {nb})),
    model AS (
        SELECT dom.b, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
        FROM dom LEFT JOIN raw USING (b) LEFT JOIN tgt USING (b)),
    tots AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
    mw AS (
        SELECT b,
               CAST(round((ln((ct + 1)::DOUBLE / ((SELECT nt FROM tots) + {nb}))
                         - ln((cr + 1)::DOUBLE / ((SELECT nr FROM tots) + {nb})))
                    * 1e6) AS BIGINT) AS lr_p6
        FROM model),
    scored AS (
        SELECT doc_id, count(*) AS n_words, sum(lr_p6) AS dsir_p6
        FROM wb JOIN mw USING (b) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(s.n_words, 0) AS n_words,
           coalesce(s.dsir_p6, 0)::BIGINT AS dsir_p6,
           coalesce(s.dsir_p6, 0) > 0 AS keep
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
"""


DSIR_WEIGHTS_SQL = _dsir_sql()


# Character-level exact-substring dedup signal: the granularity Lee et al.
# 2022 actually operate at (byte-level suffix arrays finding repeated
# substrings).  Re-expressed relationally: fixed-width char-gram anchors +
# interval-union coverage — no suffix array, same signal, linear shuffles.
CHAR_SPAN_N = 20
CHAR_SPAN_FRAC_MAX = 0.5


def _char_gram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, pos, g): one row per character position with the
    60-bit integer anchor of the {CHAR_SPAN_N}-char substring starting
    there (15 hex chars of the md5 — the key rides every shuffle/distinct
    as one BIGINT, not a 32-byte string)."""
    return (
        docs.select("doc_id", F.length("text").alias("n_chars"), "text")
        .select(
            "doc_id", "n_chars", "text",
            # sequence(1, 0) counts DOWN in Spark — emit an empty array
            # for docs shorter than the gram width instead
            F.explode(
                F.when(
                    F.col("n_chars") >= CHAR_SPAN_N,
                    F.sequence(F.lit(1), F.col("n_chars") - CHAR_SPAN_N + 1),
                ).otherwise(F.array())
            ).alias("pos"),
        )
        .select(
            "doc_id", "n_chars", "pos",
            F.conv(
                F.substring(
                    F.md5(F.expr(f"substring(text, pos, {CHAR_SPAN_N})")),
                    1, 15,
                ),
                16, 10,
            ).cast("long").alias("g"),
        )
    )


def _char_grams(spark: SparkSession, sf: str) -> DataFrame:
    """The materialized char-gram relation, shared by ``char_dup_spans``
    and ``winnow_fingerprints`` (one parquet per session × sf)."""
    from event_stream_spark.datapipe.matview import materialized

    d = t(spark, sf, "documents")
    return materialized(
        spark, f"chargrams|{sf}|{CHAR_SPAN_N}", lambda: _char_gram_rows(d)
    )


def char_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Per doc: how many characters are covered by some {CHAR_SPAN_N}-char
    substring that also occurs in another document, as merged maximal
    islands — (doc_id, n_chars, dup_chars, n_islands, char_frac, flagged).

    Scale shape: anchor grams ride as md5 HASHES (the raw substrings never
    shuffle); cross-doc counts are one linear gram-key aggregation;
    interval union is a per-doc window (lag-free running-max trick: an
    island starts where pos exceeds every previous end) — one doc_id
    exchange, constant state per row.  char_frac uses the exact
    integer-scaled round-half-up contract (``dup_spans``)."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    # materialize ONCE: the gram relation feeds the dup-count aggregate AND
    # the hits join — without the mat-view the md5-per-position projection
    # recomputes for every consumer (measured 4×)
    grams = _char_grams(spark, sf)
    # cross-doc test without a distinct pass: a gram occurs in ≥2 docs iff
    # its min and max doc_id differ — two map-side-combinable aggregates
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("g")
    )
    hits = grams.join(dup, "g").select(
        "doc_id", "n_chars", "pos",
        (F.col("pos") + CHAR_SPAN_N - 1).alias("endp"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("endp").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.select(
        "doc_id", "n_chars", "pos", "endp",
        # a new island starts only when a GAP exists: pos beyond prev_max+1
        # (pos == prev_max + 1 is touching → same maximal covered run)
        F.when(F.col("pos") > F.coalesce(prev_max, F.lit(-1)) + 1, 1)
        .otherwise(0)
        .alias("new_island"),
    ).select(
        "doc_id", "n_chars", "pos", "endp",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    per = (
        isl.groupBy("doc_id", "island")
        .agg(
            F.first("n_chars").alias("n_chars"),
            (F.max("endp") - F.min("pos") + 1).alias("covered"),
        )
        .groupBy("doc_id")
        .agg(
            F.first("n_chars").alias("n_chars"),
            F.sum("covered").alias("dup_chars"),
            F.count("*").alias("n_islands"),
        )
    )
    scaled = F.expr("(dup_chars * 2000000 + n_chars) DIV (n_chars * 2)")
    return (
        d.select("doc_id", F.length("text").alias("n_chars"))
        .join(per.drop("n_chars"), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.coalesce("n_islands", F.lit(0)).alias("n_islands"),
            F.coalesce(scaled / F.lit(1000000.0), F.lit(0.0)).alias("char_frac"),
            (
                F.coalesce(scaled, F.lit(0))
                > int(CHAR_SPAN_FRAC_MAX * 1_000_000)
            ).alias("char_flagged"),
        )
        .orderBy("doc_id")
    )


CHAR_DUP_SPANS_SQL = f"""
    WITH grams AS (
        SELECT doc_id, length(text) AS n_chars, i AS pos,
               ('0x' || substring(md5(substring(text, i, {CHAR_SPAN_N})), 1, 15))::BIGINT AS g
        FROM (
            SELECT doc_id, text, length(text) AS n_chars,
                   unnest(range(1, greatest(length(text) - {CHAR_SPAN_N - 1}, 0) + 1)) AS i
            FROM documents) s),
    dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
    hits AS (
        SELECT doc_id, n_chars, pos, pos + {CHAR_SPAN_N - 1} AS endp
        FROM grams JOIN dup USING (g)),
    marks AS (
        SELECT doc_id, n_chars, pos, endp,
               CASE WHEN pos > coalesce(
                     max(endp) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                   + 1
                   THEN 1 ELSE 0 END AS new_island
        FROM hits),
    isl AS (
        SELECT doc_id, n_chars, pos, endp,
               sum(new_island)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM marks),
    per AS (
        SELECT doc_id,
               sum(covered) AS dup_chars, count(*) AS n_islands
        FROM (
            SELECT doc_id, island, max(endp) - min(pos) + 1 AS covered
            FROM isl GROUP BY doc_id, island)
        GROUP BY doc_id)
    SELECT d.doc_id, length(d.text) AS n_chars,
           coalesce(p.dup_chars, 0)::BIGINT AS dup_chars,
           coalesce(p.n_islands, 0) AS n_islands,
           coalesce(((p.dup_chars * 2000000 + length(d.text))
                     // (length(d.text) * 2)) / 1000000.0, 0.0) AS char_frac,
           coalesce((p.dup_chars * 2000000 + length(d.text))
                    // (length(d.text) * 2), 0)
               > {int(CHAR_SPAN_FRAC_MAX * 1_000_000)} AS char_flagged
    FROM documents d LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
"""


# Flag a pair once its longest shared substring reaches this many chars
LCS_FLAG_MIN = 40
# Candidate-generation DF cap: grams occurring in more than this many
# DISTINCT docs are corpus boilerplate and do not NOMINATE pairs (they
# still extend runs of nominated pairs, so lcs_len stays exact)
LCS_MAX_GRAM_DOCS = 64


def lcs_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT longest-common-substring length per candidate doc pair — the
    pair-granular form of exact-substring dedup (Lee et al. 2022 §3: the
    memorization signal is a long VERBATIM shared span, which similarity
    scores blur).  Returns (a, b, lcs_len, lcs_flagged) for every pair
    sharing at least one RARE {CHAR_SPAN_N}-char substring (one occurring
    in ≤ {LCS_MAX_GRAM_DOCS} distinct docs); within every reported pair
    the lcs_len is exact over ALL shared substrings, rare or not.

    The computation is RELATIONAL — no suffix arrays, no kernels — via
    the diagonal run-length identity: a shared substring of length
    L ≥ {CHAR_SPAN_N} starting at position i of a and j of b is exactly a
    run of L−{CHAR_SPAN_N}+1 consecutive char-gram matches on the diagonal
    d = i−j, so LCS = {CHAR_SPAN_N}−1 + the longest such run.  Runs fall
    out of the classic ``pos − row_number()`` gaps-and-islands constant.

    Scale shape — the two-phase split is the load-bearing part: grams in
    > {LCS_MAX_GRAM_DOCS} docs are corpus BOILERPLATE, and letting them
    nominate pairs is doc×doc quadratic in the hot group (a paragraph
    shared by 5% of a 200k corpus nominates 5·10⁷ pairs — measured, the
    10× sweep died there).  Phase 1 nominates pairs from rare grams only
    (output ∝ true near-dup pairs, the PPJoin/Lee prefix-filter stance);
    phase 2 joins the FULL gram-occurrence relation back to just the
    nominated pairs, so run extension — and therefore lcs_len — is exact
    per reported pair, boilerplate grams included.  Pairs whose ONLY
    overlap is >-cap boilerplate drop out by design (they are what exact-
    substring dedup removes corpus-wide, not pairwise).  Gram anchors
    ride as 60-bit integers (exactness up to md5-60-bit collisions, the
    ``char_dup_spans`` contract; the oracle uses identical keys so both
    engines agree unconditionally); islands need one (a, b, diag) window
    exchange; everything is whole-stage codegen.
    """
    from pyspark.sql import Window

    g = _char_grams(spark, sf)
    # the gram-frequency aggregate feeds THREE consumers (the rare band
    # twice — nomination join + rocc — and the boilerplate band once);
    # without the persist each reference re-executes the full
    # countDistinct pass over the gram relation (measured: 0
    # ReusedExchange across the aliased references).  Distinct-gram-
    # sized, two ints per row; recomputed from the gram parquet on every
    # fresh execution.
    dfreq = g.groupBy("g").agg(F.countDistinct("doc_id").alias("_nd")).persist()
    rare = (
        dfreq.filter(
            (F.col("_nd") >= 2) & (F.col("_nd") <= LCS_MAX_GRAM_DOCS)
        ).select("g")
    )
    # phase 2a: position matches on NOMINATION-BAND grams (2 ≤ df ≤ cap).
    # Any pair sharing such a gram is nominated by construction, so no
    # candidate join is needed — this is a direct gram-keyed self-join
    # whose output is Σ_g occ², i.e. exactly the matches that exist
    # (measured at sf1: ~18M rows, vs 919M for the former
    # candidates × all-grams-of-a formulation, whose shuffle spill
    # filled the sandbox disk)
    # nomination-band occurrences: both sides of the m1 self-join AND the
    # rocc distinct below scan this relation — persisted so the
    # grams ⋈ rare join runs once per execution instead of three times
    low = g.join(rare, "g").persist()
    m1 = (
        low.select(F.col("doc_id").alias("a"), F.col("pos").alias("ia"), "g")
        .join(
            low.select(F.col("doc_id").alias("b"), F.col("pos").alias("jb"), "g"),
            "g",
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ia", (F.col("ia") - F.col("jb")).alias("diag"))
    )
    # phase 2b: >-cap BOILERPLATE grams never nominate, but must still
    # extend runs of nominated pairs (the lcs_len-exactness contract) —
    # only these few grams pay the candidates × occurrences join
    high = dfreq.filter(F.col("_nd") > LCS_MAX_GRAM_DOCS).select("g")
    rocc = low.select("doc_id", "g").distinct()
    cand = (
        rocc.select(F.col("doc_id").alias("a"), "g")
        .join(rocc.select(F.col("doc_id").alias("b"), "g"), "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    hi = g.join(high, "g")
    m2 = (
        cand.join(
            hi.select(F.col("doc_id").alias("a"), F.col("pos").alias("ia"), "g"),
            "a",
        )
        .join(
            hi.select(F.col("doc_id").alias("b"), F.col("pos").alias("jb"), "g"),
            ["b", "g"],
        )
        .select("a", "b", "ia", (F.col("ia") - F.col("jb")).alias("diag"))
    )
    m = m1.unionByName(m2)
    w = Window.partitionBy("a", "b", "diag").orderBy("ia")
    runs = (
        m.select(
            "a", "b", "diag", "ia",
            (F.col("ia") - F.row_number().over(w)).alias("grp"),
        )
        .groupBy("a", "b", "diag", "grp")
        .agg(F.count("*").alias("r"))
    )
    return (
        runs.groupBy("a", "b")
        .agg((F.max("r") + F.lit(CHAR_SPAN_N - 1)).alias("lcs_len"))
        .select(
            "a", "b", "lcs_len",
            (F.col("lcs_len") >= LCS_FLAG_MIN).alias("lcs_flagged"),
        )
        .orderBy("a", "b")
    )


LCS_PAIRS_SQL = f"""
    WITH grams AS (
        SELECT doc_id, i AS pos,
               ('0x' || substring(md5(substring(text, i, {CHAR_SPAN_N})), 1, 15))::BIGINT AS g
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - {CHAR_SPAN_N - 1}, 0) + 1)) AS i
            FROM documents) s),
    rare AS (SELECT g FROM grams GROUP BY g
             HAVING count(DISTINCT doc_id) BETWEEN 2 AND {LCS_MAX_GRAM_DOCS}),
    rocc AS (SELECT DISTINCT doc_id, grams.g FROM grams JOIN rare USING (g)),
    cand AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM rocc a JOIN rocc b ON a.g = b.g AND a.doc_id < b.doc_id),
    m AS (
        SELECT c.a, c.b, ga.pos AS ia, ga.pos - gb.pos AS diag
        FROM cand c
        JOIN grams ga ON ga.doc_id = c.a
        JOIN grams gb ON gb.doc_id = c.b AND gb.g = ga.g),
    runs AS (
        SELECT a, b, count(*) AS r
        FROM (
            SELECT a, b, diag, ia,
                   ia - row_number() OVER (PARTITION BY a, b, diag ORDER BY ia)
                       AS grp
            FROM m)
        GROUP BY a, b, diag, grp)
    SELECT a, b, max(r) + {CHAR_SPAN_N - 1} AS lcs_len,
           max(r) + {CHAR_SPAN_N - 1} >= {LCS_FLAG_MIN} AS lcs_flagged
    FROM runs GROUP BY a, b
    ORDER BY a, b
"""


def source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source contamination matrix for the data card: for every pair
    of corpus sources, how many distinct word {DECON_N}-gram shingles they
    share and the overlap coefficient |A∩B| / min(|A|,|B|) — the signal
    that tells a corpus curator two feeds crawl the same sites before
    dedup does (Dolma/RedPajama-style source accounting).

    Scale shape: the shared ``doc_shingles`` mat-view reduces to a DISTINCT
    (source, gram) relation (one shuffle); co-occurrence is a gram-keyed
    self-equi-join of that relation with ``a < b`` — output-sensitive like
    the PPJoin family: cost tracks Σ_g |sources(g)|², bounded by the source
    count per gram, never documents × documents.  The coefficient uses the
    exact integer-scaled round-half-up contract (``dup_spans``)."""
    sh = doc_shingles(spark, sf, DECON_N)
    src = t(spark, sf, "documents").select("doc_id", "source")
    # referenced three times (per-source sizes + both sides of the
    # co-occurrence self-join); unpersisted, the join + corpus-scale
    # DISTINCT shuffle re-executes per reference.  Distinct
    # (source, gram)-sized — the same class as lcs_pairs' persisted gram
    # table; recomputed from parquet every execution.
    sg = sh.join(src, "doc_id").select("source", "s").distinct().persist()
    per_source = sg.groupBy("source").agg(F.count("*").alias("n_grams"))
    pairs = (
        sg.alias("x")
        .join(sg.alias("y"), "s")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    na = per_source.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("na")
    )
    nb = per_source.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("nb")
    )
    scaled = F.expr(
        "(n_shared * 2000000 + least(na, nb)) DIV (least(na, nb) * 2)"
    )
    return (
        pairs.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a", "src_b", "n_shared",
            (scaled / F.lit(1000000.0)).alias("overlap"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_OVERLAP_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id, unnest(
                 list_distinct(list_transform(range(1, len(ws) - {DECON_N - 2}),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                        || ws[i+3] || ' ' || ws[i+4]))) AS s
        FROM w WHERE len(ws) >= {DECON_N}),
    sg AS (
        SELECT DISTINCT d.source, sh.s
        FROM sh JOIN documents d USING (doc_id)),
    per_source AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source),
    pairs AS (
        SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
        FROM sg x JOIN sg y ON x.s = y.s AND x.source < y.source
        GROUP BY x.source, y.source)
    SELECT p.src_a, p.src_b, p.n_shared,
           ((p.n_shared * 2000000 + least(a.n_grams, b.n_grams))
            // (least(a.n_grams, b.n_grams) * 2)) / 1000000.0 AS overlap
    FROM pairs p
    JOIN per_source a ON a.source = p.src_a
    JOIN per_source b ON b.source = p.src_b
    ORDER BY p.src_a, p.src_b
"""


# Winnowing (Schleimer, Wilkerson, Aiken — the MOSS fingerprinting
# algorithm): from every sliding window of WINNOW_W consecutive char-gram
# hashes, keep the RIGHTMOST minimum; the selected (position, hash) set is
# the document's fingerprint, with the guarantee that any shared substring
# of length ≥ CHAR_SPAN_N + WINNOW_W - 1 shares a fingerprint.
WINNOW_W = 8
_WINNOW_POS_BITS = 24  # supports documents up to 16M chars
_WINNOW_HASH_MOD = 1 << 39  # packed alongside pos without BIGINT overflow


def winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, n_grams, n_fingerprints, fp_digest): the winnowed
    fingerprint count and an md5 digest of the ordered fingerprint list —
    narrow rows, the ``dedup_paragraph_clean`` digest contract.

    The rightmost-minimum selection is ONE window aggregate over packed
    integers: pack = hash·2^{_WINNOW_POS_BITS} + (2^{_WINNOW_POS_BITS}−1−pos),
    so ``min(pack)`` over the trailing {WINNOW_W}-row frame picks the
    smallest hash and, on ties, the largest position — the winnowing rule —
    in exact integer arithmetic identical across engines.  Scale shape:
    reuses the materialized char-gram relation; one doc-keyed window pass +
    one distinct + one per-doc fold, all linear."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    # the same mat-view char_dup_spans builds (doc_id, n_chars, pos, g)
    grams = _char_grams(spark, sf)
    pos_cap = (1 << _WINNOW_POS_BITS) - 1
    packed = grams.select(
        "doc_id",
        "pos",
        (
            (F.pmod(F.col("g"), F.lit(_WINNOW_HASH_MOD)))
            * (1 << _WINNOW_POS_BITS)
            + (F.lit(pos_cap) - F.col("pos"))
        ).alias("pk"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        -(WINNOW_W - 1), 0
    )
    sel = (
        packed.select(
            "doc_id", "pos",
            F.min("pk").over(w).alias("winner"),
            F.max("pos").over(Window.partitionBy("doc_id")).alias("_last"),
        )
        # windows narrower than WINNOW_W (the first W-1 positions) are not
        # full windows — winnowing only emits from complete windows, except
        # docs too short to have any, which emit their global min
        .filter((F.col("pos") >= WINNOW_W) | (F.col("pos") == F.col("_last")))
        .select("doc_id", "winner")
        .distinct()
    )
    fps = sel.select(
        "doc_id",
        F.expr(f"winner DIV {1 << _WINNOW_POS_BITS}").alias("fp_hash"),
        (
            F.lit(pos_cap) - F.expr(f"winner % {1 << _WINNOW_POS_BITS}")
        ).alias("fp_pos"),
    )
    per = fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("fp_pos", "fp_hash"))),
                    lambda x: F.concat_ws(
                        ":", x["fp_pos"].cast("string"),
                        x["fp_hash"].cast("string"),
                    ),
                ),
            )
        ).alias("fp_digest"),
    )
    tot = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (
        d.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            F.coalesce("fp_digest", F.md5(F.lit(""))).alias("fp_digest"),
        )
        .orderBy("doc_id")
    )


def _winnow_sql() -> str:
    pos_cap = (1 << _WINNOW_POS_BITS) - 1
    shift = 1 << _WINNOW_POS_BITS
    return f"""
    WITH grams AS (
        SELECT doc_id, length(text) AS n_chars, i AS pos,
               ('0x' || substring(md5(substring(text, i, {CHAR_SPAN_N})), 1, 15))::BIGINT AS g
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - {CHAR_SPAN_N - 1}, 0) + 1)) AS i
            FROM documents) s),
    packed AS (
        SELECT doc_id, pos,
               (g % {_WINNOW_HASH_MOD}) * {shift} + ({pos_cap} - pos) AS pk
        FROM grams),
    sel AS (
        SELECT DISTINCT doc_id, winner FROM (
            SELECT doc_id, pos,
                   min(pk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)
                     AS winner,
                   max(pos) OVER (PARTITION BY doc_id) AS last_pos
            FROM packed)
        WHERE pos >= {WINNOW_W} OR pos = last_pos),
    fps AS (
        SELECT doc_id, winner // {shift} AS fp_hash,
               {pos_cap} - (winner % {shift}) AS fp_pos
        FROM sel),
    per AS (
        SELECT doc_id, count(*) AS n_fingerprints,
               md5(string_agg(fp_pos::VARCHAR || ':' || fp_hash::VARCHAR, ','
                              ORDER BY fp_pos, fp_hash)) AS fp_digest
        FROM fps GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(t.n_grams, 0) AS n_grams,
           coalesce(p.n_fingerprints, 0) AS n_fingerprints,
           coalesce(p.fp_digest, md5('')) AS fp_digest
    FROM documents d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
"""


WINNOW_FINGERPRINTS_SQL = _winnow_sql()


# Content-defined chunking (the FastCDC/LBFS family): chunk boundaries
# fall where the rolling content hash satisfies a mask, so an insertion
# early in a document shifts BOUNDARY POSITIONS but not boundary CONTENT —
# chunk-level dedup then catches near-identical documents that fixed-width
# shingling misaligns on.  The boundary predicate reuses the shared
# 60-bit char-gram anchors (one mat-view, no second text pass).
CDC_MOD = 16  # expected chunk length ≈ CDC_MOD chars past the gram width


def cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Per doc: content-defined chunk count, how many of those chunks
    occur ≥2 times corpus-wide (intra- or cross-doc), the duplicated
    bytes they cover, and the integer-scaled duplicated-byte fraction.

    Scale shape: boundary selection is a scan-local filter on the
    materialized gram relation (`g % CDC_MOD == 0`); chunk spans come from
    one per-doc lag window; the only corpus-scale exchanges are the
    doc_id join back to the text (to hash each chunk once) and the
    chunk-hash count — and the hash shuffle rides (md5, clen), never the
    chunk text.  ``dup_byte_frac_p6`` uses the pure-BIGINT HALF-UP
    identity (the ``dup_spans`` contract)."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    grams = _char_grams(spark, sf)
    bounds = grams.filter(F.col("g") % CDC_MOD == 0).select("doc_id", "pos")
    # sentinel boundary at end-of-doc: every doc gets ≥1 chunk, and the
    # spans tile the text exactly
    ends = d.select("doc_id", F.length("text").alias("pos"))
    allb = bounds.unionAll(ends).distinct()
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = allb.select(
        "doc_id",
        (F.coalesce(F.lag("pos").over(w), F.lit(0)) + 1).alias("cstart"),
        F.col("pos").alias("cend"),
    )
    # referenced twice (the occurrence count and the per-doc join);
    # unpersisted, the whole boundary pipeline — gram materialization,
    # lag window, text join, per-chunk md5 — executes twice.  Chunk-count
    # rows of (long, long, 32-char md5), a fraction of corpus bytes —
    # persisted per execution, recomputed from parquet each run.
    ch = spans.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        (F.col("cend") - F.col("cstart") + 1).alias("clen"),
        F.md5(F.expr("substring(text, cstart, cend - cstart + 1)")).alias("h"),
    ).persist()
    cnt = ch.groupBy("h").agg(F.count("*").alias("n_occ"))
    per = (
        ch.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("dup_chunks"),
            F.sum("clen").alias("t_bytes"),
            F.sum(F.when(F.col("n_occ") > 1, F.col("clen")).otherwise(0)).alias(
                "dup_bytes"
            ),
        )
    )
    return per.select(
        "doc_id",
        "n_chunks",
        F.col("dup_chunks").cast("long").alias("dup_chunks"),
        F.col("dup_bytes").cast("long").alias("dup_bytes"),
        F.expr("(dup_bytes * 2000000 + t_bytes) div (2 * t_bytes)")
        .cast("long")
        .alias("dup_byte_frac_p6"),
    ).orderBy("doc_id")


CDC_CHUNKS_SQL = f"""
    WITH grams AS (
        SELECT doc_id, i AS pos,
               ('0x' || substring(md5(substring(text, i, {CHAR_SPAN_N})), 1, 15))::BIGINT AS g
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - {CHAR_SPAN_N - 1}, 0) + 1)) AS i
            FROM documents) s),
    bounds AS (
        SELECT doc_id, pos FROM grams WHERE g % {CDC_MOD} = 0
        UNION
        SELECT doc_id, length(text) AS pos FROM documents),
    spans AS (
        SELECT doc_id,
               coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) + 1
                   AS cstart,
               pos AS cend
        FROM bounds),
    ch AS (
        SELECT s.doc_id, cend - cstart + 1 AS clen,
               md5(substring(d.text, cstart, cend - cstart + 1)) AS h
        FROM spans s JOIN documents d ON d.doc_id = s.doc_id),
    cnt AS (SELECT h, count(*) AS n_occ FROM ch GROUP BY h),
    per AS (
        SELECT ch.doc_id,
               count(*) AS n_chunks,
               sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS dup_chunks,
               sum(clen) AS t_bytes,
               sum(CASE WHEN n_occ > 1 THEN clen ELSE 0 END) AS dup_bytes
        FROM ch JOIN cnt USING (h)
        GROUP BY ch.doc_id)
    SELECT doc_id, n_chunks,
           CAST(dup_chunks AS BIGINT) AS dup_chunks,
           CAST(dup_bytes AS BIGINT) AS dup_bytes,
           CAST((dup_bytes * 2000000 + t_bytes) // (2 * t_bytes) AS BIGINT)
               AS dup_byte_frac_p6
    FROM per
    ORDER BY doc_id
"""


#: curriculum stages (difficulty deciles of the unigram-LM surprisal)
CURRICULUM_STAGES = 10


def curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum binning: each document's difficulty stage (0 = easiest
    decile … 9 = hardest) by exact corpus-wide deciles of the unigram-LM
    surprisal — the easy→hard ordering curriculum-learning schedules train
    on, with the stage as the shard key.

    Scale shape: reuses ``lm_score``'s scoring plan (one Zipf-bounded
    gram shuffle + broadcast-join scoring); the 9 decile cuts are ONE
    exact-percentile aggregate (sort-based aggregate state — the q28/
    length_trim machinery) broadcast back onto the scan, so staging is a
    narrow codegen projection, not a global sort.  Surprisal is already
    an integer (the ×1e6 contract) and cuts round to 4 dp in both
    engines, so the decile boundary cannot split on float drift."""
    # referenced twice (the decile-cut aggregate and the final staging
    # select); unpersisted, the whole lm_score plan — corpus token pass,
    # Zipf-bounded gram shuffle, scoring join — executes twice.
    # Doc-sized (two longs) — persisted per execution.
    scores = lm_score(spark, sf).select("doc_id", "surprisal_p6").persist()
    qs = [i / CURRICULUM_STAGES for i in range(1, CURRICULUM_STAGES)]
    cuts = scores.agg(
        *[
            F.round(F.expr(f"percentile(surprisal_p6, {q})"), 4).alias(f"c{i}")
            for i, q in enumerate(qs)
        ]
    )
    stage = None
    for i in range(len(qs)):
        term = F.when(F.col("surprisal_p6") > F.col(f"c{i}"), 1).otherwise(0)
        stage = term if stage is None else stage + term
    return (
        scores.join(F.broadcast(cuts))
        .select(
            "doc_id", "surprisal_p6", stage.cast("long").alias("stage")
        )
        .orderBy("doc_id")
    )


def _curriculum_sql(stages: int = CURRICULUM_STAGES) -> str:
    qs = [i / stages for i in range(1, stages)]
    cut_cols = ", ".join(
        f"round(quantile_cont(surprisal_p6, {q}), 4) AS c{i}"
        for i, q in enumerate(qs)
    )
    stage_expr = " + ".join(
        f"CASE WHEN surprisal_p6 > c{i} THEN 1 ELSE 0 END"
        for i in range(len(qs))
    )
    return f"""
    WITH s AS (SELECT doc_id, surprisal_p6 FROM ({LM_SCORE_SQL})),
    cuts AS (SELECT {cut_cols} FROM s)
    SELECT doc_id, surprisal_p6, CAST({stage_expr} AS BIGINT) AS stage
    FROM s, cuts
    ORDER BY doc_id
"""


CURRICULUM_ORDER_SQL = _curriculum_sql()
