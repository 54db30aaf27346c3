"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

All pure built-in expressions (regexp + array functions) — zero Python in
the hot path, so they run inside whole-stage codegen and scale linearly
with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables

TOKEN_RE = r"\S+"
WORD_RE = "[a-z']+"

# tiny deterministic marker lexicons for the language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "with", "fast"),
    "de": ("der", "und", "das", "mit", "schnell"),
    "fr": ("le", "et", "la", "avec", "vite"),
    "es": ("el", "y", "la", "con", "rapido"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenisation — array of non-space runs."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-flavoured token estimate: alphanumeric runs + each
    punctuation mark counts as a token (regex segmentation — the standard
    cheap proxy when no tokenizer model is shippable)."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
    )


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stops = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.when(F.size(toks) > 0, F.size(stops) / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane mean word
    length, some stopwords, little punctuation — the Gopher-rules shape."""
    toks = tokens(text)
    n = F.size(toks)
    mean_len = F.when(n > 0, F.length(F.concat_ws("", toks)) / n).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 10) & (n <= 10000), F.lit(0.25)).otherwise(F.lit(0.0))
    word_ok = F.when((mean_len >= 3) & (mean_len <= 10), F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    return len_ok + word_ok + stop_ok + punct_ok


def predict_lang(text: Column) -> Column:
    """Marker-word language ID: score each language by marker hits, take
    the argmax (ties → lexicographically first language; no hits → 'und')."""
    toks = tokens(text)

    def marker_hits(ms):
        # NB: single-arg lambda — a default-arg lambda would be invoked in
        # pyspark's two-arg (element, index) form
        return F.size(F.filter(toks, lambda t: t.isin(*ms)))

    scored = F.array(
        *[
            F.struct(
                (-marker_hits(markers)).alias("neg_hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_min(scored)
    return F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the casefolded, punctuation-stripped,
    whitespace-collapsed text — whitespace/case/punct-insensitive exact
    dedup key."""
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "), r"\s+", " ")
    )
    return F.md5(norm)


# --- harness queries --------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.select(
            "lang",
            token_count(F.col("text")).alias("n_tok"),
            bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


ORACLE_TOKEN_STATS = """
WITH per_doc AS (
  SELECT lang,
         length(regexp_extract_all(lower(text), '\\S+')) AS n_tok,
         length(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpe
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       sum(n_tok)::bigint AS total_tokens,
       sum(n_bpe)::bigint AS total_bpe_tokens,
       round(avg(n_tok), 4) AS avg_tokens
FROM per_doc GROUP BY lang ORDER BY lang
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.select("source", F.round(quality_score(F.col("text")), 4).alias("q"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("q"), 4).alias("avg_quality"))
        .orderBy("source")
    )


ORACLE_TEXT_QUALITY = """
WITH toks AS (
  SELECT source, text,
         regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), feat AS (
  SELECT source,
         len(t) AS n,
         CASE WHEN len(t) > 0
              THEN length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t)
              ELSE 0.0 END AS mean_len,
         CASE WHEN len(t) > 0
              THEN len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0 / len(t)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio
  FROM toks
), q AS (
  SELECT source,
         round((CASE WHEN n >= 10 AND n <= 10000 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN stop_ratio >= 0.05 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END), 4) AS q
  FROM feat
)
SELECT source, count(*) AS n_docs, round(avg(q), 4) AS avg_quality
FROM q GROUP BY source ORDER BY source
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.select("lang", predict_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


def _lang_case_sql() -> str:
    hit = lambda ms: (  # noqa: E731
        "len(list_filter(t, x -> x IN ({})))".format(
            ",".join(f"'{m}'" for m in ms)
        )
    )
    # argmax by (-hits, lang): mirror the array_min over (neg_hits, lang)
    structs = ", ".join(
        f"{{'neg_hits': -{hit(ms)}, 'lang': '{lang}'}}"
        for lang, ms in sorted(LANG_MARKERS.items())
    )
    return f"""
WITH toks AS (
  SELECT lang, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
), scored AS (
  SELECT lang, list_sort([{structs}]) AS cand FROM toks
), best AS (
  SELECT lang,
         CASE WHEN cand[1].neg_hits < 0 THEN cand[1].lang ELSE 'und' END AS predicted
  FROM scored
)
SELECT lang, predicted, count(*) AS n_docs
FROM best GROUP BY lang, predicted ORDER BY lang, predicted
"""


def text_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    counts = fp.groupBy("fp").agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("kept_doc_id")
    )
    return counts.select("fp", "n_copies", "kept_doc_id").orderBy("fp")


ORACLE_FINGERPRINT = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT fp, count(*) AS n_copies, min(doc_id) AS kept_doc_id
FROM fp GROUP BY fp ORDER BY fp
"""


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus curation pass: score quality, compute
    the normalised fingerprint, keep only the canonical (min doc_id) copy
    of each fingerprint group that clears the quality gate, and report
    per-source yield — documents kept, documents seen, kept-token volume.

    Scale shape: quality and fingerprint are scan-side expressions
    (whole-stage codegen, no Python); canonical-copy election is one
    shuffle on the fingerprint (row_number window, not a self-join); the
    per-source rollup is the second and final shuffle. At 100 TB this is
    two exchanges over data that has already been column-pruned to
    (doc_id, source, text-derived scalars)."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = d.select(
        "doc_id",
        "source",
        F.round(quality_score(F.col("text")), 4).alias("q"),
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tok"),
    )
    canon = scored.withColumn(
        "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    )
    kept = canon.filter((F.col("rn") == 1) & (F.col("q") >= 0.75))
    return (
        canon.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .join(
            kept.groupBy("source").agg(
                F.count("*").alias("n_kept"),
                F.sum("n_tok").cast("long").alias("kept_tokens"),
                F.round(F.avg("q"), 4).alias("avg_kept_quality"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.coalesce("avg_kept_quality", F.lit(0.0)).alias("avg_kept_quality"),
        )
        .orderBy("source")
    )


def _oracle_curation() -> str:
    return """
WITH toks AS (
  SELECT doc_id, source, text,
         regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), feat AS (
  SELECT doc_id, source,
         len(t) AS n,
         CASE WHEN len(t) > 0
              THEN length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t)
              ELSE 0.0 END AS mean_len,
         CASE WHEN len(t) > 0
              THEN len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0 / len(t)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp
  FROM toks
), scored AS (
  SELECT doc_id, source, fp, n AS n_tok,
         round((CASE WHEN n >= 10 AND n <= 10000 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN stop_ratio >= 0.05 THEN 0.25 ELSE 0.0 END)
       + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END), 4) AS q,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM feat
), kept AS (
  SELECT source, count(*) AS n_kept, sum(n_tok)::bigint AS kept_tokens,
         round(avg(q), 4) AS avg_kept_quality
  FROM scored WHERE rn = 1 AND q >= 0.75 GROUP BY source
)
SELECT s.source, count(*) AS n_docs,
       coalesce(any_value(k.n_kept), 0) AS n_kept,
       coalesce(any_value(k.kept_tokens), 0) AS kept_tokens,
       coalesce(any_value(k.avg_kept_quality), 0.0) AS avg_kept_quality
FROM scored s LEFT JOIN kept k ON s.source = k.source
GROUP BY s.source ORDER BY s.source
"""


PACK_BUDGET = 2048  # token budget per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: assign documents
    (per source, in deterministic doc_id order) to fixed token-budget
    bins by prefix-sum — the greedy packing every LLM data pipeline runs
    before writing training shards. A document lands in the bin its
    running token count starts in (bin = floor(preceding_tokens /
    budget)); output is per-bin document and token counts. The
    complement of ``training.pack_training_sequences``, which cuts
    exact fixed-length sequences from the GLOBAL concatenated stream
    (documents split across boundaries, no per-source partition).

    Scale shape: ONE window per source — at 100 TB the partition key
    becomes (source, shard) so no single window sees unbounded rows;
    the prefix-sum itself is the standard monotone window aggregate
    (running sum over a sorted partition, no self-join). Everything is
    built-in expressions, so the DuckDB oracle is the identical SQL
    window."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = Window.partitionBy("source").orderBy("doc_id")
    t = d.select("doc_id", "source", token_count(F.col("text")).alias("n_tok"))
    packed = t.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(PACK_BUDGET)
        ).cast("long"),
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "bin")
    )


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, source,
         length(regexp_extract_all(lower(text), '\\S+')) AS n_tok
  FROM documents
), packed AS (
  SELECT source,
         CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                     - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin,
         n_tok
  FROM t
)
SELECT source, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY source, bin ORDER BY source, bin
"""


# --- PII redaction -----------------------------------------------------------

# conservative patterns valid in both Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
LONG_NUM_RE = r"\b[0-9]{9,}\b"


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: replace emails and long digit runs with typed
    placeholder tokens, report per-source redaction counts and the
    post-redaction character volume.

    The synthetic corpus carries no organic PII, so both engines plant
    a deterministic email + numeric id on every 7th document (co-prime with the 20-source striping, so every source gets planted docs) before
    scrubbing — the pass (and its oracle) then proves detection,
    replacement, and counting on known ground truth. Map-only until the
    per-source aggregate; all regex work is codegen'd JVM."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com id 1234567890"),
        ),
    ).otherwise(F.col("text"))
    n_emails = F.size(F.regexp_extract_all(planted, F.lit(EMAIL_RE), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(planted, EMAIL_RE, "<EMAIL>"), LONG_NUM_RE, "<ID>"
    )
    n_ids = F.size(
        F.regexp_extract_all(
            F.regexp_replace(planted, EMAIL_RE, "<EMAIL>"),
            F.lit(LONG_NUM_RE),
            F.lit(0),
        )
    )
    return (
        d.select("source", n_emails.alias("ne"), n_ids.alias("ni"), F.length(scrubbed).alias("len_after"))
        .groupBy("source")
        .agg(
            F.sum("ne").cast("long").alias("n_emails"),
            F.sum("ni").cast("long").alias("n_ids"),
            F.sum((F.col("ne") + F.col("ni") > 0).cast("long")).alias("n_docs_with_pii"),
            F.sum("len_after").cast("long").alias("chars_after"),
        )
        .orderBy("source")
    )


ORACLE_REDACT_PII = f"""
WITH planted AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com id 1234567890'
              ELSE text END AS t
  FROM documents
), scrubbed AS (
  SELECT source,
         length(regexp_extract_all(t, '{EMAIL_RE}')) AS ne,
         length(regexp_extract_all(
           regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'), '{LONG_NUM_RE}')) AS ni,
         length(regexp_replace(
           regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{LONG_NUM_RE}', '<ID>', 'g')) AS len_after
  FROM planted
)
SELECT source,
       sum(ne)::bigint AS n_emails,
       sum(ni)::bigint AS n_ids,
       sum(CASE WHEN ne + ni > 0 THEN 1 ELSE 0 END)::bigint AS n_docs_with_pii,
       sum(len_after)::bigint AS chars_after
FROM scrubbed
GROUP BY source ORDER BY source
"""


# --- Gopher-style repetition scoring ----------------------------------------

REP_THRESHOLD = 0.2


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the Gopher/MassiveText family of
    rules): per document, the fraction of word bigrams taken by the
    single most frequent bigram; documents above REP_THRESHOLD flag as
    repetitive. Integer counts → the ratio is engine-exact.

    The statistic is per-document, so it never needs a corpus-wide
    shuffle: the bigram array is sorted IN-ROW and the top bigram's
    count is the longest equal-run in the sorted array, computed by one
    fold — the whole per-doc stage is map-side (measured 6.4 s → ~1 s at
    sf0.1 vs the explode + (doc, bigram) groupBy formulation, whose
    shuffle carried one nearly-unique row per corpus bigram). Only the
    final per-source rollup shuffles, on source-sized keys."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]

    # bind the token array, then the sorted bigram array, to lambda
    # variables so tokenize and sort each evaluate ONCE per row, not
    # once per position / fold step — the word_shingles binding lesson
    # (dedup.py:33)
    def bigrams_of(t: Column) -> Column:
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat(
                    F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def run_best_of(s: Column) -> Column:
        n = F.size(s)
        return F.when(
            n >= 2,
            F.aggregate(
                F.sequence(F.lit(2), n),
                F.struct(
                    F.lit(1).cast("int").alias("cur"),
                    F.lit(1).cast("int").alias("best"),
                ),
                lambda acc, i: F.struct(
                    F.when(
                        F.element_at(s, i) == F.element_at(s, i - 1), acc.cur + 1
                    )
                    .otherwise(F.lit(1))
                    .alias("cur"),
                    F.greatest(
                        acc.best,
                        F.when(
                            F.element_at(s, i) == F.element_at(s, i - 1),
                            acc.cur + 1,
                        ).otherwise(F.lit(1)),
                    ).alias("best"),
                ),
                lambda acc: acc.best,
            ),
        ).otherwise(F.lit(1))

    stats = F.element_at(
        F.transform(
            F.array(tokens(F.col("text"))),
            lambda t: F.element_at(
                F.transform(
                    F.array(F.array_sort(bigrams_of(t))),
                    lambda s: F.struct(
                        F.size(s).alias("n_bg"), run_best_of(s).alias("best")
                    ),
                ),
                1,
            ),
        ),
        1,
    )
    per_doc = (
        d.repartition(spark.sparkContext.defaultParallelism)
        # two projections: the struct materializes once, the field
        # accesses below reference it — CollapseProject keeps non-cheap
        # expressions single-evaluated
        .select("source", stats.alias("st"))
        .select(
            "source",
            F.col("st.n_bg").alias("n_bg"),
            F.round(F.col("st.best") / F.col("st.n_bg"), 4).alias("top_frac"),
        )
        .filter(F.col("n_bg") >= 1)
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("top_frac") > REP_THRESHOLD).cast("long")).alias(
                "n_repetitive"
            ),
            F.round(F.avg("top_frac"), 4).alias("avg_top_frac"),
        )
        .orderBy("source")
    )


ORACLE_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), bigrams AS (
  SELECT doc_id, source, unnest(
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         ELSE [] END) AS bg
  FROM toks
), per_bigram AS (
  SELECT doc_id, source, bg, count(*) AS c
  FROM bigrams GROUP BY doc_id, source, bg
), per_doc AS (
  SELECT doc_id, source, round(max(c) * 1.0 / sum(c), 4) AS top_frac
  FROM per_bigram GROUP BY doc_id, source
)
SELECT source, count(*) AS n_docs,
       sum(CASE WHEN top_frac > {REP_THRESHOLD} THEN 1 ELSE 0 END)::bigint
         AS n_repetitive,
       round(avg(top_frac), 4) AS avg_top_frac
FROM per_doc
GROUP BY source ORDER BY source
"""


_RARITY_TOPK = 20


def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by corpus-relative token rarity — an IDF-style
    quality signal (docs full of rare vocabulary score high; boilerplate
    scores low) computed ENTIRELY in integer arithmetic so any engine
    agrees bit-for-bit: each token contributes total_tokens div
    corpus_freq (integer division of exact counts), summed as bigint.
    The float version of this (sum of ln(N/f)) is FP-accumulation-order
    dependent and could flip the top-k boundary between engines.

    Scale shape: one explode → one vocab aggregate → one equi-join of
    the token stream with the (vocab-sized) frequency table → one
    per-doc sum; the one-row corpus total broadcasts. Token-frequency
    skew (stop words) is a join on the token key — AQE's skew handling
    or salting applies unchanged."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    total = freq.agg(F.sum("freq").cast("long").alias("total"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.expr("total div freq").alias("r"))
        .groupBy("doc_id")
        .agg(F.sum("r").cast("long").alias("rarity"), F.count("*").alias("n_tokens"))
        .orderBy(F.desc("rarity"), "doc_id")
        .limit(_RARITY_TOPK)
    )


ORACLE_RARITY = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
  FROM documents
), freq AS (
  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
), total AS (
  SELECT sum(freq)::bigint AS total FROM freq
)
SELECT t.doc_id,
       sum(total.total // f.freq)::bigint AS rarity,
       count(*) AS n_tokens
FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN total
GROUP BY t.doc_id
ORDER BY rarity DESC, t.doc_id
LIMIT {_RARITY_TOPK}
"""


def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile curriculum bucketing: every document assigned to
    one of 10 equal-size difficulty tiers by quality score (curriculum
    training consumes easy tiers first), over the (q, doc_id) TOTAL
    order — the tiebreak makes tier assignment deterministic in any
    engine even where quality scores tie (they tie a lot: the score is
    a 4-step ladder).

    Scale shape — EXACT ntile with no single-partition window: a
    ``repartitionByRange(q, doc_id)`` gives the global order across
    partitions (Spark's range partitioner — the same machinery a global
    orderBy uses, every partition a contiguous key range); rows are
    sorted within partitions and numbered by
    ``monotonically_increasing_id`` (partition ordinal in the high
    bits, the within-partition sequence in the low 33 — so local rank
    costs NO extra shuffle); per-partition counts (one tiny collect,
    #partitions rows) turn local ranks into exact global ranks via
    prefix offsets, and the ntile arithmetic on the global rank is a
    row-local expression. One corpus shuffle total, every stage
    parallel — vs ntile-over-Window.orderBy, which moves the whole
    corpus to one task. The approx sibling (quantile_sketch_check)
    remains the single-pass alternative where ±ε tier bounds are
    acceptable."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = d.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("q")
    )
    ranged = (
        scored.repartitionByRange(F.col("q"), F.col("doc_id"))
        .sortWithinPartitions("q", "doc_id")
        .withColumn("mid", F.monotonically_increasing_id())
        .localCheckpoint()  # pin partition contents: the counts collect
        # and the final plan must see the SAME ids
    )
    pid = F.shiftright(F.col("mid"), 33)
    local = F.col("mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = sorted(
        (r["pid"], r["n"])
        for r in ranged.groupBy(pid.alias("pid")).agg(
            F.count("*").alias("n")
        ).collect()
    )
    total = sum(n for _, n in counts)
    offsets, acc = {}, 0
    for p, n in counts:  # pid order IS range order: partition 0 holds
        # the lowest (q, doc_id) range
        offsets[p] = acc
        acc += n
    off_map = F.create_map(
        *[F.lit(x) for p, o in offsets.items() for x in (p, o)]
    )
    gidx = F.element_at(off_map, pid) + local  # exact 0-based global rank
    base, rem = divmod(total, 10)
    if base == 0:  # fewer rows than tiles: one row per leading tile
        tier = (gidx + 1).cast("int")
    else:
        head = rem * (base + 1)  # the first `rem` tiles carry base+1 rows
        tier = (
            F.when(gidx < head, F.floor(gidx / (base + 1)))
            .otherwise(rem + F.floor((gidx - head) / base))
            .cast("int")
            + 1
        )
    return (
        ranged.select("q", tier.alias("tier"))
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
        )
        .orderBy("tier")
    )


ORACLE_CURRICULUM = """
WITH toks AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), q AS (
  SELECT doc_id,
         round((CASE WHEN len(t) >= 10 AND len(t) <= 10000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(t) > 0
                      AND length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t) >= 3
                      AND length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t) <= 10
                     THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(t) > 0
                      AND len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0 / len(t) >= 0.05
                     THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN length(text) > 0
                      AND length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text) <= 0.1
                     THEN 0.25 ELSE 0.0 END), 4)::DOUBLE AS q
  FROM toks
), tiered AS (
  SELECT doc_id, q, ntile(10) OVER (ORDER BY q, doc_id)::int AS tier FROM q
)
SELECT tier, count(*) AS n_docs, min(q) AS min_q, max(q) AS max_q
FROM tiered GROUP BY tier ORDER BY tier
"""



_TOPGRAM_N = 3   # word trigrams
_TOPGRAM_K = 5   # per-language top-k


def top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language characteristic n-grams: the top-5 word trigrams of
    each language by corpus frequency — the language-fingerprinting /
    corpus-inspection pass (the per-language twin of vocab_coverage;
    what phrases dominate each slice of the corpus, the first thing a
    data audit prints). Deterministic ranking: (count desc, trigram)
    row_number per language.

    Scale shape: one shuffle for the (lang, trigram) count, one window
    partitioned BY LANGUAGE over the counted (already reduced) rows —
    the window input is vocabulary-sized, not corpus-sized, because the
    count collapses first. Same bound-lambda shingle expression as the
    dedup family (the word_shingles lesson).
    """
    from .dedup import word_shingles

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams = d.select(
        "lang",
        F.explode(word_shingles(F.col("text"), _TOPGRAM_N)).alias("g"),
    )
    counts = grams.groupBy("lang", "g").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "g")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPGRAM_K)
        .select("lang", "rank", "g", "n")
        .orderBy("lang", "rank")
    )


def _oracle_top_ngrams() -> str:
    n = _TOPGRAM_N
    terms = " || ' ' || ".join([f"t[i+{j}]" for j in range(n)])
    return f"""
WITH docs AS (
  SELECT lang, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
), grams AS (
  SELECT lang, unnest(
    CASE WHEN len(t) >= {n}
         THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
              i -> {terms}))
         ELSE [] END) AS g
  FROM docs
), counts AS (
  SELECT lang, g, count(*) AS n FROM grams GROUP BY lang, g
), ranked AS (
  SELECT lang, g, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rank
  FROM counts
)
SELECT lang, rank::int AS rank, g, n
FROM ranked WHERE rank <= {_TOPGRAM_K}
ORDER BY lang, rank
"""


_SIM_TOP = 10


def source_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance source-similarity matrix: for every source
    pair, the Jaccard similarity of their distinct word-trigram shingle
    sets — the \"which sources copy from / overlap each other\" report a
    mixture designer reads before weighting sources (near-identical
    sources would double-count their distribution mass). Top pairs by
    similarity.

    Scale shape: per-source distinct shingles is one scan + explode +
    distinct (shuffle on (source, shingle)); pair intersections come
    from an equi self-join ON THE SHINGLE KEY — never an all-pairs
    product over documents — and the per-source set sizes are a
    |sources|-row broadcast. With S sources the output is S·(S-1)/2
    rows regardless of corpus size."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    n = F.size(toks)
    tri = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    # the corpus arrives as one file at test scale → one task; spread the
    # (CPU-heavy) shingle explode across the cluster first. One narrow
    # shuffle of doc rows, repaid ~8× in the explode stage; at real scale
    # the scan has many splits and this is a no-op-sized rebalance.
    shingles = (
        d.filter(n >= 3)
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
        .select("source", F.explode(tri).alias("sh"))
        .distinct()
    )
    sizes = shingles.groupBy("source").agg(F.count("*").alias("n_sh"))
    # Pair counting WITHOUT the shingle self-join: aggregate each
    # shingle to its sorted distinct source-SET, then aggregate BY the
    # set — the number of distinct source-combinations is bounded by
    # min(2^S, #shingles) and in practice tiny, so the C(s,2) pair
    # explosion runs over set-count rows, not over Σ C(s,2) per-shingle
    # rows. Replaces a join that materialized ~19M pair rows at sf0.1
    # (measured 12.9 s → ~2 s); both shuffles are map-side-combined
    # groupBys. The oracle keeps the naive self-join — same answer,
    # independently derived.
    src_sets = (
        shingles.groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .groupBy("ss")
        .agg(F.count("*").alias("n_sh_set"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, 1_000_000),
                lambda y: F.struct(x.alias("s1"), y.alias("s2")),
            ),
        )
    )
    inter = (
        src_sets.select(F.explode(pair_structs).alias("p"), "n_sh_set")
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.sum("n_sh_set").alias("n_inter"))
    )
    out = (
        inter.join(F.broadcast(sizes.withColumnRenamed("source", "s1").withColumnRenamed("n_sh", "n1")), "s1")
        .join(F.broadcast(sizes.withColumnRenamed("source", "s2").withColumnRenamed("n_sh", "n2")), "s2")
        .select(
            "s1",
            "s2",
            "n_inter",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )
    return out.orderBy(F.desc("jaccard"), "s1", "s2").limit(_SIM_TOP)


ORACLE_SOURCE_SIMILARITY = f"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), tri AS (
  SELECT DISTINCT source,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
), sizes AS (
  SELECT source, count(*) AS n_sh FROM tri GROUP BY source
), inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_inter
  FROM tri a JOIN tri b ON a.sh = b.sh AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s1, s2, n_inter,
       round(n_inter / (z1.n_sh + z2.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes z1 ON z1.source = s1
JOIN sizes z2 ON z2.source = s2
ORDER BY jaccard DESC, s1, s2
LIMIT {_SIM_TOP}
"""


def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the exact two-sample
    Kolmogorov–Smirnov statistic of each source's document-length
    distribution against the whole corpus — D_s = max over observed
    lengths of |ECDF_source(x) − ECDF_corpus(x)|. The drift gate a
    pipeline runs per ingest batch: a source whose length distribution
    departs from the corpus signals truncation, boilerplate injection,
    or format drift.

    Exact, not sketched: both ECDFs are step functions whose steps lie
    on observed corpus lengths, so evaluating on the (bounded) distinct-
    length grid gives the true sup. Scale shape: the grid is
    |sources| × |distinct lengths| — a domain-bounded dimension table,
    NOT data-sized — built by one broadcast cross join; cumsums are
    windows partitioned by source over that grid; the corpus pass
    aggregates once. Integer counts everywhere until the final rounded
    division."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    per = d.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    values = d.select("n_chars").distinct()
    sources = d.select("source").distinct()
    grid = sources.crossJoin(F.broadcast(values))
    joined = grid.join(per, ["source", "n_chars"], "left").fillna(0, ["c"])
    w = Window.partitionBy("source").orderBy("n_chars")
    cum_s = F.sum("c").over(w)
    tot_s = F.sum("c").over(Window.partitionBy("source"))
    glob = (
        d.groupBy("n_chars")
        .agg(F.count("*").alias("g"))
        .withColumn("cum_g", F.sum("g").over(Window.orderBy("n_chars")))
        .withColumn("tot_g", F.sum("g").over(Window.partitionBy()))
    )
    ecdf = joined.select(
        "source", "n_chars", cum_s.alias("cum_s"), tot_s.alias("tot_s")
    ).join(F.broadcast(glob.select("n_chars", "cum_g", "tot_g")), "n_chars")
    diff = F.abs(
        F.col("cum_s") / F.col("tot_s") - F.col("cum_g") / F.col("tot_g")
    )
    return (
        ecdf.groupBy("source")
        .agg(F.round(F.max(diff), 6).alias("ks_stat"), F.max("tot_s").alias("n_docs"))
        .orderBy(F.desc("ks_stat"), "source")
    )


ORACLE_LENGTH_DRIFT = """
WITH per AS (
  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY source, n_chars
), grid AS (
  SELECT s.source, v.n_chars
  FROM (SELECT DISTINCT source FROM documents) s,
       (SELECT DISTINCT n_chars FROM documents) v
), joined AS (
  SELECT g.source, g.n_chars, coalesce(per.c, 0) AS c
  FROM grid g LEFT JOIN per ON g.source = per.source AND g.n_chars = per.n_chars
), cum AS (
  SELECT source, n_chars,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
         sum(c) OVER (PARTITION BY source) AS tot_s
  FROM joined
), corpus_ecdf AS (
  SELECT n_chars,
         sum(g) OVER (ORDER BY n_chars) AS cum_g,
         sum(g) OVER () AS tot_g
  FROM (SELECT n_chars, count(*) AS g FROM documents GROUP BY n_chars)
)
SELECT c.source,
       round(max(abs(c.cum_s / c.tot_s - e.cum_g / e.tot_g)), 6) AS ks_stat,
       max(c.tot_s) AS n_docs
FROM cum c JOIN corpus_ecdf e ON c.n_chars = e.n_chars
GROUP BY c.source
ORDER BY ks_stat DESC, source
"""


CASCADE_FEATS = ("x1", "x2", "x3", "x4", "x5")
CASCADE_GATE_MIN_TOK = 5


def cascade_feature_exprs(text_col: Column) -> dict[str, Column]:
    """The cascade classifier's five surface features (log-token count,
    mean word length, stopword/punct/digit ratios) as named Column
    expressions — shared by the standalone cascade and the corpus
    funnel's model-gate stage so both score with the same featurizer."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    return {
        "x1": F.log1p(n_tok.cast("double")),
        "x2": F.when(n_tok > 0, F.length(F.concat_ws("", toks)) / n_tok)
        .otherwise(F.lit(0.0)),
        "x3": stopword_ratio(text_col),
        "x4": punct_ratio(text_col),
        "x5": F.when(
            F.length(text_col) > 0,
            F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
            / F.length(text_col),
        ).otherwise(F.lit(0.0)),
    }


def fit_cascade_model(gated: DataFrame) -> DataFrame:
    """Closed-form diagonal-LDA fit over a gated feature frame carrying
    ``y`` and x1..x5: ONE aggregate (per-class conditional means and
    second moments, partial-aggregatable) → a 1-row (w_x1..w_x5, b)
    frame meant to be broadcast into the scoring projection."""
    aggs = []
    for j in CASCADE_FEATS:
        for c in (0, 1):
            x = F.when(F.col("y") == c, F.col(j))
            aggs.append(F.avg(x).alias(f"mu{c}_{j}"))
            aggs.append(F.avg(x * F.col(j)).alias(f"m2{c}_{j}"))
    stats = gated.groupBy().agg(*aggs)
    w_cols, b = [], F.lit(0.0)
    for j in CASCADE_FEATS:
        var0 = F.col(f"m20_{j}") - F.col(f"mu0_{j}") * F.col(f"mu0_{j}")
        var1 = F.col(f"m21_{j}") - F.col(f"mu1_{j}") * F.col(f"mu1_{j}")
        w = (F.col(f"mu1_{j}") - F.col(f"mu0_{j}")) / (
            (var0 + var1) / 2 + F.lit(1e-6)
        )
        w_cols.append(w.alias(f"w_{j}"))
        b = b - w * (F.col(f"mu1_{j}") + F.col(f"mu0_{j}")) / 2
    return stats.select(*w_cols, b.alias("b"))


def cascade_score_expr() -> Column:
    """score = b + Σ w_j·x_j over the crossJoined model columns."""
    score = F.col("b")
    for j in CASCADE_FEATS:
        score = score + F.col(f"w_{j}") * F.col(j)
    return score


# SQL fragments of the same model, over a relation exposing (text, t)
# where t is the lowercased whitespace token array — used by the funnel
# oracle; the standalone cascade oracle spells the identical expressions
# inline (ORACLE_QUALITY_CASCADE)
CASCADE_FEAT_SQL = """
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ln(1 + len(t)) AS x1,
         CASE WHEN len(t) > 0
              THEN length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t)
              ELSE 0.0 END AS x2,
         CASE WHEN len(t) > 0
              THEN len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it')))
                   * 1.0 / len(t)
              ELSE 0.0 END AS x3,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS x4,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS x5"""


def cascade_model_sql(gate_rel: str) -> str:
    """stats/model CTE bodies over ``gate_rel`` (y + x1..x5) — the SQL
    twin of fit_cascade_model, emitted per-feature so both oracles run
    the identical expression tree."""
    stat_cols, w_exprs, b_terms = [], [], []
    for j in CASCADE_FEATS:
        stat_cols.append(
            f"avg(CASE WHEN y=0 THEN {j} END) AS mu0_{j}, "
            f"avg(CASE WHEN y=0 THEN {j}*{j} END) AS m20_{j},\n    "
            f"avg(CASE WHEN y=1 THEN {j} END) AS mu1_{j}, "
            f"avg(CASE WHEN y=1 THEN {j}*{j} END) AS m21_{j}"
        )
        w = (
            f"(mu1_{j}-mu0_{j}) / (((m20_{j}-mu0_{j}*mu0_{j})"
            f"+(m21_{j}-mu1_{j}*mu1_{j}))/2 + 1e-6)"
        )
        w_exprs.append(f"{w} AS w_{j}")
        b_terms.append(f"- {w} * (mu1_{j}+mu0_{j})/2")
    return (
        f"cstats AS (\n  SELECT\n    "
        + ",\n    ".join(stat_cols)
        + f"\n  FROM {gate_rel}\n), cmodel AS (\n  SELECT\n    "
        + ",\n    ".join(w_exprs)
        + ",\n    0.0 "
        + " ".join(b_terms)
        + " AS b\n  FROM cstats\n)"
    )


def quality_classifier_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering as a CASCADE — the production
    shape of FineWeb/DCLM-style pipelines: a cheap heuristic gate prunes
    first (here: ≥5 tokens — at scale a pushdown-able predicate that
    spares the model the bulk of the crawl), then a TRAINED classifier
    scores only the survivors. The model is a diagonal-LDA (Gaussian
    naive-Bayes-flavoured) linear classifier trained IN THE SAME PASS by
    weak supervision against the corpus's language label (the fastText
    recipe: 'gold' class vs rest), over five surface features: log-token
    count, mean word length, stopword/punct/digit ratios.

    Spark-first: training is ONE aggregate job (per-class conditional
    means and second moments — partial-aggregatable, map-side combined);
    the fitted weights stay a 1-row frame crossJoined (broadcast) into
    the whole-stage-codegen scoring projection — no collect, no UDF.
    The oracle recomputes the identical closed-form fit in SQL, so the
    hash match verifies the MATH end to end, not just plumbing. A
    production variant swaps the feature projection for hashed n-grams
    in a pandas_udf; the cascade, fit, and scoring plan are unchanged.

    Returns per source: total docs, gate survivors, model accepts
    (score > 0), and the mean score (rounded; scores are engine-exact to
    ~1e-12, rounding absorbs FP summation-order differences)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    fx = cascade_feature_exprs(F.col("text"))
    feat = d.select(
        "doc_id",
        "source",
        # when/otherwise, not a bare boolean cast: a NULL lang must land
        # in class 0 exactly like the oracle's CASE WHEN ... ELSE 0 END
        # (a cast NULL would silently drop the row from both class
        # aggregates and desynchronise the fitted weights)
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
        token_count(F.col("text")).alias("n_tok"),
        *(expr.alias(name) for name, expr in fx.items()),
    )
    s1 = feat.filter(F.col("n_tok") >= CASCADE_GATE_MIN_TOK)  # the cheap gate

    # diagonal LDA: w_j = (mu1-mu0)/(pooled var + eps), threshold at the
    # class-mean midpoint (var computed as E[x²]-E[x]², same form as the
    # oracle so both engines run the identical expression tree)
    model = fit_cascade_model(s1)

    scored = s1.crossJoin(F.broadcast(model)).select(
        "source", F.round(cascade_score_expr(), 6).alias("score")
    )
    per_scored = scored.groupBy("source").agg(
        F.count("*").alias("n_scored"),
        F.sum((F.col("score") > 0).cast("int")).alias("n_accept"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )
    totals = feat.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        totals.join(per_scored, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_scored", F.lit(0)).alias("n_scored"),
            F.coalesce("n_accept", F.lit(0)).alias("n_accept"),
            "avg_score",
        )
        .orderBy("source")
    )


ORACLE_QUALITY_CASCADE = """
WITH feat AS (
  SELECT doc_id, source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         len(regexp_extract_all(lower(text), '\\S+')) AS n_tok,
         ln(1 + len(regexp_extract_all(lower(text), '\\S+'))) AS x1,
         CASE WHEN len(regexp_extract_all(lower(text), '\\S+')) > 0
              THEN length(list_aggregate(regexp_extract_all(lower(text), '\\S+'), 'string_agg', ''))
                   * 1.0 / len(regexp_extract_all(lower(text), '\\S+'))
              ELSE 0.0 END AS x2,
         CASE WHEN len(regexp_extract_all(lower(text), '\\S+')) > 0
              THEN len(list_filter(regexp_extract_all(lower(text), '\\S+'),
                                   x -> x IN ('the','a','and','of','to','in','is','it')))
                   * 1.0 / len(regexp_extract_all(lower(text), '\\S+'))
              ELSE 0.0 END AS x3,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS x4,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END AS x5
  FROM documents
), s1 AS (
  SELECT * FROM feat WHERE n_tok >= 5
), stats AS (
  SELECT
    avg(CASE WHEN y=0 THEN x1 END) AS mu0_x1, avg(CASE WHEN y=0 THEN x1*x1 END) AS m20_x1,
    avg(CASE WHEN y=1 THEN x1 END) AS mu1_x1, avg(CASE WHEN y=1 THEN x1*x1 END) AS m21_x1,
    avg(CASE WHEN y=0 THEN x2 END) AS mu0_x2, avg(CASE WHEN y=0 THEN x2*x2 END) AS m20_x2,
    avg(CASE WHEN y=1 THEN x2 END) AS mu1_x2, avg(CASE WHEN y=1 THEN x2*x2 END) AS m21_x2,
    avg(CASE WHEN y=0 THEN x3 END) AS mu0_x3, avg(CASE WHEN y=0 THEN x3*x3 END) AS m20_x3,
    avg(CASE WHEN y=1 THEN x3 END) AS mu1_x3, avg(CASE WHEN y=1 THEN x3*x3 END) AS m21_x3,
    avg(CASE WHEN y=0 THEN x4 END) AS mu0_x4, avg(CASE WHEN y=0 THEN x4*x4 END) AS m20_x4,
    avg(CASE WHEN y=1 THEN x4 END) AS mu1_x4, avg(CASE WHEN y=1 THEN x4*x4 END) AS m21_x4,
    avg(CASE WHEN y=0 THEN x5 END) AS mu0_x5, avg(CASE WHEN y=0 THEN x5*x5 END) AS m20_x5,
    avg(CASE WHEN y=1 THEN x5 END) AS mu1_x5, avg(CASE WHEN y=1 THEN x5*x5 END) AS m21_x5
  FROM s1
), model AS (
  SELECT
    (mu1_x1-mu0_x1) / (((m20_x1-mu0_x1*mu0_x1)+(m21_x1-mu1_x1*mu1_x1))/2 + 1e-6) AS w_x1,
    (mu1_x2-mu0_x2) / (((m20_x2-mu0_x2*mu0_x2)+(m21_x2-mu1_x2*mu1_x2))/2 + 1e-6) AS w_x2,
    (mu1_x3-mu0_x3) / (((m20_x3-mu0_x3*mu0_x3)+(m21_x3-mu1_x3*mu1_x3))/2 + 1e-6) AS w_x3,
    (mu1_x4-mu0_x4) / (((m20_x4-mu0_x4*mu0_x4)+(m21_x4-mu1_x4*mu1_x4))/2 + 1e-6) AS w_x4,
    (mu1_x5-mu0_x5) / (((m20_x5-mu0_x5*mu0_x5)+(m21_x5-mu1_x5*mu1_x5))/2 + 1e-6) AS w_x5,
    0.0 - (mu1_x1-mu0_x1) / (((m20_x1-mu0_x1*mu0_x1)+(m21_x1-mu1_x1*mu1_x1))/2 + 1e-6) * (mu1_x1+mu0_x1)/2
        - (mu1_x2-mu0_x2) / (((m20_x2-mu0_x2*mu0_x2)+(m21_x2-mu1_x2*mu1_x2))/2 + 1e-6) * (mu1_x2+mu0_x2)/2
        - (mu1_x3-mu0_x3) / (((m20_x3-mu0_x3*mu0_x3)+(m21_x3-mu1_x3*mu1_x3))/2 + 1e-6) * (mu1_x3+mu0_x3)/2
        - (mu1_x4-mu0_x4) / (((m20_x4-mu0_x4*mu0_x4)+(m21_x4-mu1_x4*mu1_x4))/2 + 1e-6) * (mu1_x4+mu0_x4)/2
        - (mu1_x5-mu0_x5) / (((m20_x5-mu0_x5*mu0_x5)+(m21_x5-mu1_x5*mu1_x5))/2 + 1e-6) * (mu1_x5+mu0_x5)/2
      AS b
  FROM stats
), scored AS (
  SELECT s1.source,
         round(b + w_x1*x1 + w_x2*x2 + w_x3*x3 + w_x4*x4 + w_x5*x5, 6) AS score
  FROM s1 CROSS JOIN model
), per_scored AS (
  SELECT source, count(*) AS n_scored,
         CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
         round(avg(score), 4) AS avg_score
  FROM scored GROUP BY source
)
SELECT f.source, count(*) AS n_docs,
       COALESCE(any_value(p.n_scored), 0) AS n_scored,
       COALESCE(any_value(p.n_accept), 0) AS n_accept,
       any_value(p.avg_score) AS avg_score
FROM feat f LEFT JOIN per_scored p ON f.source = p.source
GROUP BY f.source ORDER BY f.source
"""


LM_TOP_BIGRAMS = 1000

@artifact
def _bigram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, bigram) pass behind the LM novelty gate —
    spread across cores first (the documents file arrives as a single
    split) and persisted: the vocabulary election AND the per-doc pass
    both read it. Cached per (session, sf_dir) so repeated timed runs
    (bench/soak) reuse one persisted copy instead of stacking a fresh
    persist's blocks in executor storage per invocation (the
    dedup._lsh_pairs / graph_analytics._ranked_adjacency contract)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = tokens(F.col("text"))
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    par = spark.sparkContext.defaultParallelism
    return (
        d.repartition(par, "doc_id")
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .persist()
    )
LM_NOVELTY_GATE_PCT = 50


def lm_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM novelty gate, engine-exact: the cheap n-gram-LM
    quality signal (CCNet scores documents against a wiki LM
    perplexity; the bigram-COVERAGE form keeps the math in integers so
    both engines agree bit-for-bit). The corpus's top-1000 bigrams
    (count desc, bigram tiebreak) stand in for the LM; a document's
    novelty is the fraction of its bigram OCCURRENCES that fall outside
    them, and the gate flags docs over 50% — the
    "fluent-text-looks-like-the-reference-distribution" filter, with
    the same one-sided failure mode (templated text scores fluent,
    rare-domain text scores novel).

    Scale shape: ONE tokenise+explode pass over the corpus (spread
    across cores first — the documents file arrives as a single split —
    and persisted: both the vocabulary election and the per-doc pass
    read it), one 2-key aggregate for the vocabulary (top-K via
    TakeOrdered), then a BROADCAST left join of the K-row vocab into
    the per-doc pass — never doc×doc, never a corpus-side shuffle
    beyond the per-doc aggregate."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    rows = _bigram_rows(spark, sf_dir)
    vocab = (
        rows.groupBy("bg")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bg")
        .limit(LM_TOP_BIGRAMS)
        .select("bg", F.lit(1).alias("known"))
    )
    per_doc = (
        rows.join(F.broadcast(vocab), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_big"),
            F.sum(F.coalesce(F.col("known"), F.lit(0))).alias("n_known"),
        )
    )
    return (
        d.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.coalesce(F.col("n_big"), F.lit(0))).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("n_known"), F.lit(0))).alias("n_known"),
            F.sum(
                F.when(
                    (F.coalesce(F.col("n_big"), F.lit(0)) > 0)
                    & (
                        (F.col("n_big") - F.col("n_known")) * 100
                        > F.col("n_big") * LM_NOVELTY_GATE_PCT
                    ),
                    1,
                ).otherwise(0)
            ).alias("flagged_docs"),
        )
        .orderBy("source")
    )


ORACLE_LM_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
), vocab AS (
  SELECT bg, 1 AS known FROM (
    SELECT bg, count(*) AS n FROM bg GROUP BY bg
    ORDER BY n DESC, bg LIMIT {LM_TOP_BIGRAMS}
  )
), per_doc AS (
  SELECT b.doc_id, count(*) AS n_big,
         sum(coalesce(v.known, 0)) AS n_known
  FROM bg b LEFT JOIN vocab v USING (bg)
  GROUP BY b.doc_id
)
SELECT d.source, count(*) AS docs,
       sum(coalesce(p.n_big, 0)) AS n_bigrams,
       sum(coalesce(p.n_known, 0)) AS n_known,
       sum(CASE WHEN coalesce(p.n_big, 0) > 0
                 AND (p.n_big - p.n_known) * 100
                     > p.n_big * {LM_NOVELTY_GATE_PCT}
                THEN 1 ELSE 0 END) AS flagged_docs
FROM documents d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


QUERIES = {
    "lm_bigram_novelty": lm_bigram_novelty,
    "quality_classifier_cascade": quality_classifier_cascade,
    "source_similarity_matrix": source_similarity_matrix,
    "source_length_drift": source_length_drift,
    "redact_pii": redact_pii,
    "top_ngrams_per_lang": top_ngrams_per_lang,
    "text_rarity": text_rarity,
    "curriculum_buckets": curriculum_buckets,
    "text_repetition": text_repetition,
    "text_token_stats": text_token_stats,
    "corpus_curation": corpus_curation,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_fingerprint_dups": text_fingerprint_dups,
    "pack_sequences": pack_sequences,
}

ORACLES = {
    "lm_bigram_novelty": ORACLE_LM_NOVELTY,
    "quality_classifier_cascade": ORACLE_QUALITY_CASCADE,
    "source_similarity_matrix": ORACLE_SOURCE_SIMILARITY,
    "source_length_drift": ORACLE_LENGTH_DRIFT,
    "redact_pii": ORACLE_REDACT_PII,
    "top_ngrams_per_lang": _oracle_top_ngrams(),
    "text_rarity": ORACLE_RARITY,
    "curriculum_buckets": ORACLE_CURRICULUM,
    "text_repetition": ORACLE_REPETITION,
    "text_token_stats": ORACLE_TOKEN_STATS,
    "corpus_curation": _oracle_curation(),
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_lang_id": _lang_case_sql(),
    "text_fingerprint_dups": ORACLE_FINGERPRINT,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
}
