"""Search / facet / autocomplete / edge-page semantics (SURVEY.md §2.5
Q6–Q8) — the Solr-parity subset: field-weighted ranking, negative filters,
facet counts, pagination — over DataFrames.

Lucene-grade relevance is explicitly out of scope (SURVEY §2.5 Q6); what
is preserved is the *semantics*: deterministic score ordering by field
weight, exact-beats-prefix-beats-contains, facet counting with the search
filter applied, stable pagination.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables


def search_score(text: Column, term: str) -> Column:
    """Deterministic weighted score: exact > prefix > contains, with a
    length tiebreak (shorter = better), mirroring the boost ladder
    id^1000 > name^900 > … (GrebiApi.java:189-197)."""
    t = term.lower()
    lower = F.lower(text)
    return (
        F.when(lower == t, F.lit(1000))
        .when(lower.startswith(t), F.lit(900))
        .when(lower.contains(t), F.lit(400))
        .otherwise(F.lit(0))
    ) - F.length(text) / F.lit(10000.0)


def doc_search_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted full-text search with pagination over documents:
    term='spark merge', page 2 of size 10, scored then doc_id tiebreak."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    term = "spark merge"
    scored = d.withColumn("score", F.round(search_score(F.col("text"), term), 4))
    return (
        scored.filter(F.lower("text").contains(term.lower()))
        .select("doc_id", "lang", "source", "score")
        .orderBy(F.desc("score"), "doc_id")
        .offset(10)
        .limit(10)
    )


ORACLE_DOC_SEARCH = """
WITH scored AS (
  SELECT doc_id, lang, source,
         round((CASE WHEN lower(text) = 'spark merge' THEN 1000
               WHEN lower(text) LIKE 'spark merge%' THEN 900
               WHEN lower(text) LIKE '%spark merge%' THEN 400
               ELSE 0 END) - length(text) / 10000.0, 4) AS score
  FROM documents
  WHERE lower(text) LIKE '%spark merge%'
)
SELECT doc_id, lang, source, score FROM scored
ORDER BY score DESC, doc_id
LIMIT 10 OFFSET 10
"""


def doc_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts with the search filter applied (facet.field semantics,
    GrebiSolrQuery.java:60-150): counts by lang and by source, unioned as
    (facet_field, facet_value, n)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    hits = d.filter(F.lower("text").contains("join"))
    by_lang = hits.groupBy(F.col("lang").alias("facet_value")).agg(
        F.count("*").alias("n")
    ).select(F.lit("lang").alias("facet_field"), "facet_value", "n")
    by_source = hits.groupBy(F.col("source").alias("facet_value")).agg(
        F.count("*").alias("n")
    ).select(F.lit("source").alias("facet_field"), "facet_value", "n")
    return by_lang.union(by_source).orderBy("facet_field", "facet_value")


ORACLE_DOC_FACETS = """
SELECT * FROM (
  SELECT 'lang' AS facet_field, lang AS facet_value, count(*) AS n
  FROM documents WHERE lower(text) LIKE '%join%' GROUP BY lang
  UNION ALL
  SELECT 'source', source, count(*)
  FROM documents WHERE lower(text) LIKE '%join%' GROUP BY source
) ORDER BY facet_field, facet_value
"""


def autocomplete_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete (Q7): prefix/contains-ranked lookup on the distinct
    name list, exact > prefix > contains, shortest-first tiebreak
    (GrebiSolrClient.java:147-180)."""
    p = load_tables(spark, sf_dir, ("part",))["part"]
    q = "bl"
    names = p.select("p_name").distinct()
    return (
        names.withColumn(
            "rank",
            F.when(F.lower("p_name") == q, 0)
            .when(F.lower("p_name").startswith(q), 1)
            .when(F.lower("p_name").contains(q), 2)
            .otherwise(3),
        )
        .filter(F.col("rank") < 3)
        .orderBy("rank", F.length("p_name"), "p_name")
        .select("p_name", F.col("rank").cast("int").alias("rank"))
        .limit(10)
    )


ORACLE_AUTOCOMPLETE = """
SELECT p_name, rank::int AS rank FROM (
  SELECT DISTINCT p_name,
         CASE WHEN lower(p_name) = 'bl' THEN 0
              WHEN lower(p_name) LIKE 'bl%' THEN 1
              WHEN lower(p_name) LIKE '%bl%' THEN 2
              ELSE 3 END AS rank
  FROM part
) WHERE rank < 3
ORDER BY rank, length(p_name), p_name
LIMIT 10
"""


def edge_page_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming-edge page (Q8): edges by target id with sort + pagination +
    endpoint hydration (GrebiApi.java:81-176). Here: lineitems into one
    part, hydrated with supplier names, page 1 size 20."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    li, s = t["lineitem"], t["supplier"]
    return (
        li.filter(F.col("l_partkey") == 42)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.col("l_linenumber").cast("int").alias("linenumber"),
            F.col("s_name").alias("supplier_name"),
            F.round("l_extendedprice", 2).alias("price"),
        )
        .orderBy(F.desc("price"), "orderkey", "linenumber")
        .limit(20)
    )


ORACLE_EDGE_PAGE = """
SELECT l_orderkey::bigint AS orderkey,
       l_linenumber::int AS linenumber,
       s_name AS supplier_name,
       round(l_extendedprice, 2) AS price
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE l_partkey = 42
ORDER BY price DESC, orderkey, linenumber
LIMIT 20
"""


_BM25_TERMS = ("spark", "merge", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15


def doc_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked full-text search (Okapi, k1=1.2, b=0.75) — the
    relevance upgrade over the boost-ladder scorer: real term-frequency
    saturation + length normalisation + corpus IDF, entirely as JVM-side
    aggregates (no Python, no UDF).

    Scale shape: the token explode is filtered to the query terms BEFORE
    the tf aggregate, so the exploded stream carries only matching
    tokens; df (per-term doc frequency) and the one-row corpus stats
    (N, total token length — exact integers, so avgdl is bit-identical
    across engines) broadcast to the probe side. ``lens`` is persisted so
    the documents scan+tokenize is shared between the corpus-stats
    aggregate and the probe-side length join. The plan shuffles for the
    tf aggregate, the lens join, and the final per-doc aggregate — all on
    doc_id-sized keys; nothing is proportional to vocabulary × corpus.

    Determinism: the per-doc score is the sum of ≤3 per-term weights
    (one w row per (doc, term) after the tf aggregate), pivoted into a
    FIXED-ORDER chain of double additions — identical in any engine, so
    parity cannot flip on FP accumulation order at the top-k boundary.

    Parity note: this is the scoring Solr/Lucene actually applies under
    GrEBI's edismax search (GrebiSolrClient.java:105-147); the reference
    delegates it wholesale to Solr, here it is native to the engine."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = _bm25_scored(spark, sf_dir)
    top = scored.orderBy(F.desc("score"), "doc_id").limit(_BM25_TOPK)
    return (
        top.join(d.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", "score")
        .orderBy(F.desc("score"), "doc_id")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) for the fixed query terms — the shared lexical
    leg of ``doc_search_bm25`` and ``hybrid_search_rrf``."""
    from ..functions.text import token_count, tokens

    d = load_tables(spark, sf_dir, ("documents",))["documents"]

    lens = d.select("doc_id", token_count(F.col("text")).alias("dl")).persist()
    # exact-integer corpus stats: sum/count of ints == identical avgdl
    # in every engine (no FP accumulation-order dependence)
    stats = lens.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )

    qt = d.select(
        "doc_id",
        F.explode(
            F.filter(tokens(F.col("text")), lambda t: t.isin(*_BM25_TERMS))
        ).alias("tok"),
    )
    tf = qt.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))

    w = (
        tf.join(F.broadcast(df), "tok")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "w",
            F.col("idf")
            * F.col("tf")
            * (_BM25_K1 + 1.0)
            / (
                F.col("tf")
                + _BM25_K1
                * (
                    1.0
                    - _BM25_B
                    + _BM25_B * F.col("dl") * F.col("n_docs") / F.col("total_dl")
                )
            ),
        )
    )
    # one w row per (doc, term) → conditional single-element sums are
    # exact; adding them left-to-right fixes the FP accumulation order
    per_term = w.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("tok") == t, F.col("w"))), F.lit(0.0)
            ).alias(f"w_{t}")
            for t in _BM25_TERMS
        ]
    )
    score = F.lit(0.0)
    for t in _BM25_TERMS:
        score = score + F.col(f"w_{t}")
    return per_term.select("doc_id", F.round(score, 4).alias("score"))


# shared CTE chain ending at `s` = (doc_id, score): the lexical leg of
# both the BM25 oracle and the hybrid-RRF oracle
_BM25_SCORE_CTE = f"""
WITH lens AS (
  SELECT doc_id, length(regexp_extract_all(lower(text), '\\S+')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, sum(dl)::bigint AS total_dl FROM lens
), qt AS (
  SELECT doc_id,
         unnest(list_filter(regexp_extract_all(lower(text), '\\S+'),
                            x -> x IN ('spark', 'merge', 'stream'))) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM qt GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), w AS (
  SELECT tf.doc_id, tf.tok,
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * tf.tf * ({_BM25_K1} + 1.0)
         / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * lens.dl * stats.n_docs / stats.total_dl)) AS w
  FROM tf
  JOIN df ON tf.tok = df.tok
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN stats
), s AS (
  -- fixed-order sum of the (at most one-per-term) weights: bit-identical
  -- to the Spark side's left-to-right double additions
  SELECT doc_id,
         round(0.0 + coalesce(sum(CASE WHEN tok = 'spark'  THEN w END), 0.0)
                   + coalesce(sum(CASE WHEN tok = 'merge'  THEN w END), 0.0)
                   + coalesce(sum(CASE WHEN tok = 'stream' THEN w END), 0.0),
               4) AS score
  FROM w GROUP BY doc_id
)"""

ORACLE_BM25 = f"""{_BM25_SCORE_CTE}
, top AS (
  SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
)
SELECT top.doc_id, d.lang, d.source, top.score
FROM top JOIN documents d ON top.doc_id = d.doc_id
ORDER BY top.score DESC, top.doc_id
"""


_RRF_K = 60       # the standard reciprocal-rank-fusion constant
_RRF_LEG_TOPK = 20
_RRF_TOPK = 10


def _rank_leg(scored: DataFrame, score_col: str, rank_name: str) -> DataFrame:
    """One retrieval leg's (doc_id, rank) table, rank 1.._RRF_LEG_TOPK
    by (score DESC, doc_id) — with NO window function. The top-K is a
    TakeOrderedAndProject (per-partition heaps + driver merge, the
    doc_search_bm25 pattern); ranks are then assigned over the ≤K
    COLLECTED rows, which are returned already in sort order. An
    unpartitioned ``row_number().over(Window.orderBy(...))`` on the
    unbounded scored set would plan as a single-partition WindowExec —
    moving the whole corpus to one task, the scale-killer this shape
    exists to avoid."""
    spark = scored.sparkSession
    rows = (
        scored.orderBy(F.desc(score_col), "doc_id")
        .limit(_RRF_LEG_TOPK)
        .collect()
    )
    id_ddl = scored.schema["doc_id"].dataType.simpleString()
    return spark.createDataFrame(
        [(r["doc_id"], i + 1) for i, r in enumerate(rows)],
        f"doc_id {id_ddl}, {rank_name} int",
    )


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-serving query shape: a lexical BM25
    leg and a dense embedding-cosine leg, fused by reciprocal-rank
    fusion (score = Σ 1/(k + rank), k=60). Rank fusion uses RANKS, not
    raw scores, so the fusion is scale-free and — because both legs'
    rankings are independently hash-checked queries
    (``doc_search_bm25``, ``ann_cosine_topk``) with rounded keys and
    doc_id tiebreaks — engine-exact: each fused score is a fixed-order
    sum of exactly two double reciprocals of small integers.

    Scale shape: each leg is its own bounded top-K — the lexical leg's
    plan is doc_search_bm25's, the dense leg is one scan +
    TakeOrderedAndProject (a per-partition heap + driver merge; NO
    single-partition WindowExec anywhere, at any corpus size) — and
    ranks 1..K are assigned over the ≤K collected rows driver-side,
    the serving-tier pattern (a leg's top-20 IS driver-sized by
    construction). The fusion is a full-outer join of two 20-row
    tables. Docs without an embedding simply never enter the dense leg
    (the realistic contract: only embedded docs participate in dense
    retrieval)."""
    from ..functions.similarity import _query_vector, as_double, cosine

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = F.array(*[F.lit(x) for x in _query_vector(spark, sf_dir)])
    v = as_double(F.col("embedding"))

    lex = _rank_leg(_bm25_scored(spark, sf_dir), "score", "r_lex")
    dense = _rank_leg(
        e.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(v, as_double(q)), 4).alias("cos"),
        ),
        "cos",
        "r_den",
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_den")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            (
                F.col("r_lex").isNotNull().cast("int")
                + F.col("r_den").isNotNull().cast("int")
            ).alias("n_legs"),
        )
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(_RRF_TOPK)


ORACLE_HYBRID_RRF = f"""{_BM25_SCORE_CTE}
, lex AS (
  SELECT doc_id, r AS r_lex FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
    FROM s
  ) WHERE r <= {_RRF_LEG_TOPK}
), qv AS (
  SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0
), cos AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(embedding::DOUBLE[], q)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q, q))), 4) AS c
  FROM embeddings, qv WHERE vec_id != 0
), dense AS (
  SELECT doc_id, r AS r_den FROM (
    SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS r
    FROM cos
  ) WHERE r <= {_RRF_LEG_TOPK}
), fused AS (
  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
         round(coalesce(1.0 / ({_RRF_K} + r_lex), 0.0)
               + coalesce(1.0 / ({_RRF_K} + r_den), 0.0), 6) AS rrf,
         (CASE WHEN r_lex IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN r_den IS NOT NULL THEN 1 ELSE 0 END) AS n_legs
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, rrf, n_legs FROM fused
ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
"""


_INVIDX_TOPK = 25
_INVIDX_POSTINGS = 10


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the engine-native version of what the
    reference outsources to Solr's indexer (06_prepare_db_import →
    create_solr): per-term document frequency plus the head of the
    sorted posting list, for the 25 highest-df terms.

    Scale shape: explode → distinct(term, doc) → ONE groupBy(term);
    posting lists are the groupBy's collect_set, truncated to a bounded
    prefix so no single term materializes an unbounded array (the
    real-index equivalent is posting-block storage). Term skew (stop
    words) is bounded by the same truncation; the df ranking is a
    TakeOrdered, not a global sort."""
    from ..functions.text import tokens

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    td = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    return (
        td.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",",
                F.slice(
                    F.sort_array(F.collect_set("doc_id")), 1, _INVIDX_POSTINGS
                ).cast("array<string>"),
            ).alias("postings_head"),
        )
        .orderBy(F.desc("df"), "tok")
        .limit(_INVIDX_TOPK)
    )


ORACLE_INVIDX = f"""
WITH td AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
  FROM documents
),
idx AS (
  SELECT tok, count(*) AS df,
         array_to_string(
           list_transform(list_sort(list(doc_id))[1:{_INVIDX_POSTINGS}],
                          x -> CAST(x AS VARCHAR)),
           ',') AS postings_head
  FROM td GROUP BY tok
)
SELECT tok, df, postings_head FROM idx
ORDER BY df DESC, tok
LIMIT {_INVIDX_TOPK}
"""


QUERIES = {
    "inverted_index": inverted_index,
    "doc_search_page": doc_search_page,
    "doc_search_facets": doc_search_facets,
    "doc_search_bm25": doc_search_bm25,
    "hybrid_search_rrf": hybrid_search_rrf,
    "autocomplete_parts": autocomplete_parts,
    "edge_page_incoming": edge_page_incoming,
}

ORACLES = {
    "inverted_index": ORACLE_INVIDX,
    "doc_search_page": ORACLE_DOC_SEARCH,
    "doc_search_facets": ORACLE_DOC_FACETS,
    "doc_search_bm25": ORACLE_BM25,
    "hybrid_search_rrf": ORACLE_HYBRID_RRF,
    "autocomplete_parts": ORACLE_AUTOCOMPLETE,
    "edge_page_incoming": ORACLE_EDGE_PAGE,
}
