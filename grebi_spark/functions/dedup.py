"""Deduplication operator family: exact, fingerprint (in text.py),
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

All variants are pure built-in expression pipelines (md5 + array lambdas)
— deterministic across engines, which is what makes them DuckDB-oracle
checkable, and JVM-codegen'd, which is what makes them scale.

Scale design: every variant is *blocked* — candidate pairs come from
joining on a short key (hash band / signature / rare shingle), never from
an all-pairs product. At 100 TB the band join shuffles on the band key and
AQE handles hot bands; the final verification join touches only candidate
pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact, peek
from ..session import load_tables
from .text import tokens

N_MINHASH = 8          # minhash signature length
BAND_ROWS = 2          # rows per LSH band -> N_MINHASH/BAND_ROWS bands
# fixed odd coefficients for the universal hash family (engine-portable
# integer arithmetic; p = 2^31 - 1)
MINHASH_P = 2147483647
MINHASH_A = (1299721, 15485863, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939)
MINHASH_B = (7368787, 9576890, 3628273, 5398891, 8388617, 1299709, 2750159, 4256233)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Overlapping word n-gram shingles (distinct).

    The token array is bound to a lambda variable of an outer
    ``transform`` so the tokenising regexp runs ONCE per row — naively
    referencing ``tokens(text)`` inside the per-position lambda makes
    codegen re-evaluate the regexp for every position (measured 20×
    slower at n=8). Each shingle is a ``slice`` + ``array_join`` over
    the bound array."""

    def shingles_of(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(text)), shingles_of), 1)


def _hash32(col: Column, seed: int) -> Column:
    """Deterministic 32-bit hash via md5 prefix (portable across engines)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10).cast(
        "long"
    )


def minhash_signature(shingles: Column, k: int = N_MINHASH) -> list[Column]:
    """k min-hash values over an in-row shingle array (expression form —
    used for ad-hoc signatures; the dedup query uses the cheaper exploded
    + universal-hash aggregation form)."""
    base = F.transform(shingles, lambda s: _hash32(s, 0))

    def min_hash(i):
        return F.array_min(
            F.transform(
                base,
                lambda h: (h * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P),
            )
        ).alias(f"h{i}")

    return [min_hash(i) for i in range(k)]


# --- harness queries --------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash; keeps min doc_id.
    One shuffle on the md5 key; partial agg map-side."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("kept_doc_id"))
        .orderBy("content_hash")
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS kept_doc_id
FROM documents GROUP BY md5(text) ORDER BY content_hash
"""


SUBSTR_W = 12  # tokens per window (Lee et al. use 50 BPE tokens; the
               # synthetic docs are short, so a 12-word window)


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (the Lee et al. 'Deduplicating Training
    Data' shape): find every SUBSTR_W-token window that occurs in ≥2
    distinct documents, and report per-document how many of its distinct
    windows are duplicated corpus-wide.

    Scale shape: windows explode to ~|tokens| rows per doc, keyed by
    md5(window) — a 32-char key regardless of window width, so the
    distinct + group shuffles stay narrow (md5 rather than xxhash64 only
    because the oracle must reproduce the key exactly; at 100 TB swap in
    xxhash64 for an 8-byte key). One distinct on (doc, key), one count
    per key, one semi-join-shaped count back per doc — never all-pairs.
    The token bind trick from word_shingles applies: tokenize once per
    row, not once per window position."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]

    def windows_of(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= SUBSTR_W,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (SUBSTR_W - 1)),
                lambda i: F.md5(F.array_join(F.slice(toks, i, SUBSTR_W), " ")),
            ),
        ).otherwise(F.array().cast("array<string>"))

    wins = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.element_at(
                        F.transform(F.array(tokens(F.col("text"))), windows_of), 1
                    )
                )
            ).alias("w"),
        )
        # no .distinct(): (doc_id, w) is already unique — windows are
        # array_distinct'd WITHIN each doc before the explode, and doc_id
        # differs across docs, so the old distinct was a full extra
        # Exchange + dedup pass over the widest frame for nothing
        # (guide §2.4: a distinct on data that is already unique)
        .persist()  # feeds both the per-window count and the per-doc rollup
    )
    shared = (
        wins.groupBy("w")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return (
        wins.join(shared, "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_windows"))
        .orderBy("doc_id")
    )


ORACLE_DEDUP_SUBSTRING = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
), wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(t[i:i+{SUBSTR_W - 1}], ' ')) AS w
  FROM toks, unnest(range(1, len(t) - {SUBSTR_W} + 2)) AS u(i)
  WHERE len(t) >= {SUBSTR_W}
), shared AS (
  SELECT w FROM wins GROUP BY w HAVING count(*) >= 2
)
SELECT doc_id, count(*) AS n_dup_windows
FROM wins JOIN shared USING (w)
GROUP BY doc_id ORDER BY doc_id
"""


# The candidate-pair table is a pipeline ARTIFACT: the pair report and
# the clustering stage both consume it, exactly once each — a real dedup
# pipeline materializes pairs once, it never re-shingles the corpus per
# consumer. Cached per (session, sf_dir); localCheckpoint so it survives
# catalog.clearCache() like an on-disk stage output would.
@artifact
def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, bands = _lsh_pairs_plan(spark, sf_dir)
    pairs = pairs.localCheckpoint()
    bands.unpersist()
    return pairs


def _band_table(d: DataFrame) -> DataFrame:
    """doc_id → (band, bkey) LSH posting rows for any documents frame:
    one pass — explode shingles, aggregate all k minhashes together —
    so tokenisation and hashing happen exactly once per shingle; the
    signature build is a single shuffle on doc_id.

    The documents file arrives as a single input split; the shingle
    expansion is CPU-bound, so spread it across cores first.
    Partitioning by doc_id also makes the signature aggregation
    shuffle-free."""
    par = d.sparkSession.sparkContext.defaultParallelism
    shingle_rows = d.repartition(par, "doc_id").select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    )
    # universal-hash family: one md5 per shingle, k affine transforms
    # h_i = (a_i·h + b_i) mod p — 8× cheaper than k independent md5s
    base = _hash32(F.col("sh"), 0)
    sig = shingle_rows.select("doc_id", base.alias("hb")).groupBy("doc_id").agg(
        *[
            F.min((F.col("hb") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(f"h{i}")
            for i in range(N_MINHASH)
        ]
    )
    # band keys via explode — the signature is computed once, not per band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * BAND_ROWS + r}").cast("string")
                            for r in range(BAND_ROWS)
                        ],
                    )
                ).alias("bkey"),
            )
            for b in range(N_MINHASH // BAND_ROWS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def _lsh_pairs_plan(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The un-materialized candidate-pair plan (exposed separately so the
    plan-quality gate can inspect the join strategy underneath the
    checkpoint barrier). Returns (pairs, bands-persist-handle)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bands = (
        _band_table(d)
        # both sides of the self-join read this — persist or the whole
        # signature pipeline executes twice (band table is tiny: 4 rows/doc)
        .persist()
    )
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    pairs = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return pairs, bands


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup candidates.

    shingle (word 3-grams) → 8 minhashes → 4 bands of 2 → join docs
    sharing any band key → distinct (doc_a < doc_b) pairs. Collision
    probability per band ≈ J², so only genuinely similar docs surface.
    """
    return _lsh_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


PROBE_JACC_PCT = 50


@artifact
def _probe_index_root(spark: SparkSession, sf_dir: str) -> str:
    """The STORED corpus-side LSH index, built once per session: the
    (band, bkey, doc_id) posting table written to Parquet — the durable
    artifact an always-on dedup service maintains between batches. At
    100 TB this table is bucketed by (band, bkey) and grows by appends;
    arriving batches never re-shingle the corpus, only read this."""
    import tempfile

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    root = tempfile.mkdtemp(prefix="grebi_lsh_index_")
    _band_table(corpus).write.mode("overwrite").parquet(root)
    return root


@artifact
def _probe_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The probe's two pinned delta-sized intermediates — the LSH
    candidate pairs (localCheckpoint: referenced by the id set AND the
    verify join, pin or the band pipeline executes twice) and the
    candidate-doc shingle explosion (persist: three consumers — both
    verify sides + the size aggregate). Cached per (session, sf_dir)
    like ``_lsh_pairs`` / graph_analytics._ranked_adjacency: repeated
    timed invocations (bench/soak run each query many times) must reuse
    ONE persisted copy instead of stacking a fresh persist +
    checkpoint's blocks in executor storage per run."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    stored = spark.read.parquet(_probe_index_root(spark, sf_dir))
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    cand = (
        stored.join(
            F.broadcast(
                _band_table(batch).select(
                    F.col("doc_id").alias("new_doc"), "band", "bkey"
                )
            ),
            ["band", "bkey"],
        )
        .select("new_doc", F.col("doc_id").alias("dup_of"))
        .distinct()
        .localCheckpoint()
    )
    # exact-verify side: shingle only the candidate documents
    ids = (
        cand.select(F.col("new_doc").alias("doc_id"))
        .union(cand.select("dup_of"))
        .distinct()
    )
    need = docs.join(F.broadcast(ids), "doc_id")
    sh = need.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("s")
    ).persist()
    return cand, sh


def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the continuous-ingest twin of
    ``dedup_minhash_lsh``: an arriving batch (docs with doc_id % 5 = 0)
    is checked against the ALREADY-INDEXED corpus (the stored LSH
    posting table, ``_probe_index_root``) without re-shingling or
    re-hashing a single corpus document. The batch computes its OWN
    band keys (delta-sized), BROADCASTS them against the stored index
    scan (plan-gated: the corpus side is never shuffled), and LSH
    candidates are verified with exact shingle Jaccard over just the
    candidate documents — coarse-filter/exact-verify, the same split as
    every blocked operator here. Emits (new_doc, dup_of, jacc_pct ≥
    50) — the kill list a training-data pipeline applies to each crawl
    increment. The corpus-side work per batch is one stored-index scan;
    at 100 TB with a (band,bkey)-bucketed index it is a bucket-pruned
    lookup, while the reference-shape alternative (re-run full dedup on
    corpus+batch) re-pays the whole corpus every time."""
    cand, sh = _probe_artifacts(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("new_doc"), "s"), "new_doc")
        .join(sh.select(F.col("doc_id").alias("dup_of"), "s"), ["dup_of", "s"])
        .groupBy("new_doc", "dup_of")
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("na")),
            "new_doc",
        )
        .join(
            sizes.select(F.col("doc_id").alias("dup_of"), F.col("n").alias("nb")),
            "dup_of",
        )
        .select(
            "new_doc",
            "dup_of",
            F.expr("ni * 100 DIV (na + nb - ni)").alias("jacc_pct"),
        )
        .filter(F.col("jacc_pct") >= PROBE_JACC_PCT)
        .orderBy("new_doc", "dup_of")
    )


def _oracle_incremental_probe() -> str:
    return (
        _minhash_bands_cte()
        + f"""
, cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS dup_of
  FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
  WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
), ss AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), sizes AS (
  SELECT doc_id, len(sh) AS n FROM shingled
), inter AS (
  SELECT cand.new_doc, cand.dup_of, count(*) AS ni
  FROM cand JOIN ss a ON a.doc_id = cand.new_doc
            JOIN ss b ON b.doc_id = cand.dup_of AND b.s = a.s
  GROUP BY 1, 2
)
SELECT i.new_doc, i.dup_of,
       (i.ni * 100) // (x.n + y.n - i.ni) AS jacc_pct
FROM inter i JOIN sizes x ON x.doc_id = i.new_doc
             JOIN sizes y ON y.doc_id = i.dup_of
WHERE (i.ni * 100) // (x.n + y.n - i.ni) >= {PROBE_JACC_PCT}
ORDER BY new_doc, dup_of
"""
    )


def _minhash_bands_cte(with_kw: str = "WITH") -> str:
    """The shared CTE chain documents → shingles → signatures → band keys
    (used by the pair oracle and the clustering oracle)."""
    minhashes = ",\n         ".join(
        "list_min(list_transform(sh, s -> (('0x' || substr(md5('0:' || s), 1, 8))::bigint * {a} + {b}) % {p})) AS h{i}".format(
            i=i, a=MINHASH_A[i], b=MINHASH_B[i], p=MINHASH_P
        )
        for i in range(N_MINHASH)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(h{h0}::varchar || ',' || h{h1}::varchar) AS bkey FROM sig".format(
            b=b, h0=b * BAND_ROWS, h1=b * BAND_ROWS + 1
        )
        for b in range(N_MINHASH // BAND_ROWS)
    )
    return f"""
{with_kw} toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [] END AS sh
  FROM toks
), sig AS (
  SELECT doc_id,
         {minhashes}
  FROM shingled WHERE len(sh) > 0
), bands AS (
  {band_rows}
)"""


def _oracle_minhash() -> str:
    return (
        _minhash_bands_cte()
        + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
WHERE a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over the distinct token set: bit j is the sign of
    Σ_tokens (±1 by bit j of md5(token)). Docs sharing a signature are
    near-dup candidates."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    par = spark.sparkContext.defaultParallelism
    # hash once per exploded token — 16 per-bit aggregates each naming
    # F.md5 would run the digest 16x per row (measured ~4x slower)
    toks = (
        d.repartition(par, "doc_id")
        .select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
        )
        .select("doc_id", F.md5("tok").alias("h"))
    )
    nib = [
        F.when(
            F.conv(F.substring(F.col("h"), j + 1, 1), 16, 10).cast("int") >= 8, 1
        ).otherwise(-1)
        for j in range(16)
    ]
    sums = toks.groupBy("doc_id").agg(
        *[F.sum(nib[j]).alias(f"b{j}") for j in range(16)]
    )
    sig = sums.select(
        "doc_id",
        sum(
            [F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)],
            F.lit(0),
        ).cast("int").alias("simhash"),
    )
    counts = sig.groupBy("simhash").agg(F.count("*").alias("n_same"))
    return (
        sig.join(counts, "simhash")
        .select("doc_id", "simhash", "n_same")
        .orderBy("doc_id")
    )


def _oracle_simhash() -> str:
    bitsums = ",\n         ".join(
        "sum(CASE WHEN ('0x' || substr(md5(tok), {p}, 1))::int >= 8 THEN 1 ELSE -1 END) AS b{j}".format(
            p=j + 1, j=j
        )
        for j in range(16)
    )
    sigexpr = " + ".join(
        "(CASE WHEN b{j} >= 0 THEN {v} ELSE 0 END)".format(j=j, v=1 << j) for j in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '\\S+'))) AS tok
  FROM documents
), sums AS (
  SELECT doc_id,
         {bitsums}
  FROM toks GROUP BY doc_id
), sig AS (
  SELECT doc_id, ({sigexpr})::int AS simhash FROM sums
), counts AS (
  SELECT simhash, count(*) AS n_same FROM sig GROUP BY simhash
)
SELECT s.doc_id, s.simhash, c.n_same
FROM sig s JOIN counts c ON s.simhash = c.simhash
ORDER BY s.doc_id
"""


JACCARD_T = 0.5  # similarity threshold for the exact n-gram dedup

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup over the FULL table via prefix filtering
    (the AllPairs candidate bound, Bayardo et al., WWW'07).

    Order each doc's shingles rarest-first (global document frequency,
    ties by shingle); a pair with J ≥ t must collide inside the first
    ``n - ceil(t·n) + 1`` shingles of both docs, so only that prefix feeds
    the blocking self-join. A length filter (J ≥ 0.5 forces sizes within
    2×) prunes further. Verification computes true Jaccard from
    ``array_intersect`` on the candidate pairs only. The blocking is
    exact-complete — the result is identical to all-pairs, which is what
    the (naively-blocked) DuckDB oracle checks end-to-end.

    Scale shape: one shuffle to rank shingles per doc, one join on the
    (rare) prefix shingles — collision lists are short because prefixes
    hold the lowest-df shingles — and a candidate-sized verify join. No
    stage is quadratic in the corpus.
    """
    return _jaccard_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# exact-pair table cached per (session, sf_dir) — shared by the dedup
# query and the LSH-evaluation harness (dedup_eval_metrics), the same
# stage-artifact contract as _lsh_pairs
@artifact
def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs_plan(spark, sf_dir).localCheckpoint()


def _jaccard_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY exact-pair pipeline (blocking + verify) — split out so
    plan gates can inspect the persisted-reuse shape before the
    checkpoint barrier hides it."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    par = spark.sparkContext.defaultParallelism
    sh = d.repartition(par, "doc_id").select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
    ).persist()  # feeds df counts, ranking, and the verify arrays
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    by_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(df, "sh")
        .withColumn("rn", F.row_number().over(by_doc.orderBy("df", "sh")))
        .withColumn("n_sh", F.count("*").over(by_doc))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(JACCARD_T) * F.col("n_sh")) + 1
    ).select("doc_id", "sh", "n_sh").persist()  # both sides of the blocking self-join
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") <= 2 * F.col("b.n_sh"))
            & (F.col("b.n_sh") <= 2 * F.col("a.n_sh")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_ = sh.groupBy("doc_id").agg(
        F.collect_set("sh").alias("shs"), F.count("*").alias("n_sh")
    ).persist()  # joined once per pair side

    va = sets_.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("sha"), F.col("n_sh").alias("na")
    )
    vb = sets_.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("shb"), F.col("n_sh").alias("nb")
    )
    shared = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn(
            "jaccard", F.round(shared / (F.col("na") + F.col("nb") - shared), 4)
        )
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


# The oracle blocks naively (any shared shingle) — fine at oracle scale —
# so oracle parity doubles as the proof that prefix filtering dropped no
# qualifying pair.
ORACLE_NGRAM_JACCARD = """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= 3
         THEN list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         ELSE [] END) AS sh
  FROM docs
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) >= 0.5
ORDER BY doc_a, doc_b
"""


CONTAIN_T = 0.8  # containment threshold: |A∩B| / |A|


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle CONTAINMENT dedup: ordered pairs (a, b) where at
    least ``CONTAIN_T`` of a's shingle set also appears in b — the
    asymmetric near-dup relation (quote inclusion, subset/superset
    documents, boilerplate wrapping) that symmetric Jaccard structurally
    misses: a 10-shingle doc fully quoted inside a 1000-shingle doc has
    C(a→b) = 1.0 but J ≈ 0.01.

    Blocking is the ONE-SIDED prefix filter: order a's shingles
    rarest-first (global df, ties by shingle); if C(a→b) ≥ t then
    |A∩B| ≥ ⌈t·|A|⌉, so B must hit at least one of a's first
    ``n - ⌈t·n⌉ + 1`` shingles — the contained side prunes to that
    prefix while the containing side streams in FULL (no length filter
    can apply: b may be arbitrarily larger). Exact-complete, proven by
    the naively-blocked oracle.

    Scale shape: one shuffle to df-rank shingles, one prefix⋈stream
    join whose collision lists stay short because prefixes hold the
    lowest-df shingles, and a candidate-sized verify join on the
    collected shingle sets. Nothing quadratic in the corpus."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    par = spark.sparkContext.defaultParallelism
    sh = (
        d.repartition(par, "doc_id")
        .select("doc_id", F.explode(word_shingles(F.col("text"))).alias("sh"))
        .persist()
    )
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    by_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(df, "sh")
        .withColumn("rn", F.row_number().over(by_doc.orderBy("df", "sh")))
        .withColumn("n_sh", F.count("*").over(by_doc))
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_sh") - F.ceil(F.lit(CONTAIN_T) * F.col("n_sh")) + 1
    ).select("doc_id", "sh")
    cand = (
        prefix.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_ = sh.groupBy("doc_id").agg(
        F.collect_set("sh").alias("shs"), F.count("*").alias("n_sh")
    )
    va = sets_.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("sha"), F.col("n_sh").alias("na")
    )
    vb = sets_.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shb"))
    shared = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("containment", F.round(shared / F.col("na"), 4))
        .filter(F.col("containment") >= CONTAIN_T)
        .select("doc_a", "doc_b", "containment")
        .orderBy("doc_a", "doc_b")
    )


# Naive shared-shingle blocking at oracle scale; parity proves the
# one-sided prefix filter dropped no qualifying ordered pair.
ORACLE_CONTAINMENT = """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= 3
         THEN list_distinct(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         ELSE [] END) AS sh
  FROM docs
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared * 1.0 / sa.n_sh, 4) AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
WHERE round(shared * 1.0 / sa.n_sh, 4) >= 0.8
ORDER BY doc_a, doc_b
"""


COSINE_T = 0.95        # cosine threshold for embedding near-dup
SRP_PLANES = 128       # signed-random-projection bits
SRP_BANDS = 8          # bands of SRP_PLANES/SRP_BANDS bits each
SRP_DIM = 64           # embedding dimensionality of the documents corpus


def srp_matrix(n_planes: int = SRP_PLANES, dim: int = SRP_DIM) -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes from md5 — identical
    constants are baked into the Spark expressions and the oracle SQL, so
    both engines compute the same buckets."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p}:{j}".encode()).digest()[0] >= 128 else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


PLANT_OFFSET = 1_000_000  # vec_id offset for the planted perturbed copies


def planted_vectors(e: DataFrame) -> DataFrame:
    """The corpus ∪ one perturbed copy per vector (dim 1 scaled 1.5×,
    cosine ≈ 0.999 to its original, id + PLANT_OFFSET). The synthetic
    embeddings have no natural near-dups (max pairwise cosine ≈ 0.6), so
    the planted pairs are the known-answer the dedup must recover."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", vec.alias("v"))
    perturbed = e.select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at(vec, 1) * 1.5), F.slice(vec, 2, SRP_DIM - 1)
        ).alias("v"),
    )
    return base.unionAll(perturbed)


def _srp_band_keys_udf():
    """Arrow-batched band-key computation: ONE NumPy matmul against the
    whole ±1 plane matrix per batch, then bit-packing per band. The
    interpreted higher-order-function alternative (zip_with+aggregate per
    plane) evaluates a Python-free but non-codegen lambda per element —
    measured ~50× slower at 128 planes. float64 throughout, so the sign
    of each dot matches the oracle's sequential double sum (planes are
    exact ±1; a flip would need |dot| at the 1e-15 scale)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_t = np.array(srp_matrix(), dtype=np.float64).T  # dim × planes
    rows_per_band = SRP_PLANES // SRP_BANDS
    weights = (1 << np.arange(rows_per_band)).astype(np.int64)

    @pandas_udf("array<int>")
    def band_keys(embs: pd.Series) -> pd.Series:
        v = np.vstack([np.asarray(x, dtype=np.float64) for x in embs])
        bits = (v @ planes_t) >= 0  # n × SRP_PLANES
        keys = bits.reshape(len(v), SRP_BANDS, rows_per_band) @ weights
        return pd.Series([k.astype(np.int32).tolist() for k in keys])

    return band_keys


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over the FULL table: banded SRP-LSH blocking +
    exact cosine verification (pairs with cosine ≥ 0.95).

    Each vector gets 128 sign bits against fixed ±1 hyperplanes; the
    bits form 8 band keys of 16 bits. Vectors sharing any band key
    become a candidate pair, and candidates get the exact cosine. For a
    planted pair at cosine ≈ 0.999 the any-band collision probability is
    1-(1-0.9859^16)^8 ≈ 1-3e-6; for unrelated vectors (cosine ≲ 0.6) a
    16-bit band key collides at ~2^-16 per band, so candidate volume
    stays ~linear in the corpus. One shuffle on the band key, never an
    all-pairs product — at 100 TB the band join shuffles 8 rows per
    vector and AQE splits hot buckets. The bits come from one
    Arrow-batched NumPy matmul (`_srp_band_keys_udf`), the documented
    fast path for embedding-wide arithmetic.

    The input is the corpus plus planted near-dup copies (see
    ``planted_vectors``) so the expected output is a known non-empty set:
    exactly one pair per original vector, nothing else.
    """
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    par = spark.sparkContext.defaultParallelism
    e2 = planted_vectors(e).repartition(par, "vec_id").persist()
    bands = (
        e2.select("vec_id", F.posexplode(_srp_band_keys_udf()(F.col("v"))).alias("band", "bkey"))
        .persist()  # both sides of the self-join
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = e2.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = e2.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.sqrt(dot(F.col("va"), F.col("va"))) * F.sqrt(dot(F.col("vb"), F.col("vb")))),
                4,
            ),
        )
        .filter(F.col("cosine") >= COSINE_T)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def _oracle_embedding_cosine() -> str:
    planes = srp_matrix()
    rows_per_band = SRP_PLANES // SRP_BANDS

    def arr(p):
        return "[" + ", ".join(str(c) for c in planes[p]) + "]"

    bit = [
        f"(CASE WHEN list_dot_product(v, {arr(p)}) >= 0 THEN 1 ELSE 0 END)"
        for p in range(SRP_PLANES)
    ]
    band_selects = "\n  UNION ALL ".join(
        "SELECT vec_id, {b} AS band, ({key})::int AS bkey FROM v".format(
            b=b,
            key=" + ".join(
                f"{bit[b * rows_per_band + r]} * {1 << r}" for r in range(rows_per_band)
            ),
        )
        for b in range(SRP_BANDS)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET},
         [embedding[1]::DOUBLE * 1.5] || (embedding::DOUBLE[])[2:]
  FROM embeddings
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_dot_product(va.v, vb.v)
             / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 4) AS cosine
FROM cand
JOIN v va ON va.vec_id = vec_a
JOIN v vb ON vb.vec_id = vec_b
WHERE round(list_dot_product(va.v, vb.v)
      / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 4) >= {COSINE_T}
ORDER BY vec_a, vec_b
"""


# The CC labelling over the LSH candidate pairs is itself a pipeline
# ARTIFACT: dedup_clusters and dedup_keep_best consume the SAME
# clustering (one elects min-id canonicals, the other quality-aware
# keeps) — a real pipeline materializes clusters once, it never re-runs
# the component loop per consumer (guide §1.2; the same contract as
# _lsh_pairs above). localCheckpoint so it survives the bench's
# per-query clearCache() like an on-disk stage output would.
def lsh_components_cached(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The session-scoped CC-labelling artifact, or None when it has not
    been built yet — the observable accessor tests use to assert the
    labelling is shared, instead of reaching into the private memo and
    reconstructing its key format (r9 ADVICE)."""
    return peek(_lsh_components, spark, sf_dir)


@artifact
def _lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.groups import connected_components

    edges = _lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").cast("string").alias("src"),
        F.col("doc_b").cast("string").alias("dst"),
    )
    return connected_components(edges).localCheckpoint()


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    candidate pairs — the same distributed label-propagation operator the
    graph pipeline uses for identifier equivalence (N3), here closing the
    dedup loop: pairs → clusters → one canonical (min) doc per cluster.

    Output: one row per cluster of ≥2 docs — canonical doc, size, member
    list. Singleton docs (no candidate pair) are implicitly their own
    cluster and omitted. Scale shape: the pair set is LSH-blocked (never
    quadratic) and the component loop converges in O(cluster diameter)
    rounds, each one shuffle."""
    cc = _lsh_components(spark, sf_dir)
    doc = F.col("id").cast("int")
    return (
        cc.groupBy("component")
        .agg(
            F.min(doc).alias("cluster_id"),
            F.count("*").alias("n_members"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(doc)), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
        .select("cluster_id", "n_members", "members")
        .orderBy("cluster_id")
    )


def _oracle_clusters() -> str:
    # WITH RECURSIVE prefixes the whole chain; the reachability fixpoint
    # mirrors the label propagation (components agree even though the
    # Spark side elects min-by-string and this elects min-by-int — the
    # GROUP BY is on the component, not its representative)
    return (
        _minhash_bands_cte("WITH RECURSIVE")
        + """
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
), sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), vertices AS (
  SELECT DISTINCT src AS v FROM sym
), reach AS (
  SELECT v, v AS r FROM vertices
  UNION
  SELECT reach.v, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src
), comp AS (
  SELECT v AS id, min(r) AS component FROM reach GROUP BY v
)
SELECT min(id) AS cluster_id, count(*) AS n_members,
       array_to_string(list_sort(list(id)), ',') AS members
FROM comp GROUP BY component ORDER BY cluster_id
"""
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative election — the selection rule real
    curation pipelines (Gopher / FineWeb-style) apply AFTER near-dup
    clustering: within each MinHash-LSH cluster keep the HIGHEST-QUALITY
    member (ties broken by lowest doc_id), drop the rest. Complements
    ``dedup_clusters`` (same components, min-id canonical): min-id is
    the arbitrary-but-stable choice; this one is the content-aware
    choice a training corpus actually wants. Output per ≥2-doc cluster:
    canonical cluster_id (min doc), size, the kept doc + its quality
    score, and the dropped members.

    Scale shape: reuses the materialized LSH pair artifact and the CC
    operator (no re-shingle, never all-pairs); the election is one
    partial-agg shuffle on component — the argmax is a struct-max
    (q, -doc), engine-exact because q is rounded to 4dp first and ties
    resolve on the integer doc."""
    from .text import quality_score

    cc = _lsh_components(spark, sf_dir).select(
        F.col("id").cast("int").alias("doc"), "component"
    )
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    dq = d.select(
        F.col("doc_id").cast("int").alias("doc"),
        F.round(quality_score(F.col("text")), 4).alias("q"),
    )
    best = F.max(
        F.struct(
            F.col("q").alias("q"),
            (-F.col("doc")).alias("nd"),
            F.col("doc").alias("doc"),
        )
    )
    return (
        cc.join(dq, "doc")
        .groupBy("component")
        .agg(
            F.min("doc").alias("cluster_id"),
            F.count("*").alias("n_members"),
            best.alias("best"),
            F.array_sort(F.collect_list("doc")).alias("docs"),
        )
        .select(
            "cluster_id",
            "n_members",
            F.col("best.doc").alias("kept_doc"),
            F.col("best.q").alias("kept_q"),
            F.array_join(
                F.transform(
                    F.array_remove(F.col("docs"), F.col("best.doc")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("dropped"),
        )
        .orderBy("cluster_id")
    )


def _oracle_keep_best() -> str:
    # same reachability fixpoint as _oracle_clusters, then the quality
    # formula from ORACLE_TEXT_QUALITY per doc and a rank-1 election
    # (q DESC, id) per component — mirroring the Spark struct-argmax
    return (
        _minhash_bands_cte("WITH RECURSIVE")
        + """
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
), sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), vertices AS (
  SELECT DISTINCT src AS v FROM sym
), reach AS (
  SELECT v, v AS r FROM vertices
  UNION
  SELECT reach.v, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src
), comp AS (
  SELECT v AS id, min(r) AS component FROM reach GROUP BY v
), feat AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '\\S+') AS t,
         text
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
       + (CASE WHEN length(text) = 0
               OR length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) * 1.0 / length(text) <= 0.1
               THEN 0.25 ELSE 0.0 END), 4)::DOUBLE AS q
  FROM feat
), ranked AS (
  SELECT comp.id, comp.component, q.q,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY q.q DESC, comp.id) AS rn
  FROM comp JOIN q ON comp.id = q.doc_id
)
SELECT min(id) AS cluster_id,
       count(*) AS n_members,
       min(CASE WHEN rn = 1 THEN id END) AS kept_doc,
       min(CASE WHEN rn = 1 THEN q END) AS kept_q,
       array_to_string(list_sort(list(id) FILTER (WHERE rn > 1)), ',') AS dropped
FROM ranked GROUP BY component ORDER BY cluster_id
"""
    )


# --- cross-corpus decontamination -------------------------------------------

DECON_NGRAM = 8  # the GPT-3/PaLM-style 8-gram contamination rule
DECON_EVAL_MOD = 50  # synthetic "held-out benchmark": every 50th doc


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag training documents that share
    any word 8-gram with a held-out evaluation corpus (here the synthetic
    eval set is every 50th document).

    Scale shape: the eval corpus is benchmarks — thousands of documents
    against 100 TB of training text — so its distinct shingle set is
    broadcast and the 100 TB side streams through a broadcast hash join
    with zero shuffle of the big side. If the eval set ever outgrows the
    broadcast threshold, AQE degrades this to a shuffle join on the
    shingle key instead of failing. The training side's shingle explode
    is a narrow map; the per-doc rollup is the only shuffle.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("sh")
    )
    is_eval = (F.col("doc_id") % DECON_EVAL_MOD) == 0
    eval_sh = (
        sh.filter(is_eval)
        .select(F.col("doc_id").alias("eval_doc_id"), "sh")
    )
    return (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_ngrams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


def _oracle_decontaminate() -> str:
    n = DECON_NGRAM
    terms = " || ' ' || ".join([f"t[i+{j}]" for j in range(n)])
    return f"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= {n}
         THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
              i -> {terms}))
         ELSE [] END) AS sh
  FROM docs
)
SELECT tr.doc_id,
       count(DISTINCT tr.sh) AS n_shared_ngrams,
       count(DISTINCT ev.doc_id) AS n_eval_docs
FROM sh tr
JOIN sh ev ON tr.sh = ev.sh
WHERE tr.doc_id % {DECON_EVAL_MOD} <> 0 AND ev.doc_id % {DECON_EVAL_MOD} = 0
GROUP BY tr.doc_id
ORDER BY tr.doc_id
"""


# --- fuzzy string-match join (edit distance with q-gram prefix blocking) ----

_FUZZY_PREFIX_LEN = 24  # the compared "title": first 24 chars of each doc
_FUZZY_MAX_ED = 3
_FUZZY_Q = 4  # positional 4-grams
# Ed-Join prefix principle (Xiao/Wang/Lin): ed(s,t) <= d disturbs at most
# q*d of either side's positional q-grams, and every undisturbed gram
# shifts by at most d positions. So under ANY global q-gram total order
# the first q*d+1 positional grams of the two strings must share a gram
# whose positions differ by <= d. Blocking on (prefix gram equality,
# |Δpos| <= d) is therefore complete whenever a title has > q*d
# positional grams (the >= 16-char filter guarantees it; the unblocked
# oracle proves it per-run).
_FUZZY_PREFIX_GRAMS = _FUZZY_Q * _FUZZY_MAX_ED + 1


def fuzzy_title_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-match join: document pairs whose 24-char title
    prefixes are within Levenshtein distance 3 — the record-linkage /
    near-duplicate-title shape (the reference's equivalence grouping
    only links on EXACT identifier equality; this is the approximate
    upgrade for dirty identifiers).

    Scale shape: candidates come from an equi-join on the df-rarest
    positional prefix 4-grams with the Ed-Join positional refinement
    (|Δpos| <= d as a join residual — a repeated word at a far offset
    never makes a candidate), then one Levenshtein verify per survivor.
    Never all-pairs: the O(n^2) edit-distance matrix becomes
    |candidates| verifications, and rarest-first prefix ordering keeps
    stop-grams out of the blocking keys. The same machinery as
    dedup_ngram_jaccard's AllPairs blocking, specialised to edit
    distance."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    titles = docs.select(
        "doc_id",
        F.lower(F.substring("text", 1, _FUZZY_PREFIX_LEN)).alias("t"),
    ).filter(F.length("t") >= 16)
    tg = titles.select(
        "doc_id",
        "t",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, char_length(t) - {_FUZZY_Q - 1}),"
                f" i -> substring(t, i, {_FUZZY_Q}))"
            )
        ).alias("pos", "g"),
    )
    gdf = tg.groupBy("g").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    ranked = (
        tg.join(gdf, "g")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "g", "pos")
            ),
        )
        .filter(F.col("rk") <= _FUZZY_PREFIX_GRAMS)
        .select("doc_id", "t", "g", "pos")
        .persist()  # both sides of the candidate self-join read this
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"), "g",
        F.col("pos").alias("pa"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"), "g",
        F.col("pos").alias("pb"),
    )
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("pa") - F.col("pb")) <= _FUZZY_MAX_ED)
        )
        .select("doc_a", "doc_b", "ta", "tb")
        .distinct()
    )
    out = (
        cand.withColumn("lev", F.levenshtein("ta", "tb"))
        .filter(F.col("lev") <= _FUZZY_MAX_ED)
        .select("doc_a", "doc_b", F.col("lev").cast("int").alias("lev"))
        .orderBy("doc_a", "doc_b")
    )
    return out


ORACLE_FUZZY = f"""
WITH t AS (
  SELECT doc_id, lower(substr(text, 1, {_FUZZY_PREFIX_LEN})) AS t
  FROM documents
  WHERE length(lower(substr(text, 1, {_FUZZY_PREFIX_LEN}))) >= 16
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.t, b.t)::int AS lev
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.t, b.t) <= {_FUZZY_MAX_ED}
ORDER BY doc_a, doc_b
"""


# --- boilerplate / template-span detection --------------------------------

BP_NGRAM = 5       # span length in words
BP_MIN_DOCS = 3    # a span in >= this many distinct docs is boilerplate


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span detection — the template-removal signal every
    web-scale corpus pipeline computes before training (headers, nav
    bars, licence blurbs repeat verbatim across documents): per source,
    what fraction of the corpus' distinct word 5-gram spans are
    corpus-repeated (present in >= BP_MIN_DOCS distinct documents), and
    how many documents are majority-boilerplate.

    Scale shape: shingles are distinct-per-doc by construction, so the
    span document-frequency is a plain count(*) after ONE shuffle on the
    span key; the per-doc rollup re-uses the exploded frame through a
    self-equi-join on that same key (co-partitioned — AQE plans no
    second exchange of the big side), then two cheap rollups (doc,
    source). Never all-pairs, no Python. The final rate is a single
    IEEE division of two exact integers — bit-identical on any engine
    (the same portability contract as the graph fixed-point queries).

    Reference tie-in: the merge stage's dedup key (key, value,
    datasource) removes only EXACT whole-value repeats
    (03_merge/grebi_merge/src/main.rs:280-282); this is the sub-document
    upgrade of that semantics for free text.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = d.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("text"), BP_NGRAM)).alias("sh"),
    )
    # NOT persisted, deliberately (r9 A/B): the plan runs the shingle
    # Generate twice (df side + join side), but caching the exploded
    # spans measured SLOWER (warm 2.2 s -> 3.6-5.0 s) — the columnar
    # cache build of ~500k span strings costs more than re-running the
    # explode across 32 cores. Recompute wins; guide §5 ("caching is
    # only worth it when recomputing is more expensive").
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(df, "sh")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("df") >= BP_MIN_DOCS).cast("long")).alias("n_boiler"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("n_boiler") * 2 >= F.col("n_grams")).cast("long")
            ).alias("n_flagged"),
            F.sum("n_boiler").alias("sum_boiler"),
            F.sum("n_grams").alias("sum_grams"),
        )
        .withColumn(
            "boiler_rate",
            F.round(F.col("sum_boiler") / F.col("sum_grams"), 6),
        )
        .orderBy("source")
    )


def _oracle_boilerplate() -> str:
    n = BP_NGRAM
    terms = " || ' ' || ".join([f"t[i+{j}]" for j in range(n)])
    return f"""
WITH docs AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, source, unnest(
    CASE WHEN len(t) >= {n}
         THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
              i -> {terms}))
         ELSE [] END) AS sh
  FROM docs
), df AS (
  SELECT sh, count(*) AS df FROM sh GROUP BY sh
), per_doc AS (
  SELECT s.doc_id, s.source,
         count(*) AS n_grams,
         sum(CASE WHEN d.df >= {BP_MIN_DOCS} THEN 1 ELSE 0 END) AS n_boiler
  FROM sh s JOIN df d ON s.sh = d.sh
  GROUP BY s.doc_id, s.source
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_boiler * 2 >= n_grams THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(n_boiler) AS BIGINT) AS sum_boiler,
       CAST(sum(n_grams) AS BIGINT) AS sum_grams,
       round(CAST(sum(n_boiler) AS DOUBLE) / CAST(sum(n_grams) AS DOUBLE), 6)
         AS boiler_rate
FROM per_doc GROUP BY source ORDER BY source
"""


# --- dedup evaluation harness -----------------------------------------------


def dedup_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline EVALUATION — measure the approximate dedup before
    trusting it (the check every production pipeline runs when it swaps
    exact near-dup for LSH): MinHash-LSH candidate pairs scored against
    the exact n-gram-Jaccard truth at t=0.5. Reports truth size,
    candidate count, true positives, misses, and recall/precision —
    recall is what data quality lives on (a missed duplicate trains
    twice); precision only prices the verify stage.

    Both legs are shared stage artifacts (_lsh_pairs, _jaccard_pairs) —
    the harness reads what the dedup queries built, it never recomputes
    the pipelines. The comparison itself is one full-outer equi-join on
    the pair key plus a 1-row rollup. Ratios are single IEEE divisions
    of exact integers, rounded for display.
    """
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    pred = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("p")
    )
    j = truth.join(pred, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum("t").cast("long").alias("n_truth"),
        F.sum("p").cast("long").alias("n_candidates"),
        F.sum(
            (F.col("t").isNotNull() & F.col("p").isNotNull()).cast("long")
        ).alias("tp"),
        F.sum(
            (F.col("t").isNotNull() & F.col("p").isNull()).cast("long")
        ).alias("missed"),
    ).select(
        "n_truth",
        "n_candidates",
        "tp",
        "missed",
        F.round(F.col("tp") / F.col("n_truth"), 4).alias("recall"),
        F.round(F.col("tp") / F.col("n_candidates"), 4).alias("precision"),
    )


def _oracle_eval_metrics() -> str:
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b, 1 AS t FROM ({ORACLE_NGRAM_JACCARD})
), pred AS (
  SELECT doc_a, doc_b, 1 AS p FROM ({_oracle_minhash()})
), j AS (
  SELECT coalesce(truth.t, NULL) AS t, pred.p
  FROM truth FULL OUTER JOIN pred USING (doc_a, doc_b)
)
SELECT CAST(sum(t) AS BIGINT) AS n_truth,
       CAST(sum(p) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN t IS NOT NULL AND p IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN t IS NOT NULL AND p IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS missed,
       round(sum(CASE WHEN t IS NOT NULL AND p IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / sum(t), 4) AS recall,
       round(sum(CASE WHEN t IS NOT NULL AND p IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / sum(p), 4) AS precision
FROM j
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_eval_metrics": dedup_eval_metrics,
    "boilerplate_ngrams": boilerplate_ngrams,
    "fuzzy_title_pairs": fuzzy_title_pairs,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_decontaminate": dedup_decontaminate,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental_probe": dedup_incremental_probe,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_clusters": dedup_clusters,
    "dedup_keep_best": dedup_keep_best,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_eval_metrics": _oracle_eval_metrics(),
    "boilerplate_ngrams": _oracle_boilerplate(),
    "fuzzy_title_pairs": ORACLE_FUZZY,
    "dedup_exact_substring": ORACLE_DEDUP_SUBSTRING,
    "dedup_decontaminate": _oracle_decontaminate(),
    "dedup_minhash_lsh": _oracle_minhash(),
    "dedup_incremental_probe": _oracle_incremental_probe(),
    "dedup_simhash": _oracle_simhash(),
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_containment": ORACLE_CONTAINMENT,
    "dedup_embedding_cosine": _oracle_embedding_cosine(),
    "dedup_clusters": _oracle_clusters(),
    "dedup_keep_best": _oracle_keep_best(),
}
