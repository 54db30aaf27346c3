"""Training-corpus construction operators: deterministic mixture
sampling, sliding-window document chunking, and embedding k-means —
the pieces that turn a cleaned document pool into model-ready shards.

All three are engine-portable by construction so the DuckDB oracle can
hash-match them:

- sampling keeps a row iff the md5-hex prefix of its id sorts below a
  per-source threshold string (pure string compare, no float hashing);
- chunking is built-in array ops (split/slice/md5) with identical
  1-based slice semantics in Spark and DuckDB;
- k-means rounds distances and centroids to 1e-6 on both sides so the
  argmin and the exact integer-micron distance sums agree bit-for-bit.

Scale notes per docstring.  Nothing here is a Python UDF; the only
driver-side work is collecting the 8×64-float centroid table between
Lloyd iterations (the same pattern every Spark k-means uses — MLlib
collects centroids per iteration too).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables, scratch_dir
from .num import half_up, half_up_np

# --- deterministic mixture sampling -----------------------------------------

# target mixture: keep-rate per source tier. Rendered into BOTH the Spark
# plan and the oracle SQL from this one dict.
MIXTURE_RATES = {
    **{f"src{i}": 1.0 for i in range(5)},
    **{f"src{i}": 0.5 for i in range(5, 10)},
    **{f"src{i}": 0.25 for i in range(10, 15)},
    **{f"src{i}": 0.1 for i in range(15, 20)},
}


def _rate_threshold_hex(rate: float) -> str:
    """8-hex-digit threshold: keep iff md5(id)[:8] < threshold (string
    compare). 'zzzzzzzz' sorts after every hex digit → keep-all."""
    if rate >= 1.0:
        return "zzzzzzzz"
    return f"{int(rate * 2**32):08x}"


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus mixing: each source keeps a deterministic,
    id-stable fraction of its documents (re-running on a grown corpus
    keeps exactly the previously-kept docs — the property reservoir or
    rand() sampling lacks).

    One narrow scan, no shuffle before the per-source aggregate; the
    keep decision is a row-local md5 + string compare, fully code-gen'd.
    At 100 TB the same predicate runs as a pushed scan filter when the
    table is partitioned by source."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    hexpfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    expr = None
    for src, rate in sorted(MIXTURE_RATES.items()):
        cond = F.col("source") == src
        val = F.lit(_rate_threshold_hex(rate))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    thr = expr.otherwise(F.lit("00000000"))
    keep = hexpfx < thr
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("chars_kept"),
        )
        .orderBy("source")
    )


def _mixture_case_sql() -> str:
    lines = [
        f"WHEN source = '{src}' THEN '{_rate_threshold_hex(rate)}'"
        for src, rate in sorted(MIXTURE_RATES.items())
    ]
    return "CASE " + " ".join(lines) + " ELSE '00000000' END"


ORACLE_MIXTURE = f"""
SELECT source,
       count(*) AS n_total,
       sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     < {_mixture_case_sql()} THEN 1 ELSE 0 END) AS n_kept,
       sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     < {_mixture_case_sql()} THEN n_chars ELSE 0 END) AS chars_kept
FROM documents
GROUP BY source
ORDER BY source
"""


# --- sliding-window chunking -------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows per document (context-window
    shards with stride < window for cross-boundary continuity).

    Tokenise → start offsets via sequence(0, n-1, stride) → slice +
    md5, all JVM-side array expressions: the explode multiplies rows but
    never shuffles — chunking is embarrassingly parallel and at 100 TB
    runs as a map-only stage writing sharded output directly.  Output is
    subsampled (doc_id % 50 = 0) to keep the result collectable."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    d = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", toks.alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .filter(F.col("n_tok") >= 1)
    )
    starts = F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(CHUNK_STRIDE))
    d = d.select("doc_id", "toks", F.explode(starts).alias("start"))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_TOKENS)
    return (
        d.select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


ORACLE_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
  WHERE doc_id % 50 = 0
),
expanded AS (
  SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_STRIDE})) AS start
  FROM toks
  WHERE len(t) >= 1
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       len(list_slice(t, start + 1, start + {CHUNK_TOKENS})) AS n_tokens,
       md5(array_to_string(list_slice(t, start + 1, start + {CHUNK_TOKENS}), ' '))
         AS chunk_hash
FROM expanded
ORDER BY doc_id, chunk_idx
"""


# --- embedding k-means (2 Lloyd iterations, deterministic init) --------------

# K is DERIVED from corpus size, not a constant: K = max(MIN, ceil(n /
# TARGET_CELL)) bounds the expected cell population at ~TARGET_CELL
# vectors regardless of scale, which is the SemDeDup recipe (Abbas et
# al. 2023 use 50k clusters for LAION so cells stay small enough for
# within-cell pairwise work). A fixed K would let cells — and the
# quadratic within-cell pair count — grow linearly/quadratically with
# the corpus. The oracle computes the SAME K from the same count in
# SQL, so clustering stays hash-checked at every scale.
KMEANS_K_MIN = 8
KMEANS_TARGET_CELL = 64


def kmeans_k(n: int) -> int:
    """K for an n-vector corpus: ceil(n / TARGET_CELL), floored at MIN."""
    return max(KMEANS_K_MIN, -(-n // KMEANS_TARGET_CELL))


def _euclid_dist(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


# Above this K the literal-struct argmin expression (K interpreted
# zip_with/aggregate folds per row) loses to one Arrow batch of NumPy;
# below it, codegen'd literals win and keep the plan UDF-free.
_ASSIGN_VEC_MIN_K = 32


def _assign(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Argmin over the broadcast centroid set → struct(d, cluster):
    lexicographic min = nearest centroid, ties to the lowest cluster
    id, identical to the oracle's min-join.

    Two physical forms with bit-identical results (distances accumulate
    per-dimension in the same order, HALF_UP-round to 1e-6 before the
    argmin): small K inlines the centroids as literal structs and stays
    whole-stage-codegen; large K (the derived-K path — K grows with the
    corpus, see kmeans_k) switches to ONE Arrow-batched pandas_udf
    whose per-batch work is a vectorized per-dim accumulation against
    the K×d centroid matrix — O(n·K·d) flops instead of O(n·K)
    interpreted lambda folds. At cluster scale the matrix rides the
    closure (one broadcast per executor), exactly MLlib's layout."""
    if len(cents) >= _ASSIGN_VEC_MIN_K:
        return _assign_vectorized(vec, cents)
    alts = [
        F.struct(
            F.round(_euclid_dist(vec, F.array(*[F.lit(x) for x in c])), 6).alias("d"),
            F.lit(k).alias("cluster"),
        )
        for k, c in cents
    ]
    return F.array_min(F.array(*alts))


def _exact_micro_argmin(V, C, ks):
    """Exact rounded argmin of ``V`` rows against centroid matrix ``C``
    at BLAS speed: one GEMM computes candidate distances
    (``|v|² + |c|² − 2·v·c``), then ONLY the per-row candidates inside a
    3e-6 safety band of the row minimum are recomputed with the
    bit-parity sequential per-dim accumulation and HALF_UP-rounded to
    integer microns — the FAISS exact-search shape (sgemm + refine).
    The band covers the 1e-6 rounding quantum plus the worst
    GEMM-vs-sequential fp divergence (catastrophic cancellation when
    d≈0 bounds it at ~1e-6), so every candidate that could win or tie
    the rounded argmin is refined; the winner (lowest cluster id on
    rounded ties, == the oracle's min-join) is therefore identical to
    the O(n·K·d)-interpreted flat pass while costing one matmul.
    Returns (d_micro int64, cluster int64) arrays."""
    import numpy as np

    sq = (V * V).sum(axis=1)[:, None] + (C * C).sum(axis=1)[None, :]
    sq -= 2.0 * (V @ C.T)
    np.maximum(sq, 0.0, out=sq)
    ds = np.sqrt(sq)
    m = ds.min(axis=1)
    ri, ci = np.nonzero(ds <= (m + 3e-6)[:, None])
    acc = np.zeros(len(ri))
    A, B = V[ri], C[ci]
    for j in range(C.shape[1]):  # sequential dim order == JVM fold
        acc += (A[:, j] - B[:, j]) ** 2
    dmic = np.floor(np.sqrt(acc) * 1e6 + 0.5).astype(np.int64)
    kc = ks[ci]
    order = np.lexsort((kc, dmic, ri))  # per row: min d, tie → low id
    _, first = np.unique(ri[order], return_index=True)
    win = order[first]
    return dmic[win], kc[win]


def _assign_vectorized(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    order = sorted(cents)  # ascending cluster id: argmin tie → lowest id
    ks = np.array([k for k, _ in order], dtype=np.int64)
    C = np.array([c for _, c in order], dtype=np.float64)  # K × d

    def _nearest(s: "pd.Series") -> "pd.DataFrame":
        V = np.array([np.asarray(x, dtype=np.float64) for x in s])
        dmic, kid = _exact_micro_argmin(V, C, ks)
        return pd.DataFrame(
            {"d": dmic / 1e6, "cluster": kid.astype("int32")}
        )

    _nearest.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    schema = T.StructType(
        [
            T.StructField("d", T.DoubleType()),
            T.StructField("cluster", T.IntegerType()),
        ]
    )
    return pandas_udf(_nearest, schema)(vec)


# --- gated two-level routing (the production assignment default) -----------
#
# Flat exact assignment is O(n·K·d) and K grows with the corpus
# (kmeans_k), so the classify pass is super-linear. The IVF/IMI answer
# is two-level routing (coarse argmin over G=⌈√K⌉ group means, then
# fine argmin within the winning group: n·2√K·d), but routing is
# APPROXIMATE, so it is gated: on the deterministic TRAINING SAMPLE
# (md5-bucket membership, expected 16·K vectors — see train_sample) the
# routed and exact assignments are compared, and the fast path is
# accepted only when they agree on ≥ 99% of the sample — else the
# assignment falls back to the exact flat pass (which
# _exact_micro_argmin keeps BLAS-speed), PERMITTED ONLY BELOW
# KMEANS_FLAT_MAX_K: above that ceiling a corpus-wide exact pass is
# infeasible by definition (K grows with the corpus, so n·K is
# super-linear), so the router is forced on and the sub-threshold
# agreement becomes a drift/QA signal instead of a fallback trigger.
# The gate decision is itself part of the query semantics: the oracle
# SQL computes the SAME sampled agreement and selects the SAME leg, so
# the routing logic — not just its output — is hash-checked on every
# run. On this harness's near-uniform synthetic embeddings the gate
# measurably rejects; tests/test_routing_gate.py proves the accept
# branch on a separable corpus where it routes and still hash-matches
# DuckDB.
KMEANS_ROUTE_MIN_K = 8
KMEANS_ROUTE_MIN_AGREE = 0.99
# flat exact assignment (and the gate-reject fallback choosing it) is
# allowed only while K is small enough that an n·K GEMM pass is sane
# (K=4096 ⇒ n≈256k vectors at the 64-per-cell target, ~7e10 flops);
# beyond this, assignment is routed unconditionally and a sub-threshold
# gate agreement is a drift signal, not a fallback trigger
KMEANS_FLAT_MAX_K = 4096

# --- sample-bounded training --------------------------------------------------
#
# EVERY full-corpus O(n·K) leg of k-means is bounded by a deterministic
# hash sample: Lloyd fits on the sample, the agreement gate evaluates on
# the sample, and the corpus only ever pays the assignment pass (routed
# n·2√K above the flat ceiling). Membership is ROW-LOCAL — an md5 bucket
# of the vec_id against a threshold derived from n and K — so any
# operator (or the DuckDB oracle) can recompute it without a global
# sort or a broadcast id set; expected sample size is
# KMEANS_SAMPLE_PER_CELL·K vectors (the per-centroid statistics Lloyd
# actually needs), capped at n. This is the standard production shape:
# FAISS trains IVF coarse quantizers on a bounded sample
# (max_points_per_centroid), never the corpus.
KMEANS_SAMPLE_PER_CELL = 16
_SAMP_MOD = 1 << 20
_SAMP_SALT = "ksamp:"


def _samp_thr(n: int, k_int: int) -> int:
    """Bucket threshold selecting an expected 16·K-vector sample."""
    import math

    if n <= 0:
        return _SAMP_MOD
    return min(_SAMP_MOD, math.ceil(_SAMP_MOD * KMEANS_SAMPLE_PER_CELL * k_int / n))


def sample_member(idcol: Column, thr: int) -> Column:
    """Row-local training-sample membership (Spark side): md5 bucket of
    the salted vec_id below ``thr``. Mirrored verbatim by the oracle's
    ``samp`` CTE — same salt, same hex slice, same modulus."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SAMP_SALT), idcol.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _SAMP_MOD
    )
    return bucket < F.lit(thr)


def train_sample(e: DataFrame, n: int, k_int: int) -> DataFrame:
    """The deterministic training sample: a codegen'd filter, no sort,
    no shuffle — the ONLY rows Lloyd and the gate ever pay K-way
    distance work for."""
    return e.filter(sample_member(F.col("vec_id"), _samp_thr(n, k_int)))


def _twolevel_parts(cents: list[tuple[int, list[float]]], k_int: int):
    """Coarse structure for two-level routing: group fine centroids by
    cluster_id // G (G=⌈√K⌉ of the INTENDED K — id-blocked grouping,
    the inverted-multi-index layout, identical to the oracle's
    ``cluster // g`` CTE even when Lloyd left id gaps); coarse centroid
    = HALF_UP-rounded per-dim mean over the group, accumulated in
    cluster-ascending order so both engines fold identically.
    Returns (G, kid, C, gids, CO, fine_idx) NumPy arrays."""
    import math

    import numpy as np

    cents = sorted(cents)
    G = math.ceil(math.sqrt(k_int))
    from collections import OrderedDict

    by_gid: "OrderedDict[int, list]" = OrderedDict()
    for k, c in cents:
        by_gid.setdefault(k // G, []).append(c)
    gids = list(by_gid)
    coarse = []
    for g in gids:
        grp = by_gid[g]
        m = []
        for j in range(len(grp[0])):
            t = 0.0
            for c in grp:
                t += c[j]
            m.append(half_up(t / len(grp)))
        coarse.append(m)
    kid = np.array([k for k, _ in cents], dtype=np.int64)
    C = np.array([c for _, c in cents], dtype=np.float64)
    CO = np.array(coarse, dtype=np.float64)
    fine_idx = [np.nonzero(kid // G == g)[0] for g in gids]
    return G, kid, C, gids, CO, fine_idx


def _dists_micro_np(V, M):
    """Rounded distances as integer microns, sequential per-dim
    accumulation (== the JVM fold / DuckDB list_distance + round)."""
    import numpy as np

    D = np.zeros((len(V), len(M)))
    for j in range(M.shape[1]):
        D += (V[:, j][:, None] - M[:, j][None, :]) ** 2
    return np.floor(np.sqrt(D) * 1e6 + 0.5).astype(np.int64)


def _route_np(V, kid, C, CO, fine_idx):
    """Single-probe two-level assignment of V: coarse argmin (tie →
    lowest gid) then fine argmin within the winning group (tie →
    lowest cluster id). Returns (d_micro, cluster) arrays."""
    import numpy as np

    gi = _dists_micro_np(V, CO).argmin(axis=1)
    dmic = np.empty(len(V), dtype=np.int64)
    kc = np.empty(len(V), dtype=np.int64)
    for g in np.unique(gi):
        rows = np.nonzero(gi == g)[0]
        mem = fine_idx[g]
        d = _dists_micro_np(V[rows], C[mem])
        a = d.argmin(axis=1)
        dmic[rows] = d[np.arange(len(rows)), a]
        kc[rows] = kid[mem[a]]
    return dmic, kc


def _assign_twolevel(vec: Column, cents: list[tuple[int, list[float]]], k_int: int) -> Column:
    """The routed production assign → struct(d, cluster), same schema
    and rounding as ``_assign`` but n·2√K work instead of n·K."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    _, kid, C, _, CO, fine_idx = _twolevel_parts(cents, k_int)

    def _routed(s: "pd.Series") -> "pd.DataFrame":
        V = np.array([np.asarray(x, dtype=np.float64) for x in s])
        dmic, kc = _route_np(V, kid, C, CO, fine_idx)
        return pd.DataFrame({"d": dmic / 1e6, "cluster": kc.astype("int32")})

    _routed.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    schema = T.StructType(
        [T.StructField("d", T.DoubleType()), T.StructField("cluster", T.IntegerType())]
    )
    return pandas_udf(_routed, schema)(vec)


def route_gate(e: DataFrame, cents: list[tuple[int, list[float]]],
               k_int: int, n: int) -> bool:
    """Evaluate the sampled-agreement gate of the ``n``-vector corpus
    ``e`` on its TRAINING SAMPLE (expected 16·K vectors — the same md5-bucket
    sample Lloyd fits on): compare routed vs exact assignment; accept
    the routed path when K ≥ KMEANS_ROUTE_MIN_K and agreement ≥
    KMEANS_ROUTE_MIN_AGREE — and UNCONDITIONALLY once K exceeds
    KMEANS_FLAT_MAX_K, where the flat fallback the gate would pick is
    itself infeasible. Cost is sample·K (GEMM-batched), bounded by the
    sample — never a corpus-wide exact pass. The oracle's ``gate`` CTE
    computes the identical decision in SQL."""
    accept = k_int > KMEANS_FLAT_MAX_K
    if not accept and k_int >= KMEANS_ROUTE_MIN_K:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        _, kid, C, _, CO, fine_idx = _twolevel_parts(cents, k_int)

        def _both(s: "pd.Series") -> "pd.DataFrame":
            V = np.array([np.asarray(x, dtype=np.float64) for x in s])
            _, two = _route_np(V, kid, C, CO, fine_idx)
            _, exact = _exact_micro_argmin(V, C, kid)
            return pd.DataFrame({"two": two, "exact": exact})

        _both.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
        schema = T.StructType(
            [T.StructField("two", T.LongType()), T.StructField("exact", T.LongType())]
        )
        udf = pandas_udf(_both, schema)
        row = (
            train_sample(e, n, k_int)
            .select(udf(_as_double(F.col("embedding"))).alias("z"))
            .agg(
                F.count("*").alias("n_eval"),
                F.sum((F.col("z.two") == F.col("z.exact")).cast("long")).alias("n_agree"),
            )
            .collect()[0]
        )
        accept = (
            row["n_eval"] > 0
            and row["n_agree"] >= KMEANS_ROUTE_MIN_AGREE * row["n_eval"]
        )
    return accept


@artifact
def corpus_n(spark: SparkSession, sf_dir: str) -> int:
    """The embeddings corpus count, taken once per (session, sf)."""
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"].count()


def trained_k(spark: SparkSession, sf_dir: str) -> int:
    """K as derived at train time for this (session, sf) — the single
    source of the K-recovery logic every consumer shares."""
    return kmeans_k(corpus_n(spark, sf_dir))


@artifact
def centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The trained centroids per (session, sf) — a new session retrains."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n = corpus_n(spark, sf_dir)
    return fit_centroids(spark, e, n, kmeans_k(n))


@artifact
def gate(spark: SparkSession, sf_dir: str) -> bool:
    """The routing gate decision per (session, sf)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return route_gate(
        e, centroids(spark, sf_dir), trained_k(spark, sf_dir), corpus_n(spark, sf_dir)
    )


def assign_by_rule(
    vec: Column, cents: list[tuple[int, list[float]]], routed: bool, k_int: int
) -> Column:
    """Dispatch a FIXED assignment rule — routed two-level or exact flat
    (GEMM+refine). The one implementation of the dispatch, shared by
    the in-session gate path (assign_routed) and the persisted-index
    save/append paths, which record and replay the decision.

    Corpus-wide exact assignment is FORBIDDEN above KMEANS_FLAT_MAX_K —
    a flat n·K pass at derived K is the one shape that cannot survive a
    100× corpus, so a stale persisted rule that asks for it fails loudly
    instead of melting the cluster."""
    if not routed and k_int > KMEANS_FLAT_MAX_K:
        raise ValueError(
            f"flat exact assignment requested at K={k_int} > "
            f"KMEANS_FLAT_MAX_K={KMEANS_FLAT_MAX_K}; corpus-wide O(n*K) "
            "passes are forbidden above the ceiling - retrain/re-save the "
            "index (the gate now forces the routed rule at this K)"
        )
    return _assign_twolevel(vec, cents, k_int) if routed else _assign(vec, cents)


def assign_routed(spark: SparkSession, sf_dir: str, vec: Column) -> Column:
    """THE production assignment entry point: two-level routed when the
    sampled-agreement gate accepts, exact flat (GEMM+refine) when it
    rejects. Both legs and the decision are mirrored in the oracle."""
    return assign_by_rule(
        vec, centroids(spark, sf_dir), gate(spark, sf_dir), trained_k(spark, sf_dir)
    )


def fit_centroids(
    spark: SparkSession, e: DataFrame, n: int, k: int
) -> list[tuple[int, list[float]]]:
    """The sample-bounded Lloyd fit, standalone: init from the first K
    vectors by vec_id, one assignment pass of the SAMPLE against init,
    one centroid update — the training block kmeans_embeddings caches
    and ``retrain_ann_index`` reruns over a drifted index population.
    ``e`` carries (vec_id, embedding)."""
    v = _as_double(F.col("embedding"))
    init = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    ]
    init.sort()
    a1 = train_sample(e, n, k).select(
        "vec_id",
        "embedding",
        _assign(v, init).getField("cluster").alias("cluster"),
    )
    dims = (
        a1.select("cluster", F.posexplode(v).alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("x"), 6).alias("val"))
    )
    cent_rows = (
        dims.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s.getField("val"),
            ).alias("c")
        )
        .collect()
    )
    return sorted((int(r["cluster"]), [float(x) for x in r["c"]]) for r in cent_rows)


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations fit on the SAMPLE (expected 16·K vectors by
    md5-bucket membership — train_sample), init from the first K corpus
    vectors by vec_id; the corpus then pays only the gated assignment
    pass. Output: per-cluster sizes and exact mean distance over the
    WHOLE corpus.

    Per Lloyd iteration: the assignment is a map-only pass of SAMPLE
    rows against K broadcast literal centroids (sample·K, bounded by
    the sample — never n·K); the centroid update is one posexplode
    (sample·d rows) + two-key agg — the canonical distributed k-means
    step at the FAISS max_points_per_centroid scale discipline. The K×d
    centroid table is collected driver-side between iterations exactly
    as MLlib does; at 100 TB that collect is still K·d floats.
    Distances and centroids round to 1e-6 on both engines so argmin and
    the integer-micron distance sum are hash-stable."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = _as_double(F.col("embedding"))
    best = assign_routed(spark, sf_dir, v)
    return (
        e.select(
            best.getField("cluster").alias("cluster"),
            F.round(best.getField("d") * 1_000_000, 0).cast("long").alias("d_micro"),
        )
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("d_micro") / F.count("*") / 1_000_000.0).alias("mean_dist"),
        )
        .orderBy("cluster")
    )


# the CTE chain (init → assign1 → cent2 → assign2) is shared with the
# trained-IVF oracle in functions/similarity.py, which appends its own
# probe/rank SELECT
ORACLE_KMEANS_CTES = f"""
WITH kk AS (
  SELECT n, k,
         least({_SAMP_MOD},
               CAST(ceil({_SAMP_MOD}.0 * {KMEANS_SAMPLE_PER_CELL} * k / n)
                    AS BIGINT)) AS thr
  FROM (
    SELECT count(*) AS n,
           greatest({KMEANS_K_MIN},
                    CAST(ceil(count(*) / {KMEANS_TARGET_CELL}.0) AS BIGINT)) AS k
    FROM embeddings
  )
),
samp AS (
  SELECT vec_id, embedding FROM embeddings, kk
  WHERE ('0x' || substr(md5('{_SAMP_SALT}' || CAST(vec_id AS VARCHAR)), 1, 8))
          ::BIGINT % {_SAMP_MOD} < kk.thr
),
init AS (
  SELECT vec_id AS cluster, embedding::DOUBLE[] AS c
  FROM embeddings, kk WHERE vec_id < kk.k
),
d1 AS (
  SELECT vec_id, round(list_distance(embedding::DOUBLE[], c), 6) AS d, cluster
  FROM samp, init
),
m1 AS (SELECT vec_id, min(d) AS md FROM d1 GROUP BY vec_id),
assign1 AS (
  SELECT d1.vec_id, min(cluster) AS cluster
  FROM d1 JOIN m1 ON d1.vec_id = m1.vec_id AND d1.d = m1.md
  GROUP BY d1.vec_id
),
exploded AS (
  SELECT a.cluster,
         generate_subscripts(e.embedding, 1) AS pos,
         unnest(e.embedding::DOUBLE[]) AS x
  FROM assign1 a JOIN embeddings e ON a.vec_id = e.vec_id
),
dims AS (
  SELECT cluster, pos, round(avg(x), 6) AS val
  FROM exploded GROUP BY cluster, pos
),
cent2 AS (
  SELECT cluster, list(val ORDER BY pos) AS c FROM dims GROUP BY cluster
),
d2 AS (
  SELECT vec_id, round(list_distance(embedding::DOUBLE[], c), 6) AS d, cluster
  FROM embeddings, cent2
),
m2 AS (SELECT vec_id, min(d) AS md FROM d2 GROUP BY vec_id),
assign2 AS (
  SELECT d2.vec_id, min(d2.cluster) AS cluster, min(m2.md) AS d
  FROM d2 JOIN m2 ON d2.vec_id = m2.vec_id AND d2.d = m2.md
  GROUP BY d2.vec_id
)"""


def _twolevel_ctes(src_rel: str, p: str) -> str:
    """CTE chain computing the single-probe two-level assignment of the
    vectors in ``src_rel`` (columns vec_id, v DOUBLE[]) against cent2:
    coarse argmin over the id-blocked group means (tie → lowest gid),
    fine argmin within the winning group (tie → lowest cluster id) —
    the SQL mirror of ``_route_np``. Emits ``{p}two(vec_id, two, d)``.
    Expects the shared ``gsize``/``coarse`` CTEs to already be in
    scope."""
    return f""",
{p}cdist AS (
  SELECT s.vec_id, coarse.gid,
         round(list_distance(s.v, coarse.cc), 6) AS d
  FROM {src_rel} s, coarse
),
{p}cwin AS (
  SELECT vec_id, min(gid) AS gid FROM {p}cdist c
  WHERE d = (SELECT min(d) FROM {p}cdist c2 WHERE c2.vec_id = c.vec_id)
  GROUP BY vec_id
),
{p}fdist AS (
  SELECT w.vec_id, c2.cluster,
         round(list_distance(s.v, c2.c), 6) AS d
  FROM {p}cwin w
  JOIN {src_rel} s ON w.vec_id = s.vec_id
  JOIN gsize ON true
  JOIN cent2 c2 ON c2.cluster // gsize.g = w.gid
),
{p}two AS (
  SELECT vec_id, min(cluster) AS two, min(d) AS d FROM {p}fdist f
  WHERE d = (SELECT min(d) FROM {p}fdist f2 WHERE f2.vec_id = f.vec_id)
  GROUP BY vec_id
)"""


# coarse structure + the corpus's own two-level assignment + the
# sampled-agreement GATE (the router's accept/reject decision over the
# TRAINING SAMPLE, computed in SQL exactly as route_gate computes it in
# Spark, with the KMEANS_FLAT_MAX_K override) + the gated per-vector
# selection ``sel`` — appended to the shared chain so every consumer of
# the routed assignment (kmeans_embeddings, semdedup) hash-checks the
# routing decision itself. Unreferenced CTEs are pruned by DuckDB, so
# the flat-only consumers (trained IVF) pay nothing.
ORACLE_KMEANS_CTES = (
    ORACLE_KMEANS_CTES
    + """,
gsize AS (
  SELECT CAST(ceil(sqrt(k)) AS BIGINT) AS g FROM kk
),
coarse AS (
  SELECT grp_id AS gid,
         list_transform(range(1, 65),
           j -> round(list_sum(list_transform(grp, c -> c[j])) / len(grp), 6)) AS cc
  FROM (
    SELECT cluster // g AS grp_id, list(c ORDER BY cluster) AS grp
    FROM cent2, gsize GROUP BY cluster // g
  )
),
ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"""
    + _twolevel_ctes("ev", "")
    + f""",
gate AS (
  SELECT ((SELECT k FROM kk) >= {KMEANS_ROUTE_MIN_K}
          AND sum(CASE WHEN t.two = a2.cluster THEN 1 ELSE 0 END)
              >= {KMEANS_ROUTE_MIN_AGREE} * count(*))
         OR (SELECT k FROM kk) > {KMEANS_FLAT_MAX_K} AS ok
  FROM two t JOIN assign2 a2 ON t.vec_id = a2.vec_id
  JOIN samp s ON t.vec_id = s.vec_id
),
sel AS (
  SELECT a2.vec_id,
         CASE WHEN g.ok THEN t.two ELSE a2.cluster END AS cluster,
         CASE WHEN g.ok THEN t.d ELSE a2.d END AS d
  FROM assign2 a2 JOIN two t ON a2.vec_id = t.vec_id CROSS JOIN gate g
)"""
)

ORACLE_KMEANS = (
    ORACLE_KMEANS_CTES
    + """
SELECT cluster, count(*) AS n_vecs,
       sum(CAST(round(d * 1000000, 0) AS BIGINT)) / count(*) / 1000000.0
         AS mean_dist
FROM sel
GROUP BY cluster
ORDER BY cluster
"""
)


def kmeans_assign_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL (two-level) centroid assignment — the 100 TB answer
    to flat k-means' O(n·K) argmin when K itself grows with the corpus
    (kmeans_k): route each vector to its nearest COARSE centroid (the
    per-group mean of G=⌈√K⌉ consecutive fine centroids), then argmin
    only within that group's fine centroids — n·(K/G + G) ≈ n·2√K work
    instead of n·K, the standard IVF/IMI two-level trick. The trade is
    exactness at group boundaries, so the output REPORTS the trade: per
    fine cell, the two-level population AND how many of its vectors the
    exact argmin agrees on (n_agree) — the accept/reject gate for
    switching the pipeline's assignment to the fast path.

    Both levels and the exact reference run in the SAME Arrow-batched
    sequential-order/HALF_UP arithmetic as ``_assign``, and the oracle
    rebuilds coarse centroids, both argmins, and the agreement join in
    SQL — clustering, routing, and the eval all hash-check."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = sorted(centroids(spark, sf_dir))
    # G derives from the INTENDED K (kmeans_k of the corpus count, the
    # oracle's kk CTE), and grouping keys on cluster_id // G — NOT on
    # position in the centroid list — so both stay identical to the
    # oracle even if a Lloyd step left a cluster empty (cent2 then has
    # id gaps and positional grouping would diverge)
    k_int = trained_k(spark, sf_dir)
    _, kid, C, _, CO, fine_idx = _twolevel_parts(cents, k_int)

    # the exact-argmin reference costs the very n·K the two-level path
    # avoids, so the agreement EVAL runs on the deterministic TRAINING
    # SAMPLE (md5-bucket membership, expected 16·K vectors — the same
    # rows Lloyd fit on) — sampled QA, the production shape: routing is
    # n·2√K, the eval pays sample·K (GEMM-batched via
    # _exact_micro_argmin), bounded by the sample at any corpus size
    def _route(s: "pd.Series", insamp: "pd.Series") -> "pd.DataFrame":
        V = np.array([np.asarray(x, dtype=np.float64) for x in s])
        _, two = _route_np(V, kid, C, CO, fine_idx)
        exact = np.full(len(V), -1, dtype=np.int64)
        samp = np.nonzero(insamp.to_numpy())[0]
        if len(samp):
            _, exact[samp] = _exact_micro_argmin(V[samp], C, kid)
        return pd.DataFrame(
            {"two": two.astype("int64"), "exact": exact.astype("int64")}
        )

    _route.__annotations__ = {
        "s": pd.Series, "insamp": pd.Series, "return": pd.DataFrame
    }
    schema = T.StructType(
        [T.StructField("two", T.LongType()), T.StructField("exact", T.LongType())]
    )
    udf = pandas_udf(_route, schema)
    n_corpus = corpus_n(spark, sf_dir)
    member = sample_member(F.col("vec_id"), _samp_thr(n_corpus, k_int))
    a = e.select(
        "vec_id", udf(_as_double(F.col("embedding")), member).alias("z")
    ).select(F.col("z.two").alias("two"), F.col("z.exact").alias("exact"))
    return (
        a.groupBy(F.col("two").alias("cluster"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum((F.col("exact") >= 0).cast("long")).alias("n_eval"),
            F.sum((F.col("two") == F.col("exact")).cast("long")).alias("n_agree"),
        )
        .orderBy("cluster")
    )


def _oracle_kmeans_twolevel() -> str:
    # the shared chain already carries gsize/coarse and the corpus's
    # two-level assignment (``two``) — this diagnostic just reports the
    # per-cell population + sampled agreement from it
    return (
        ORACLE_KMEANS_CTES
        + """
SELECT two.two AS cluster, count(*) AS n_vecs,
       sum(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_eval,
       sum(CASE WHEN s.vec_id IS NOT NULL AND two.two = a2.cluster
                THEN 1 ELSE 0 END) AS n_agree
FROM two JOIN assign2 a2 ON two.vec_id = a2.vec_id
LEFT JOIN samp s ON two.vec_id = s.vec_id
GROUP BY two.two
ORDER BY cluster
"""
    )


# --- deterministic train/valid/test split ------------------------------------

# bucket = md5-derived uniform int in [0, 100); boundaries are the
# canonical 98/1/1 pretraining split. Salted ("split:") so the split is
# independent of mixture_sample's keep-hash (the two decisions must not
# correlate, or the valid set would over-sample the mixture's keeps).
_SPLIT_BOUNDS = (("train", 98), ("valid", 99), ("test", 100))


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/valid/test corpus split: each doc's
    split is a pure function of its id, so re-running on a grown corpus
    never moves a document between splits (the leakage-safety property
    rand() splits lack — a doc that was ever in valid stays in valid).

    One narrow scan + one 3-group aggregate; the split decision is a
    row-local md5 + modulo, fully code-gen'd. At 100 TB this same
    expression becomes the partition key for writing split-segregated
    shards (no shuffle beyond the write's own partitioning)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long") % 100
    split = (
        F.when(bucket < _SPLIT_BOUNDS[0][1], _SPLIT_BOUNDS[0][0])
        .when(bucket < _SPLIT_BOUNDS[1][1], _SPLIT_BOUNDS[1][0])
        .otherwise(_SPLIT_BOUNDS[2][0])
    )
    return (
        d.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


ORACLE_SPLIT = """
WITH b AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::bigint
           % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 98 THEN 'train'
            WHEN bucket < 99 THEN 'valid'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       sum(n_chars) AS n_chars,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM b
GROUP BY 1
ORDER BY split
"""


# --- deterministic masking (MLM-style span corruption) -----------------------

_MASK_RATE = 0.15


def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 15% token masking for masked-LM training data:
    each (doc, position) masks iff md5(doc_id:pos) sorts under the rate
    threshold — the id-stable property rand() masking lacks (re-running
    on a grown corpus reproduces every existing example bit-for-bit,
    so training examples are versionable).

    Per-source report: docs, tokens, masked tokens, realised mask rate.
    Scale shape: tokenise + posexplode + a row-local md5 decision, all
    codegen'd; ONE aggregate. The masked-sequence materialisation (not
    shown) is the same expression inside transform() — zero extra
    shuffles."""
    from .text import tokens

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    thr = _rate_threshold_hex(_MASK_RATE)
    tok = d.select(
        "doc_id",
        "source",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    )
    masked = F.substring(
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
            )
        ),
        1,
        8,
    ) < F.lit(thr)
    return (
        tok.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
            F.sum(masked.cast("long")).alias("n_masked"),
            F.round(
                F.sum(masked.cast("long")) / F.count("*"), 4
            ).alias("mask_rate"),
        )
        .orderBy("source")
    )


ORACLE_SPAN_CORRUPTION = f"""
WITH tok AS (
  SELECT doc_id, source,
         generate_subscripts(regexp_extract_all(lower(text), '\\S+'), 1) - 1
           AS pos
  FROM documents
), m AS (
  SELECT doc_id, source,
         CASE WHEN substr(md5(doc_id::varchar || ':' || pos::varchar), 1, 8)
                   < '{_rate_threshold_hex(_MASK_RATE)}'
              THEN 1 ELSE 0 END AS masked
  FROM tok
)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_tokens,
       sum(masked)::bigint AS n_masked,
       round(sum(masked) / count(*), 4) AS mask_rate
FROM m GROUP BY source ORDER BY source
"""


# --- split-segregated shard writing ------------------------------------------

_SHARD_MAX_RECORDS = 200


def write_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the corpus as split-segregated training shards and prove
    the roundtrip: documents are written `partitionBy("split")` with
    `maxRecordsPerFile` bounding shard size (the reference's
    bytes_per_merged_file knob, J3, applied to the training layer),
    then READ BACK — the returned per-split doc/char totals come from
    the files on disk, so a hash-match against the split oracle proves
    write + partition pruning + read are lossless end-to-end.

    Scale shape: the write shuffles once on the 3-value split key
    (AQE coalesces), every shard file lands under its split directory
    (so downstream training jobs partition-prune to their split), and
    maxRecordsPerFile splits oversized partitions without a second
    shuffle."""
    back = spark.read.parquet(_training_shards(spark, sf_dir))
    return (
        back.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@artifact
def _training_shards(spark: SparkSession, sf_dir: str) -> str:
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % 100
    split = (
        F.when(bucket < _SPLIT_BOUNDS[0][1], _SPLIT_BOUNDS[0][0])
        .when(bucket < _SPLIT_BOUNDS[1][1], _SPLIT_BOUNDS[1][0])
        .otherwise(_SPLIT_BOUNDS[2][0])
    )
    out_dir = scratch_dir("grebi_shards_")
    (
        d.withColumn("split", split)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _SHARD_MAX_RECORDS)
        .partitionBy("split")
        .parquet(out_dir)
    )
    return out_dir


# the shards must contain exactly what the split decision dictates —
# the query's oracle is ORACLE_SPLIT, now proven THROUGH the filesystem


# --- the composed corpus-preparation funnel ---------------------------------


def _mixture_threshold_col() -> Column:
    expr = None
    for src, rate in sorted(MIXTURE_RATES.items()):
        cond = F.col("source") == src
        val = F.lit(_rate_threshold_hex(rate))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(F.lit("00000000"))


def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus preparation pipeline as one operator,
    reporting the yield funnel — docs and tokens surviving each stage:

      0 ingest → 1 language filter (en) → 2 quality gate (>= 0.75)
      → 3 model gate (the WHOLE trained cascade: its cheap n_tok ≥ 5
      gate, then the classifier's score > 0 — text.fit_cascade_model,
      fit on this corpus's own gated population exactly like the
      standalone cascade)
      → 4 exact dedup (canonical fingerprint copy) → 5 decontaminate
      (drop the held-out eval docs and anything sharing a word 8-gram
      with them) → 6 mixture sampling → 7 train split.

    This is the report every corpus build publishes; each stage reuses
    the SAME definitions as its standalone operator (quality_score, the
    cascade model, fingerprint, DECON 8-grams, mixture thresholds,
    split buckets), so the funnel is consistent with the per-stage
    queries by construction.

    Scale shape: one scan computes every per-doc feature as codegen'd
    expressions; the model fit is one extra aggregate whose 1-row
    result broadcasts back into the same projection; the only other
    shuffles are the fingerprint canonical election (one aggregate),
    the contamination broadcast-join rollup, and the final 8-row stage
    aggregate. Stage flags are cumulative booleans on one row — no
    per-stage re-scan of the corpus."""
    from .dedup import DECON_EVAL_MOD, DECON_NGRAM, word_shingles
    from .text import (
        CASCADE_GATE_MIN_TOK,
        cascade_feature_exprs,
        cascade_score_expr,
        fingerprint,
        fit_cascade_model,
        quality_score,
        token_count,
    )

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    split_bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % 100
    fx = cascade_feature_exprs(F.col("text"))
    feat = d.select(
        "doc_id",
        "source",
        "lang",
        token_count(F.col("text")).alias("n_tok"),
        F.round(quality_score(F.col("text")), 4).alias("q"),
        fingerprint(F.col("text")).alias("fp"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("mixhex"),
        split_bucket.alias("bucket"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
        *(expr.alias(name) for name, expr in fx.items()),
    )
    model = fit_cascade_model(
        feat.filter(F.col("n_tok") >= CASCADE_GATE_MIN_TOK)
    )
    feat = feat.crossJoin(F.broadcast(model)).withColumn(
        "cscore", F.round(cascade_score_expr(), 6)
    )

    sh = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("sh")
    )
    is_eval = (F.col("doc_id") % DECON_EVAL_MOD) == 0
    contam = (
        sh.filter(~is_eval)
        .join(F.broadcast(sh.filter(is_eval).select("sh").distinct()), "sh")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    feat = feat.join(contam, "doc_id", "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )

    s1 = F.col("lang") == "en"
    s2 = s1 & (F.col("q") >= 0.75)
    # the model gate composes the WHOLE cascade: the cheap n_tok gate
    # first (docs the classifier was never fit for are pruned, exactly
    # like the standalone operator), then the trained score
    s2m = (
        s2
        & (F.col("n_tok") >= CASCADE_GATE_MIN_TOK)
        & (F.col("cscore") > 0)
    )
    canon = (
        feat.filter(s2m)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    # NO broadcast hint: the canonical table is corpus-sized (one row
    # per distinct fingerprint), so this must stay a shuffle join on fp
    # at scale; AQE still broadcasts it at harness scale on its own
    feat = feat.join(canon, "fp", "left")
    s3 = s2m & (F.col("doc_id") == F.col("keep_id"))
    s4 = (
        s3
        & (F.col("doc_id") % DECON_EVAL_MOD != 0)
        & ~F.col("contaminated")
    )
    s5 = s4 & (F.col("mixhex") < _mixture_threshold_col())
    s6 = s5 & (F.col("bucket") < 98)

    stages = [
        ("0_ingest", F.lit(True)),
        ("1_lang", s1),
        ("2_quality", s2),
        ("3_model_gate", s2m),
        ("4_exact_dedup", s3),
        ("5_decontaminate", s4),
        ("6_mixture", s5),
        ("7_train_split", s6),
    ]
    aggs = []
    for name, flag in stages:
        aggs.append(F.sum(flag.cast("long")).alias(f"d_{name}"))
        aggs.append(
            F.sum(F.when(flag, F.col("n_tok")).otherwise(0)).cast("long").alias(
                f"t_{name}"
            )
        )
    wide = feat.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', d_{name}, t_{name}" for name, _ in stages
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(stages)}, {stack_args}) as (stage, n_docs, n_tokens)"
            )
        )
        .orderBy("stage")
    )


def _funnel_oracle() -> str:
    from .dedup import DECON_EVAL_MOD, DECON_NGRAM
    from .text import CASCADE_FEAT_SQL, CASCADE_GATE_MIN_TOK, cascade_model_sql

    n = DECON_NGRAM
    terms = " || ' ' || ".join([f"t[i+{j}]" for j in range(n)])
    mix_case = _mixture_case_sql()
    score_sql = "b + w_x1*x1 + w_x2*x2 + w_x3*x3 + w_x4*x4 + w_x5*x5"
    stage_selects = []
    for name, cte in (
        ("0_ingest", "feat"),
        ("1_lang", "s1"),
        ("2_quality", "s2"),
        ("3_model_gate", "s2m"),
        ("4_exact_dedup", "s3"),
        ("5_decontaminate", "s4"),
        ("6_mixture", "s5"),
        ("7_train_split", "s6"),
    ):
        stage_selects.append(
            f"SELECT '{name}' AS stage, count(*) AS n_docs,"
            f" coalesce(sum(n_tok), 0)::bigint AS n_tokens FROM {cte}"
        )
    union = "\nUNION ALL\n".join(stage_selects)
    return f"""
WITH toks AS (
  SELECT doc_id, source, lang, text,
         regexp_extract_all(lower(text), '\\S+') AS t
  FROM documents
), feat0 AS (
  SELECT doc_id, source, lang,
         len(t) AS n_tok,
         round((CASE WHEN len(t) >= 10 AND len(t) <= 10000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(t) > 0
                      AND length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t) >= 3
                      AND length(list_aggregate(t, 'string_agg', '')) * 1.0 / len(t) <= 10
                     THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(t) > 0
                      AND len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0 / len(t) >= 0.05
                     THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN length(text) > 0
                      AND length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) * 1.0 / length(text) <= 0.1
                     THEN 0.25 ELSE 0.0 END), 4) AS q,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS mixhex,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::bigint
           % 100 AS bucket,
{CASCADE_FEAT_SQL}
  FROM toks
), cgate AS (
  SELECT * FROM feat0 WHERE n_tok >= {CASCADE_GATE_MIN_TOK}
), {cascade_model_sql("cgate")}, feat AS (
  SELECT feat0.*, round({score_sql}, 6) AS cscore
  FROM feat0 CROSS JOIN cmodel
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= {n}
         THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
              i -> {terms}))
         ELSE [] END) AS sh
  FROM toks
), contam AS (
  SELECT DISTINCT tr.doc_id
  FROM sh tr JOIN sh ev ON tr.sh = ev.sh
  WHERE tr.doc_id % {DECON_EVAL_MOD} <> 0 AND ev.doc_id % {DECON_EVAL_MOD} = 0
), s1 AS (SELECT * FROM feat WHERE lang = 'en'),
s2 AS (SELECT * FROM s1 WHERE q >= 0.75),
s2m AS (SELECT * FROM s2 WHERE n_tok >= {CASCADE_GATE_MIN_TOK} AND cscore > 0),
canon AS (SELECT fp, min(doc_id) AS keep_id FROM s2m GROUP BY fp),
s3 AS (SELECT s2m.* FROM s2m JOIN canon ON s2m.fp = canon.fp
       WHERE s2m.doc_id = canon.keep_id),
s4 AS (SELECT * FROM s3
       WHERE doc_id % {DECON_EVAL_MOD} <> 0
         AND doc_id NOT IN (SELECT doc_id FROM contam)),
s5 AS (SELECT * FROM s4 WHERE mixhex < {mix_case}),
s6 AS (SELECT * FROM s5 WHERE bucket < 98)
SELECT * FROM (
{union}
) ORDER BY stage
"""


def incremental_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CRAWL-INCREMENT curation report — ``corpus_funnel``'s
    delta-only twin: the arriving slice (doc_id % 5 = 0, the same
    arrival contract as ``dedup_incremental_probe`` /
    ``docs_dedup_probe_stream``) flows through the increment's gates and
    the funnel reports docs and tokens surviving each stage:

      0 arrivals → 1 near-dup probe vs the ALREADY-INDEXED corpus
      (drop arrivals whose exact shingle Jaccard against an indexed doc
      is ≥ 50 — ``dedup_incremental_probe``'s verified kill list,
      reused verbatim) → 2 language filter (en) → 3 quality gate
      (≥ 0.75) → 4 decontaminate (drop held-out eval docs and anything
      sharing a word 8-gram with the eval corpus).

    Every gate reuses the SAME definition as its standalone operator
    (the probe's LSH+verify, quality_score, the DECON 8-gram rule), so
    the increment report is consistent with the per-stage queries by
    construction — the publish-gate a continuous corpus build runs per
    increment, where ``corpus_funnel`` is the from-scratch build's.

    Scale shape — per-INCREMENT work only: the probe side is the stored
    index scan joined broadcast against the delta's bands (the corpus is
    never re-shingled); quality/lang are scan-side expressions over the
    arrival slice; the contamination side broadcasts the eval corpus's
    distinct 8-grams (benchmarks vs 100 TB — delta-sized) against the
    arrivals only; the funnel itself is cumulative booleans on one
    arrival-sized projection and ONE final aggregate."""
    from .dedup import (
        DECON_EVAL_MOD,
        DECON_NGRAM,
        dedup_incremental_probe,
        word_shingles,
    )
    from .text import quality_score, token_count

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    arr = d.filter(F.col("doc_id") % 5 == 0)
    kill = (
        dedup_incremental_probe(spark, sf_dir)
        .select(F.col("new_doc").alias("doc_id"))
        .distinct()
        .withColumn("killed", F.lit(True))
    )
    eval_sh = (
        d.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("sh"))
        .distinct()
    )
    contam = (
        arr.select(
            "doc_id",
            F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("sh"),
        )
        .join(F.broadcast(eval_sh), "sh")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    feat = (
        arr.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tok"),
            F.round(quality_score(F.col("text")), 4).alias("q"),
        )
        .join(kill, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_tok",
            "q",
            F.coalesce("killed", F.lit(False)).alias("killed"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )
    s1 = ~F.col("killed")
    s2 = s1 & (F.col("lang") == "en")
    s3 = s2 & (F.col("q") >= 0.75)
    s4 = (
        s3
        & (F.col("doc_id") % DECON_EVAL_MOD != 0)
        & ~F.col("contaminated")
    )
    stages = [
        ("0_arrivals", F.lit(True)),
        ("1_dedup_probe", s1),
        ("2_lang", s2),
        ("3_quality", s3),
        ("4_decontaminate", s4),
    ]
    aggs = []
    for name, flag in stages:
        aggs.append(F.sum(flag.cast("long")).alias(f"d_{name}"))
        aggs.append(
            F.sum(F.when(flag, F.col("n_tok")).otherwise(0)).cast("long").alias(
                f"t_{name}"
            )
        )
    wide = feat.agg(*aggs)
    stack_args = ", ".join(f"'{name}', d_{name}, t_{name}" for name, _ in stages)
    return (
        wide.select(
            F.expr(
                f"stack({len(stages)}, {stack_args}) as (stage, n_docs, n_tokens)"
            )
        )
        .orderBy("stage")
    )


def _oracle_incremental_funnel() -> str:
    from .dedup import (
        DECON_EVAL_MOD,
        DECON_NGRAM,
        PROBE_JACC_PCT,
        _minhash_bands_cte,
    )

    n = DECON_NGRAM
    terms = " || ' ' || ".join([f"t[i+{j}]" for j in range(n)])
    stage_preds = [
        ("0_arrivals", "TRUE"),
        ("1_dedup_probe", "NOT killed"),
        ("2_lang", "NOT killed AND lang = 'en'"),
        ("3_quality", "NOT killed AND lang = 'en' AND q >= 0.75"),
        (
            "4_decontaminate",
            f"NOT killed AND lang = 'en' AND q >= 0.75 "
            f"AND doc_id % {DECON_EVAL_MOD} <> 0 AND NOT contaminated",
        ),
    ]
    union = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS stage,"
        f" count(*) FILTER (WHERE {pred}) AS n_docs,"
        f" coalesce(sum(n_tok) FILTER (WHERE {pred}), 0)::bigint AS n_tokens"
        f" FROM afeat"
        for name, pred in stage_preds
    )
    return (
        _minhash_bands_cte()
        + f"""
, cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS dup_of
  FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
  WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
), ss AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), psizes AS (
  SELECT doc_id, len(sh) AS pn FROM shingled
), inter AS (
  SELECT cand.new_doc, cand.dup_of, count(*) AS ni
  FROM cand JOIN ss a ON a.doc_id = cand.new_doc
            JOIN ss b ON b.doc_id = cand.dup_of AND b.s = a.s
  GROUP BY 1, 2
), killset AS (
  SELECT DISTINCT i.new_doc AS doc_id
  FROM inter i JOIN psizes x ON x.doc_id = i.new_doc
               JOIN psizes y ON y.doc_id = i.dup_of
  WHERE (i.ni * 100) // (x.pn + y.pn - i.ni) >= {PROBE_JACC_PCT}
), sh8 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= {n}
         THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
              i -> {terms}))
         ELSE [] END) AS sh
  FROM toks
), contamset AS (
  SELECT DISTINCT tr.doc_id
  FROM sh8 tr JOIN sh8 ev ON tr.sh = ev.sh
  WHERE tr.doc_id % 5 = 0 AND ev.doc_id % {DECON_EVAL_MOD} = 0
), afeat AS (
  SELECT d.doc_id, d.lang,
         len(t.t) AS n_tok,
         round((CASE WHEN len(t.t) >= 10 AND len(t.t) <= 10000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(t.t) > 0
                      AND length(list_aggregate(t.t, 'string_agg', '')) * 1.0 / len(t.t) >= 3
                      AND length(list_aggregate(t.t, 'string_agg', '')) * 1.0 / len(t.t) <= 10
                     THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(t.t) > 0
                      AND len(list_filter(t.t, x -> x IN ('the','a','and','of','to','in','is','it'))) * 1.0 / len(t.t) >= 0.05
                     THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN length(d.text) = 0
                      OR length(regexp_replace(d.text, '[^!-/:-@\\[-`{{-~]', '', 'g')) * 1.0 / length(d.text) <= 0.1
                     THEN 0.25 ELSE 0.0 END), 4) AS q,
         d.doc_id IN (SELECT doc_id FROM killset) AS killed,
         d.doc_id IN (SELECT doc_id FROM contamset) AS contaminated
  FROM documents d
  JOIN (SELECT doc_id, t FROM toks) t ON d.doc_id = t.doc_id
  WHERE d.doc_id % 5 = 0
)
SELECT * FROM (
{union}
) ORDER BY stage
"""
    )


_BPE_TOPK = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop: corpus-weighted adjacent character-
    pair frequencies (the statistic every merge step of byte-pair
    encoding ranks on), top-20 pairs.

    Scale shape — the classic BPE trick: the corpus stream is first
    reduced to the VOCABULARY (word → occurrence count, one shuffle with
    map-side partial counts), and pair generation then explodes over
    distinct words only — bounded by vocabulary size, not corpus size.
    At 100 TB the vocab table is millions of rows while the corpus is
    trillions of tokens; generating pairs after the reduce is the
    difference between a bounded second stage and re-scanning the
    corpus. All pure JVM expressions (sequence/transform/substring
    inside whole-stage codegen)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    wc = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
        .filter(F.length("w") >= 2)
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wn",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOPK)
    )


ORACLE_BPE_PAIRS = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
), wc AS (
  SELECT w, count(*) AS wn FROM words GROUP BY w
), pos AS (
  SELECT w, wn, unnest(range(1, length(w))) AS i FROM wc
)
SELECT substring(w, CAST(i AS INT), 2) AS pair,
       CAST(sum(wn) AS BIGINT) AS n
FROM pos
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOPK}
"""


_VOCAB_K = 100


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate measurement — the check run
    before committing to a tokenizer vocabulary: what fraction of the
    corpus token stream is covered by the top-K vocabulary, per source
    (a source with high OOV under the global vocab will tokenize into
    long byte-fallback sequences and train badly).

    Scale shape: one token-count shuffle builds the vocabulary, the
    top-K is a TakeOrdered (no global sort), and coverage is the token
    stream left-joined to the BROADCAST vocab — no second big shuffle.
    Counts are exact longs."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(r"\S+"), 0)
        ).alias("t"),
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "t")
        .limit(_VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0)))
            .cast("long")
            .alias("covered_tokens"),
        )
        .orderBy("source")
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '\\S+')) AS t
  FROM documents
), vocab AS (
  SELECT t FROM (
    SELECT t, count(*) AS n FROM toks GROUP BY t
    ORDER BY n DESC, t LIMIT {_VOCAB_K}
  )
)
SELECT source,
       count(*) AS total_tokens,
       CAST(sum(CASE WHEN vocab.t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS covered_tokens
FROM toks LEFT JOIN vocab ON toks.t = vocab.t
GROUP BY source
ORDER BY source
"""



# --- temperature-scaled multilingual resampling ------------------------------

_TEMP_ALPHA = 0.5     # sampling temperature (XLM-R's multinomial alpha)
_TEMP_2_52 = float(1 << 52)


def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing — the multilingual-corpus
    mixing rule (sample language l with probability proportional to
    p_l^alpha, alpha=0.5): high-resource languages are down-sampled so
    the low-resource tail is not drowned. Rendered deterministic and
    id-stable: every language keeps the fraction
    f_l = (n_min / n_l)^(1-alpha) of its documents (the smallest
    language keeps 100%), and each doc's keep decision is a pure
    function of its id (md5 uniform < f_l) — re-running on a grown
    corpus keeps every previously-kept doc (mixture_sample's contract,
    with the rates now DERIVED from corpus statistics instead of
    configured).

    Engine-portability: f_l = sqrt(n_min/n_l) is one IEEE division and
    one IEEE sqrt of exact integers (both correctly rounded, so
    bit-identical in any engine); the uniform is 52 md5 bits scaled by
    2^-52 (exact in a double); the comparison is then identical
    everywhere. Scale shape: one per-language count (tiny), broadcast
    back onto the scan; the keep decision is a row-local expression —
    at 100 TB this is a pushed filter over a language-partitioned
    table, no shuffle before the final per-language rollup.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    nmin = counts.agg(F.min("n_lang").alias("n_min"))
    f = counts.crossJoin(nmin).select(
        "lang",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_lang").cast("double")).alias("f"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 13
            ),
            16,
            10,
        ).cast("long")
        / F.lit(_TEMP_2_52)
    )
    keep = u < F.col("f")
    return (
        d.join(F.broadcast(f), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.round(F.max("f"), 6).alias("keep_frac"),
        )
        .orderBy("lang")
    )


ORACLE_TEMPERATURE = f"""
WITH c AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
), m AS (
  SELECT min(n_lang) AS n_min FROM c
), f AS (
  SELECT lang, sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE)) AS f
  FROM c, m
), d AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 13))::bigint
           / {_TEMP_2_52} AS u
  FROM documents
)
SELECT d.lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN d.u < f.f THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(max(f.f), 6) AS keep_frac
FROM d JOIN f ON d.lang = f.lang
GROUP BY d.lang ORDER BY d.lang
"""



# --- small-file compaction ---------------------------------------------------

_COMPACT_CAP = 500      # records per file in the fragmented stage
_COMPACT_TARGET = 4     # compacted output file count


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance operator every
    long-running lakehouse pipeline needs (streaming sinks and
    per-batch writers fragment tables into thousands of tiny files;
    scan throughput then dies on open/seek overhead, the classic HDFS
    small-files problem): stage the corpus fragmented
    (``maxRecordsPerFile`` = {cap}), then compact to {target} files via
    one repartition write, and PROVE the rewrite from the filesystem —
    the returned file/row counts are read from disk, fragmented stage
    vs compacted stage.

    The fragmented file count is deterministic (a single write task
    splits ceil(n / cap) ways), so the oracle can state it from
    count(*) alone; the compacted count is the repartition width. A
    lost or duplicated row in the rewrite breaks the hash match.

    Scale shape: compaction is one shuffle (repartition) + one write —
    at 100 TB it runs per partition-directory with
    ``spark.sql.files.maxPartitionBytes`` sizing the read side and the
    repartition width chosen as table_bytes / target_file_size. The
    read of the fragmented stage is the expensive half — which is the
    point of doing the compaction.
    """
    ff, fr, cf, cr = _compaction_counts(spark, sf_dir)
    return spark.createDataFrame(
        [("compacted", cf, cr), ("fragmented", ff, fr)],
        "stage string, n_files bigint, n_rows bigint",
    ).orderBy("stage")


@artifact
def _compaction_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int, int, int]:
    """(fragmented files, rows, compacted files, rows), read from disk."""
    import glob

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    frag = scratch_dir("grebi_frag_")
    comp = scratch_dir("grebi_comp_")
    (
        d.repartition(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _COMPACT_CAP)
        .parquet(frag)
    )
    staged = spark.read.parquet(frag)
    (
        staged.repartition(_COMPACT_TARGET)
        .write.mode("overwrite")
        .parquet(comp)
    )
    n_frag_files = len(glob.glob(f"{frag}/*.parquet"))
    n_comp_files = len(glob.glob(f"{comp}/*.parquet"))
    n_frag_rows = spark.read.parquet(frag).count()
    n_comp_rows = spark.read.parquet(comp).count()
    return n_frag_files, n_frag_rows, n_comp_files, n_comp_rows


compact_small_files.__doc__ = compact_small_files.__doc__.format(
    cap=_COMPACT_CAP, target=_COMPACT_TARGET
)


ORACLE_COMPACT = f"""
SELECT 'compacted' AS stage, {_COMPACT_TARGET} AS n_files, count(*) AS n_rows
FROM documents
UNION ALL
SELECT 'fragmented' AS stage,
       (count(*) + {_COMPACT_CAP - 1}) // {_COMPACT_CAP} AS n_files,
       count(*) AS n_rows
FROM documents
ORDER BY stage
"""


EPOCH_SHARDS = 8


def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle — the epoch loader's
    contract: every epoch is a DIFFERENT but fully reproducible
    permutation of the corpus, with documents assigned to reader shards
    and ordered within each shard, and NO global sort anywhere.

    Per epoch e, each document gets the stable pseudorandom key
    ``md5('epoch{e}:' || doc_id)``; its shard is a key-prefix bucket
    (row-local hash — at 100 TB this is ``write.partitionBy(epoch,
    shard)`` + ``sortWithinPartitions(key)``, the standard two-level
    shuffle; a global orderBy would be an all-data sort for no reader
    benefit). The output proves the three loader-critical properties
    for epochs 0 and 1 in one 8-row result:

    * coverage: per-shard doc counts and id-checksums sum to the corpus
      exactly once per epoch;
    * determinism: the FIRST document of each shard's read order
      (arg-min by key) — re-runs and the independent oracle land on the
      same document;
    * actual reshuffling: ``moved_in`` counts documents whose epoch-1
      shard differs from their epoch-0 shard (≈ 7/8 of each shard if
      the permutations are independent).
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]

    def key(e: int) -> Column:
        return F.md5(F.concat(F.lit(f"epoch{e}:"), F.col("doc_id").cast("string")))

    def shard(k: Column) -> Column:
        return F.conv(F.substring(k, 1, 8), 16, 10).cast("long") % EPOCH_SHARDS

    d2 = d.select(
        "doc_id",
        key(0).alias("k0"),
        key(1).alias("k1"),
        shard(key(0)).alias("s0"),
        shard(key(1)).alias("s1"),
    )
    a0 = d2.groupBy(F.col("s0").alias("shard")).agg(
        F.count("*").alias("n_e0"),
        F.sum("doc_id").alias("sum_ids_e0"),
        F.min_by("doc_id", "k0").alias("first_e0"),
    )
    a1 = d2.groupBy(F.col("s1").alias("shard")).agg(
        F.count("*").alias("n_e1"),
        F.min_by("doc_id", "k1").alias("first_e1"),
        F.sum((F.col("s0") != F.col("s1")).cast("long")).alias("moved_in"),
    )
    return a0.join(a1, "shard").orderBy("shard")


ORACLE_EPOCH_SHUFFLE = f"""
WITH d2 AS (
  SELECT doc_id,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k0,
         md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k1,
         ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 8))::bigint
           % {EPOCH_SHARDS} AS s0,
         ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 8))::bigint
           % {EPOCH_SHARDS} AS s1
  FROM documents
), a0 AS (
  SELECT s0 AS shard, count(*) AS n_e0, sum(doc_id) AS sum_ids_e0,
         arg_min(doc_id, k0) AS first_e0
  FROM d2 GROUP BY s0
), a1 AS (
  SELECT s1 AS shard, count(*) AS n_e1, arg_min(doc_id, k1) AS first_e1,
         sum(CASE WHEN s0 <> s1 THEN 1 ELSE 0 END) AS moved_in
  FROM d2 GROUP BY s1
)
SELECT a0.shard, n_e0, sum_ids_e0, first_e0, n_e1, first_e1, moved_in
FROM a0 JOIN a1 ON a0.shard = a1.shard
ORDER BY a0.shard
"""


# --- sequence packing (concat-and-chunk pretraining layout) -----------------

_PACK_SEQ_LEN = 512  # tokens per packed training sequence


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sample packing: concatenate the corpus token stream in
    doc_id order and split it into fixed ``_PACK_SEQ_LEN``-token
    training sequences, documents spanning sequence boundaries — the
    concat-and-chunk layout real pretraining loaders use (every
    sequence exactly full, zero padding waste, vs per-doc truncation).
    The complement of ``text.pack_sequences``: that one assigns WHOLE
    documents to per-source token-budget bins (no doc ever split, bins
    overflow); this one cuts exact fixed-length sequences from the
    GLOBAL stream, so documents split across sequence boundaries and
    the prefix sum cannot hide behind a per-source window partition.
    Returns the first 100 sequences with per-sequence packing stats:
    how many documents each sequence draws from (``n_docs``), the token
    count (``n_tokens`` — _PACK_SEQ_LEN everywhere but the tail), and
    the contributing doc_id range.

    Scale shape — the global running token offset with NO
    single-partition window (the ``curriculum_buckets`` machinery, with
    a SUM instead of a rank): ``repartitionByRange(doc_id)`` gives the
    global document order across partitions; the within-partition
    prefix sum is a window PARTITIONED by the range-partition ordinal
    (parallel, from ``monotonically_increasing_id``'s high bits);
    per-partition token totals (one tiny collect, #partitions rows)
    convert local prefixes to exact global stream offsets. Each doc
    then knows its [start, end) token span row-locally, explodes to
    the sequences it overlaps (≤ n_tok/C + 1 rows — bounded fan-out,
    no shuffle), and a final seq_id aggregation produces the stats.
    One corpus shuffle + one partial-agg shuffle total at any scale."""
    from pyspark.sql.window import Window

    C = _PACK_SEQ_LEN
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    counted = (
        d.select("doc_id", F.size(toks).alias("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    ranged = (
        counted.repartitionByRange(F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("mid", F.monotonically_increasing_id())
        .localCheckpoint()  # pin partition contents: the totals collect
        # and the final plan must see the SAME partitioning
    )
    pid = F.shiftright(F.col("mid"), 33)
    sums = sorted(
        (r["pid"], r["s"])
        for r in ranged.groupBy(pid.alias("pid"))
        .agg(F.sum("n_tok").alias("s"))
        .collect()
    )
    offsets, acc = {}, 0
    for p, s in sums:  # pid order IS range order: partition 0 holds
        # the lowest doc_id range
        offsets[p] = acc
        acc += s
    off_map = F.create_map(
        *[F.lit(x) for p, o in offsets.items() for x in (p, o)]
    )
    local_prefix = F.coalesce(
        F.sum("n_tok").over(
            Window.partitionBy(pid)
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    spans = ranged.select(
        "doc_id",
        "n_tok",
        (F.element_at(off_map, pid) + local_prefix).alias("start"),
    ).withColumn("end", F.col("start") + F.col("n_tok"))
    # integer `div`, not floor(x/C): float division would lose token
    # offsets past 2^53 — exact at any corpus size
    seq = F.explode(
        F.sequence(
            F.expr(f"start div {C}"), F.expr(f"(end - 1) div {C}")
        )
    ).alias("seq_id")
    hits = spans.select("doc_id", "start", "end", seq).withColumn(
        "contrib",
        F.least(F.col("end"), (F.col("seq_id") + 1) * C)
        - F.greatest(F.col("start"), F.col("seq_id") * C),
    )
    return (
        hits.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("contrib").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
        .limit(100)
    )


ORACLE_PACK = f"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
), nz AS (
  SELECT * FROM toks WHERE n_tok > 0
), spans AS (
  SELECT doc_id, n_tok,
         coalesce(sum(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS s
  FROM nz
), hits AS (
  SELECT doc_id, seq.seq AS seq_id,
         least(s + n_tok, (seq.seq + 1) * {_PACK_SEQ_LEN})
           - greatest(s, seq.seq * {_PACK_SEQ_LEN}) AS contrib
  FROM spans,
       unnest(range(s // {_PACK_SEQ_LEN},
                    ((s + n_tok - 1) // {_PACK_SEQ_LEN}) + 1)) AS seq(seq)
)
SELECT seq_id,
       count(*) AS n_docs,
       sum(contrib)::bigint AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM hits
GROUP BY seq_id
ORDER BY seq_id
LIMIT 100
"""


QUERIES = {
    "incremental_curation_funnel": incremental_curation_funnel,
    "pack_training_sequences": pack_training_sequences,
    "kmeans_assign_twolevel": kmeans_assign_twolevel,
    "epoch_shuffle": epoch_shuffle,
    "mixture_sample": mixture_sample,
    "temperature_mixture": temperature_mixture,
    "compact_small_files": compact_small_files,
    "bpe_pair_counts": bpe_pair_counts,
    "vocab_coverage": vocab_coverage,
    "chunk_documents": chunk_documents,
    "kmeans_embeddings": kmeans_embeddings,
    "corpus_split": corpus_split,
    "corpus_funnel": corpus_funnel,
    "span_corruption": span_corruption,
    "write_training_shards": write_training_shards,
}

ORACLES = {
    "incremental_curation_funnel": _oracle_incremental_funnel(),
    "pack_training_sequences": ORACLE_PACK,
    "kmeans_assign_twolevel": _oracle_kmeans_twolevel(),
    "epoch_shuffle": ORACLE_EPOCH_SHUFFLE,
    "mixture_sample": ORACLE_MIXTURE,
    "temperature_mixture": ORACLE_TEMPERATURE,
    "compact_small_files": ORACLE_COMPACT,
    "bpe_pair_counts": ORACLE_BPE_PAIRS,
    "vocab_coverage": ORACLE_VOCAB_COVERAGE,
    "chunk_documents": ORACLE_CHUNKS,
    "kmeans_embeddings": ORACLE_KMEANS,
    "corpus_split": ORACLE_SPLIT,
    "corpus_funnel": _funnel_oracle(),
    "span_corruption": ORACLE_SPAN_CORRUPTION,
    "write_training_shards": ORACLE_SPLIT,
}
