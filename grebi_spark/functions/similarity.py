"""Similarity search over an embedding column (array<float>).

Two physical strategies for the same logical top-k-by-cosine query:

- ``ann_cosine_topk`` — brute force: one narrow scan, per-row dot product
  with the broadcast query vector, TakeOrdered top-k. The correctness
  baseline; O(N·d) but embarrassingly parallel (no shuffle at all).
- ``ann_lsh_topk`` — the scale path: deterministic sign-bit LSH buckets
  (hyperplanes = coordinate axes of the leading dimensions). Each vector
  lands in one bucket; the query probes only its own bucket. At 100 TB the
  table is written bucketed/partitioned by this key, so a query reads one
  partition — partition pruning does the candidate selection. (An IVF
  variant would learn centroids instead; the plumbing is identical.)

The dot product is a fold over zip_with in pure built-in expressions —
sequential, deterministic, engine-portable (matches the DuckDB oracle
bit-for-bit before rounding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables
from .num import half_up_np

N_PLANES = 4  # sign bits -> 16 buckets


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sign_bucket(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Deterministic LSH bucket: sign bits of the first n_planes dims."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


# driver-side point lookups are tiny but these queries run in loops from
# the bench/driver — cache per (sf_dir, vec_id) so repeat invocations
# skip the lookup job entirely
@artifact
def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    row = e.filter(F.col("vec_id") == vec_id).select("embedding").head()
    return [float(x) for x in row["embedding"]]


@artifact
def _seed_vectors(spark: SparkSession, sf_dir: str, upto: int) -> dict[int, list[float]]:
    """vec_id → vector for vec_ids 0..upto (query + deterministic seeds)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    rows = (
        e.filter((F.col("vec_id") >= 0) & (F.col("vec_id") <= upto))
        .select("vec_id", "embedding")
        .collect()
    )
    return {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the query vector (vec_id 0)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = F.array(*[F.lit(x) for x in _query_vector(spark, sf_dir)])
    v = as_double(F.col("embedding"))
    return (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.round(cosine(v, as_double(q)), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


ORACLE_ANN_BRUTE = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label::int AS label,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: probe only the query's sign-bit bucket, top-5 there."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = _query_vector(spark, sf_dir)
    q = F.array(*[F.lit(x) for x in qv])
    q_bucket = sum((1 << i) for i in range(N_PLANES) if qv[i] >= 0)
    v = as_double(F.col("embedding"))
    return (
        e.withColumn("bucket", sign_bucket(v))
        .filter((F.col("bucket") == q_bucket) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "bucket",
            F.round(cosine(v, as_double(q)), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


def _oracle_ann_lsh() -> str:
    bits = " + ".join(
        f"(CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(N_PLANES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv, ({bits})::int AS qb FROM v WHERE vec_id = 0
), bucketed AS (
  SELECT vec_id, v, ({bits})::int AS bucket FROM v
)
SELECT b.vec_id, b.bucket,
       round(list_dot_product(b.v, q.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
FROM bucketed b, q
WHERE b.bucket = q.qb AND b.vec_id != 0
ORDER BY cos_sim DESC, b.vec_id
LIMIT 5
"""


N_CELLS = 16   # IVF cells (seed vectors stand in for k-means centroids)
N_PROBE = 4    # cells probed per query


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of N_CELLS
    centroid cells (argmax cosine); the query probes only its N_PROBE
    nearest cells and takes the exact top-5 there.

    Centroids here are the seed vectors vec_id 1..N_CELLS — a
    deterministic stand-in for k-means training (which would be an
    iterative assign/recenter loop over the same plumbing). The scale
    path is identical to production IVF: the table is written partitioned
    by cell, so a query's scan prunes to nprobe/ncells of the data;
    recall depends on how well the corpus clusters (synthetic random
    vectors cluster weakly — the structure, not the recall, is the
    contract here).
    """
    byid = _seed_vectors(spark, sf_dir, N_CELLS)
    qv, cents = byid[0], [byid[i] for i in range(1, N_CELLS + 1)]

    # driver-side probe selection (tiny: N_CELLS cosines) — same float
    # sequence as the engines' sequential dot-product folds
    qn = _pydot(qv, qv) ** 0.5
    probe = sorted(
        range(1, N_CELLS + 1),
        key=lambda i: (
            -_pydot(qv, cents[i - 1]) / (qn * _pydot(cents[i - 1], cents[i - 1]) ** 0.5),
            i,
        ),
    )[:N_PROBE]

    import math

    q_norm = math.sqrt(_pydot(qv, qv))
    q = F.array(*[F.lit(float(x)) for x in qv])
    cos_q = dot(F.col("_vd"), q) / (F.col("_nv") * F.lit(q_norm))
    return (
        _ivf_assignment(spark, sf_dir)
        .filter(F.col("cell").isin(probe) & (F.col("vec_id") != 0))
        .select("vec_id", "cell", F.round(cos_q, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


def _pydot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


@artifact
def _ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's argmax-cosine seed cell, persisted."""
    import math

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    byid = _seed_vectors(spark, sf_dir, N_CELLS)
    cents = [byid[i] for i in range(1, N_CELLS + 1)]
    # Cell assignment, restructured for one evaluation per row (the old
    # form cost ~3× the folds it needed — guide §1.2 "don't compute
    # things twice", §7.2 duplicated-subtree check):
    # - the double-cast vector and its norm are projected ONCE and shared
    #   by all N_CELLS cell cosines and the final query cosine (before,
    #   every cosine() re-ran the cast transform and the dot(v,v) fold);
    # - centroid/query arrays are literal DOUBLES — the old
    #   as_double(lit_array) wrapped every per-row dot in a 128-element
    #   cast transform that constant folding cannot remove (lambdas are
    #   never folded), a no-op double→double cast paid per row per cell;
    # - centroid/query norms are driver-side floats built with the SAME
    #   sequential IEEE fold the engine's aggregate() runs (0.0 + x*y in
    #   array order, then sqrt), so every cosine stays bit-identical to
    #   dot(v,c) / (sqrt(dot(v,v)) * sqrt(dot(c,c))) — unchanged values
    #   and multiplication order, oracle hash unchanged;
    # - the persist() pins the assignment so the probe filter reads the
    #   computed `cell` instead of being pushed below the projection and
    #   re-evaluating the whole 16-cosine argmax per row (the plan showed
    #   the full array_max duplicated into the Filter, the r9 defect
    #   plan-gated by
    #   test_ann_ivf_cell_assignment_not_duplicated_into_filter). One
    #   persisted HANDLE per (session, sf_dir); the bench's per-query
    #   clearCache() still evicts the DATA, so every timed run recomputes
    #   the assignment, and the registry re-registers the persist on the
    #   next call. Production serves assignments from the cell-partitioned
    #   stored index (ann_index_persist_topk), not this in-session frame.
    cent_norms = [math.sqrt(_pydot(c, c)) for c in cents]
    nv = F.col("_nv")
    vd = F.col("_vd")
    cos_cells = F.array(
        *[
            F.struct(
                (
                    dot(vd, F.array(*[F.lit(float(x)) for x in cents[i - 1]]))
                    / (nv * F.lit(cent_norms[i - 1]))
                ).alias("cs"),
                F.lit(i).alias("cell"),
            )
            for i in range(1, N_CELLS + 1)
        ]
    )
    return (
        e.select("vec_id", as_double(F.col("embedding")).alias("_vd"))
        .withColumn("_nv", F.sqrt(dot(vd, vd)))
        .withColumn("cell", F.array_max(cos_cells)["cell"])
        .persist()
    )


ORACLE_ANN_IVF = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM v WHERE vec_id = 0
), c AS (
  SELECT vec_id AS cell, v AS cv FROM v WHERE vec_id BETWEEN 1 AND {N_CELLS}
), probe AS (
  SELECT cell FROM c, q
  ORDER BY list_dot_product(cv, qv)
           / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC, cell
  LIMIT {N_PROBE}
), assigned AS (
  SELECT v.vec_id,
         arg_max(c.cell, list_dot_product(v.v, c.cv)
                 / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv)))) AS cell
  FROM v, c GROUP BY v.vec_id
)
SELECT a.vec_id, a.cell,
       round(list_dot_product(v.v, q.qv)
             / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
FROM assigned a
JOIN v ON v.vec_id = a.vec_id, q
WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id != 0
ORDER BY cos_sim DESC, a.vec_id
LIMIT 5
"""


_PURITY_QUANT = 1000  # milli-unit embedding quantization (see docstring)


def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine coherence: avg cosine of each vector to
    its label centroid — a clustering-quality aggregate, restated in
    EXACT integer arithmetic so it is fully oracle-checkable (the float
    version's centroid sums and cosine averaging are FP-accumulation-
    order-dependent across engines).

    How the FP-order dependence is eliminated:
    - vectors are quantized to milli-unit bigints (round(x·1000)) —
      identical in any engine on identical input doubles;
    - cos(v, centroid) == cos(v, S) where S is the un-divided integer
      SUM vector (the 1/n scaling cancels), so the centroid is an exact
      bigint vector with order-free summation;
    - dot products and squared norms are exact bigint folds; the only
      float ops are two correctly-rounded sqrts and one fixed division
      — bit-identical everywhere;
    - per-vector cosines are re-quantized to micro-units before the
      per-label average, so the final sum is exact again.

    Scale note: bigint headroom holds to ~1e5 vectors/label at
    milli-quantization; beyond that, coarsen the quantization or switch
    the norm accumulators to decimal(38,0) — same plan shape."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    dim = 64
    q = _PURITY_QUANT
    iv = F.expr(
        f"transform(embedding, x -> cast(round(cast(x as double) * {q}) as bigint))"
    )
    base = e.select(F.col("label").cast("int").alias("label"), iv.alias("v"))
    sums = base.groupBy("label").agg(
        *[
            F.sum(F.element_at("v", i + 1)).cast("long").alias(f"s{i}")
            for i in range(dim)
        ],
    )
    cents = sums.select(
        "label", F.array(*[F.col(f"s{i}") for i in range(dim)]).alias("s")
    )
    joined = base.join(F.broadcast(cents), "label")
    per_vec = joined.select(
        "label",
        F.expr(
            "aggregate(zip_with(v, s, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
        ).alias("dot"),
        F.expr(
            "aggregate(v, 0L, (acc, x) -> acc + x * x)"
        ).alias("na2"),
        F.expr(
            "aggregate(s, 0L, (acc, x) -> acc + x * x)"
        ).alias("nc2"),
    )
    cs_u = F.round(
        F.col("dot") / (F.sqrt("na2") * F.sqrt("nc2")) * 1000000, 0
    ).cast("long")
    return (
        per_vec.select("label", cs_u.alias("cu"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.round(F.sum("cu") / (F.count("*") * 1000000.0), 4).alias(
                "avg_centroid_cosine"
            ),
        )
        .orderBy("label")
    )


ORACLE_LABEL_PURITY = f"""
WITH iv AS (
  SELECT label::int AS label,
         list_transform(embedding::DOUBLE[],
                        x -> round(x * {_PURITY_QUANT})::bigint) AS v
  FROM embeddings
), ex AS (
  SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM iv
), cent AS (
  SELECT label, pos, sum(x)::bigint AS s FROM ex GROUP BY label, pos
), cl AS (
  SELECT label, list(s ORDER BY pos) AS s FROM cent GROUP BY label
), per_vec AS (
  SELECT iv.label,
         list_sum(list_transform(range(1, 65), i -> iv.v[i] * cl.s[i]))::bigint
           AS dot,
         list_sum(list_transform(iv.v, x -> x * x))::bigint AS na2,
         list_sum(list_transform(cl.s, x -> x * x))::bigint AS nc2
  FROM iv JOIN cl USING (label)
), u AS (
  SELECT label,
         round(dot / (sqrt(na2) * sqrt(nc2)) * 1000000)::bigint AS cu
  FROM per_vec
)
SELECT label, count(*)::bigint AS n_vectors,
       round(sum(cu) / (count(*) * 1000000.0), 4) AS avg_centroid_cosine
FROM u GROUP BY label ORDER BY label
"""


KNN_K = 5
KNN_N_QUERIES = 20


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction: for each of the first KNN_N_QUERIES vectors,
    take the KNN_K nearest (cosine) vectors from the rest of the corpus
    and predict the majority label (ties → smaller label).

    Fully deterministic and oracle-checkable — the cosine is the same
    sequential zip_with fold both engines run, neighbour rank ties break
    on vec_id, and the vote argmax breaks on label.

    Scale shape: the probe side is a BROADCAST of the (tiny) query set
    against one corpus scan — per-row work is |Q|·d multiply-adds,
    no shuffle until the per-query top-k window on (query_id)-partitioned
    candidates, which AQE sizes. At real scale the corpus side would be
    the LSH/IVF-pruned candidate set instead of the full scan; the vote
    is identical."""
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = as_double(F.col("embedding"))
    base = e.select(
        "vec_id", F.col("label").cast("int").alias("label"), v.alias("v")
    )
    queries = base.filter(F.col("vec_id") < F.lit(KNN_N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cands = base.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        "label",
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cs"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), "vec_id")
    nn = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= KNN_K)
    votes = nn.groupBy("query_id", "label").agg(F.count("*").alias("n"))
    wv = Window.partitionBy("query_id").orderBy(F.desc("n"), "label")
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), F.col("n").alias("votes"))
        .orderBy("query_id")
    )


ORACLE_KNN_CLASSIFY = f"""
WITH v AS (
  SELECT vec_id, label::int AS label, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {KNN_N_QUERIES}
), scored AS (
  SELECT q.query_id, v.vec_id, v.label,
         round(list_dot_product(v.v, q.qv)
               / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(q.qv, q.qv))),
               6) AS cs
  FROM v, q WHERE v.vec_id != q.query_id
), nn AS (
  SELECT query_id, label,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rk
  FROM scored
), votes AS (
  SELECT query_id, label, count(*) AS n FROM nn WHERE rk <= {KNN_K}
  GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, n AS votes
FROM (
  SELECT query_id, label, n,
         row_number() OVER (PARTITION BY query_id ORDER BY n DESC, label) AS vrk
  FROM votes
)
WHERE vrk = 1
ORDER BY query_id
"""


IVF_NPROBE_TRAINED = 3


def _probe_cells(cents, qv, nprobe: int) -> list[int]:
    """Driver-side probe selection: K rounded query→centroid distances,
    same sequential float fold as both engines → identical cell choice.
    HALF_UP to match F.round and DuckDB round (Python's built-in round
    is banker's half-even — a different tie rule)."""
    from .num import half_up

    def dist(c):
        s = 0.0
        for x, y in zip(qv, c):
            s += (x - y) * (x - y)
        return half_up(s**0.5)

    probe = sorted(cents, key=lambda kc: (dist(kc[1]), kc[0]))[:nprobe]
    return [k for k, _ in probe]


def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with LEARNED centroids: the cells are the k-means centroids
    from ``training.kmeans_embeddings`` (2 Lloyd iterations,
    deterministic init), the query probes its IVF_NPROBE_TRAINED nearest
    cells, exact top-5 by Euclidean distance inside the probed cells.

    This closes the loop the seed-cell variant (``ann_ivf_topk``)
    stubs: train → assign → prune → exact-rank, all oracle-checked —
    the DuckDB oracle re-derives the same centroids from the same
    pure-SQL k-means and must land on the same cells, probes, and
    ranking. Scale shape: assignment is a map-only pass against K
    broadcast literal centroids; written partitioned by cell, a query
    scan prunes to nprobe/K of the data."""
    from .training import _euclid_dist, assign_routed, centroids

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = centroids(spark, sf_dir)
    qv = _query_vector(spark, sf_dir)
    probe_ids = _probe_cells(cents, qv, IVF_NPROBE_TRAINED)

    v = as_double(F.col("embedding"))
    q = F.array(*[F.lit(x) for x in qv])
    # the gated two-level router (n·2√K) instead of the flat n·K argmin —
    # the oracle's ``sel`` CTE mirrors the same gate decision
    best = assign_routed(spark, sf_dir, v)
    return (
        e.withColumn("cell", best.getField("cluster"))
        .filter(F.col("cell").isin(probe_ids) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "cell",
            F.round(_euclid_dist(v, q), 6).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(5)
    )


def _oracle_ann_ivf_trained(label_cols: str = "", label_pred: str = "") -> str:
    from .training import ORACLE_KMEANS_CTES

    # the k-means oracle's shared CTE chain (init → assign2) + IVF probe;
    # label_cols/label_pred mirror the filtered-search variant
    return (
        ORACLE_KMEANS_CTES
        + f""",
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cluster FROM cent2, qv
  ORDER BY round(list_distance(c, q), 6), cluster
  LIMIT {IVF_NPROBE_TRAINED}
)
SELECT a.vec_id,{label_cols} a.cluster AS cell,
       round(list_distance(e.embedding::DOUBLE[], qv.q), 6) AS dist
FROM sel a
JOIN embeddings e ON e.vec_id = a.vec_id, qv
WHERE a.cluster IN (SELECT cluster FROM probe) AND a.vec_id != 0{label_pred}
ORDER BY dist, a.vec_id
LIMIT 5
"""
    )


def _oracle_ann_filtered() -> str:
    return _oracle_ann_ivf_trained(
        label_cols=" e.label::int AS label,",
        label_pred=" AND e.label % 2 = 1",
    )


def save_ann_index(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Persist the trained IVF index as a SERVING artifact: the centroid
    table plus the inverted lists — (vec_id, vector) written PARTITIONED
    BY CELL. This materialises the scale layout the in-session variant
    only documents: a query that probes nprobe cells reads nprobe/K of
    the files via partition pruning, no index structure in memory —
    the Parquet-native analogue of an IVF index's posting lists.

    The ASSIGNMENT RULE is part of the index: the gate decision (routed
    two-level vs exact flat) and K are persisted alongside the
    centroids, so appends replay the exact rule the lists were built
    with — two rules in one index would place the same vector in
    different cells depending on when it arrived.

    DURABILITY: the index is published ATOMICALLY — the three tables
    are written into a fresh VERSION directory (v1, v2, …) that only
    becomes visible when its _COMMITTED marker and the root's CURRENT
    pointer land (the Iceberg version-hint shape). A failure mid-save
    leaves the previous version serving; a mixed new-centroids/stale-
    lists state is impossible (ADVICE r5). ``retrain_ann_index`` swaps
    versions blue/green through the same pointer."""
    e, cents, routed, k_int = _trained_index_inputs(spark, sf_dir)
    vname = _next_index_version(spark, root)
    _write_index_version(spark, f"{root}/{vname}", e, cents, routed, k_int)
    _publish_index_version(spark, root, vname)


def _trained_index_inputs(spark: SparkSession, sf_dir: str):
    """(vectors, centroids, gate decision, K) for ``sf_dir``'s corpus —
    the train-once inputs every index build/publication path shares."""
    from .training import centroids, gate, trained_k

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents, routed = centroids(spark, sf_dir), bool(gate(spark, sf_dir))
    return e, cents, routed, trained_k(spark, sf_dir)


def _write_index_version(
    spark: SparkSession,
    vdir: str,
    vectors: DataFrame,
    cents,
    routed: bool,
    k_int: int,
) -> None:
    """Write one complete, self-contained index version: centroid
    table, recorded assignment rule, and the cell-partitioned lists."""
    spark.createDataFrame(
        [(int(k), [float(x) for x in c]) for k, c in cents],
        "cluster int, c array<double>",
    ).write.mode("overwrite").parquet(f"{vdir}/centroids")
    spark.createDataFrame(
        [(int(routed), int(k_int))], "routed int, k int"
    ).write.mode("overwrite").parquet(f"{vdir}/mode")
    v = as_double(F.col("embedding"))
    best = _index_assign(v, cents, routed, k_int)
    (
        vectors.withColumn("cell", best.getField("cluster"))
        .select("vec_id", v.alias("v"), "cell")
        # cluster rows by cell BEFORE the partitioned write: without
        # this every task writes a file into every cell directory
        # (tasks × K files — measured 449 s at 64×/K=2000); clustered,
        # each cell's rows land in one task → ~K files total (22.2 s)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{vdir}/lists")
    )


# --- versioned index roots (blue/green publication) --------------------------


# The version-pointer machinery is shared with the graph-state
# snapshots (incremental.save_state_version) — one blue/green layout
# for every durable artifact the engine maintains.
# the CAS form: concurrent index publishers claim disjoint directories
from ..fsutil import claim_version as _next_index_version  # noqa: E402
from ..fsutil import publish_version as _publish_index_version  # noqa: E402
from ..fsutil import resolve_version_dir as _resolve_index_dir  # noqa: E402


def retrain_ann_index(spark: SparkSession, root: str) -> str:
    """CONSUME the drift signal (``ann_index_drift_check`` emits it;
    this closes the loop): re-fit centroids on the index's CURRENT
    vector population — which includes every ``append_ann_index`` batch
    since the last train — and publish the rebuilt index as a new
    version behind the same root, swapped in atomically via the CURRENT
    pointer. Training is sample-bounded (training.train_sample, the
    same md5-bucket discipline as first-time training); the gate is
    re-evaluated on the new sample, so the recorded assignment rule can
    legitimately change across a retrain. The OLD version's files are
    left in place for in-flight readers (blue/green); prune them once
    drained with ``prune_ann_index_versions``. Returns the new version
    name."""
    from .training import fit_centroids, kmeans_k, route_gate

    vdir = _resolve_index_dir(spark, root)
    vecs = spark.read.parquet(f"{vdir}/lists").select(
        "vec_id", F.col("v").alias("embedding")
    )
    n = vecs.count()
    k_int = kmeans_k(n)
    cents = fit_centroids(spark, vecs, n, k_int)
    routed = route_gate(vecs, cents, k_int, n)
    vname = _next_index_version(spark, root)
    _write_index_version(spark, f"{root}/{vname}", vecs, cents, routed, k_int)
    _publish_index_version(spark, root, vname)
    return vname


def prune_ann_index_versions(
    spark: SparkSession, root: str, claim_grace_sec: float = 600.0
) -> int:
    """Delete every version directory except CURRENT's — run once old
    readers are drained. Returns the number of versions removed.

    In-flight-writer audit: ANN index versions are SELF-CONTAINED
    (retrain_ann_index claims a directory and writes lists/centroids/
    mode INSIDE it — no shared data pool), so sparing a concurrent
    retrainer's claimed-but-uncommitted DIRECTORY (which the default
    600 s grace does, fsutil.prune_versions) is the whole fix; there
    are no cross-version files for the sweep to orphan. Pass
    ``claim_grace_sec=0`` only when no retrain is in flight."""
    from ..fsutil import prune_versions

    return prune_versions(spark, root, claim_grace_sec=claim_grace_sec)


def _index_assign(vec, cents, routed: bool, k_int: int):
    """The index's recorded assignment rule, replayed exactly — same
    dispatch as the in-session gate path (training.assign_by_rule)."""
    from .training import assign_by_rule

    return assign_by_rule(vec, cents, routed, k_int)


def append_ann_index(spark: SparkSession, root: str, new_vectors: DataFrame) -> None:
    """Incremental index maintenance: fold NEW vectors into a persisted
    IVF index WITHOUT retraining — each is assigned against the
    reloaded centroid table under the index's PERSISTED rule (routed
    two-level or exact flat, whichever the save-time gate recorded —
    see ``save_ann_index``) and appended to that cell's inverted list.
    A partition append only adds files under the touched cell
    directories; untouched cells' files are never rewritten — the
    standard production pattern (append until centroid drift forces a
    retrain). Identity contract (suite): with centroids fixed,
    append-then-query ≡ index-everything-then-query, byte-for-byte."""
    vdir = _resolve_index_dir(spark, root)
    cents = [
        (r["cluster"], r["c"])
        for r in spark.read.parquet(f"{vdir}/centroids").collect()
    ]
    try:
        mode = spark.read.parquet(f"{vdir}/mode").collect()[0]
    except Exception as exc:
        raise ValueError(
            f"{vdir} has no mode/ table — saved by a pre-rule-recording "
            "save_ann_index; re-save the index once to make it appendable"
        ) from exc
    v = as_double(F.col("embedding"))
    best = _index_assign(v, cents, bool(mode["routed"]), int(mode["k"]))
    (
        new_vectors.withColumn("cell", best.getField("cluster"))
        .select("vec_id", v.alias("v"), "cell")
        .repartition(F.col("cell"))  # one file per touched cell, not per task
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{vdir}/lists")
    )


def ingest_namespace(checkpoint_dir: str) -> str:
    """Stable marker namespace for one stream LINEAGE. Micro-batch ids
    are only unique within a checkpoint lineage — a recreated/lost
    checkpoint restarts them at 0, and un-namespaced markers would then
    silently drop genuinely new batches as 'replays' of a dead stream's
    markers.

    The namespace is the checkpoint's own query id (the UUID Structured
    Streaming writes to ``<checkpoint>/metadata`` at query start and
    keeps across restarts of the SAME checkpoint): deleting and
    recreating the checkpoint — even AT THE SAME PATH, the standard
    corrupted-checkpoint remediation, since paths are fixed in job
    config — mints a fresh id, so the new lineage's batch 0 folds
    instead of matching the dead lineage's marker. Falls back to a
    path digest only when no metadata file EXISTS yet (call it from
    inside foreachBatch — by the time a batch runs, the metadata file
    does exist).

    The metadata is read through the scheme-aware Hadoop FileSystem,
    not ``open()``: checkpoints live on hdfs:// / s3a:// in
    production, and a local ``open()`` there raises and would silently
    fall into the path digest — which is STABLE across checkpoint
    recreation at the same path, reinstating exactly the
    swallowed-first-batches bug the lineage namespace exists to
    prevent. A metadata file that exists but cannot be parsed raises
    instead of falling back, for the same reason."""
    import hashlib
    import json

    from ..incremental import _read_text

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "ingest_namespace needs an active SparkSession to read the "
            f"checkpoint metadata at {checkpoint_dir!r} through the "
            "scheme-aware filesystem"
        )
    meta = checkpoint_dir.rstrip("/") + "/metadata"
    text = _read_text(spark, meta)  # None only when the file is ABSENT
    if text is None:
        return hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    try:
        qid = json.loads(text).get("id")
    except ValueError as exc:
        raise ValueError(
            f"checkpoint metadata at {meta} exists but is not JSON — "
            "refusing the path-digest fallback (it is stable across "
            "checkpoint recreation and would swallow a new lineage's "
            "first batches as replays)"
        ) from exc
    if not qid:
        raise ValueError(
            f"checkpoint metadata at {meta} has no 'id' field — "
            "refusing the path-digest fallback"
        )
    return str(qid).replace("-", "")[:16]


def fold_ann_batch(
    spark: SparkSession,
    root: str,
    new_vectors: DataFrame,
    batch_id: int,
    run_id: str | None = None,
) -> bool:
    """Crash-replay-safe streaming append: foreachBatch re-delivers a
    batch whose offsets committed but whose work crashed, and a naive
    re-append would duplicate every vector in the touched cells. The
    fold is gated on a per-batch ``_APPENDED`` marker (an O(1) ingest
    log under the index root): a replay of a COMPLETED batch is skipped
    outright. A crash between the append and its marker still
    duplicates that one batch on replay — closing that last window
    needs an atomically-committing table format (or
    batch-id-partitioned lists); the window is one fsync wide and the
    soak's value gate would catch it. Returns True when the append ran,
    False on a skipped replay.

    ``run_id`` namespaces the marker by stream lineage (pass
    ``ingest_namespace(checkpoint_dir)``): batch ids restart at 0 when
    a checkpoint is recreated, so an un-namespaced marker from a dead
    stream would swallow a new stream's first batches as fake replays.
    ``None`` keeps the legacy un-namespaced name — callers who reuse an
    index root across checkpoint lineages must pass it."""
    from ..fsutil import fs_of

    jvm, fs = fs_of(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    stem = f"run-{run_id}-batch-{batch_id}" if run_id else f"batch-{batch_id}"
    marker = P(f"{root}/ingest_log/{stem}._APPENDED")
    if fs.exists(marker):
        return False
    append_ann_index(spark, root, new_vectors)
    fs.create(marker, True).close()
    return True


def compact_ann_index(spark: SparkSession, root: str, max_files: int = 2) -> int:
    """The maintenance sweep that keeps an append-only index healthy:
    every ``append_ann_index`` adds a file per touched cell, so a
    long-lived index accumulates small files exactly where appends
    concentrate. Compaction rewrites ONLY the cells holding more than
    ``max_files`` files — read back via partition pruning, rewritten in
    one file each under dynamic partition overwrite, so untouched
    cells' files are never touched (the LSM minor-compaction shape,
    same contract as the graph-side ``compact_state``). Returns the
    number of cells compacted; list CONTENT is unchanged (suite).

    Cell discovery goes through the Hadoop FileSystem API (not
    driver-local glob), so the sweep sees hdfs:// and s3a:// roots the
    same way the Spark reader does — a local-only glob would silently
    find nothing on a remote index root.

    In-flight-writer audit (the prune_state_versions race family):
    dynamic partition overwrite REPLACES a crowded cell's file set, so
    an ``append_ann_index`` batch landing in the window between this
    sweep's read-back and its write would be silently dropped — a
    lost-update, not a dangling reference. Index MAINTENANCE (append,
    compact, retrain) is therefore single-writer by contract — one
    maintenance loop per index root, matching the suite's and the
    serving tier's usage; concurrent READERS are safe at any point
    (they resolved a version directory whose files this sweep rewrites
    atomically per cell via the committed overwrite). Cross-VERSION
    concurrency needs no grace here: retrain claims a fresh disjoint
    directory (claim_version) and prune_ann_index_versions spares
    uncommitted claims by default."""
    from ..fsutil import hadoop_ls

    root = _resolve_index_dir(spark, root)
    crowded = []
    for cell_dir in hadoop_ls(spark, f"{root}/lists", dirs_only=True):
        name = cell_dir.getPath().getName()
        if not name.startswith("cell="):
            continue
        nfiles = sum(
            1
            for f in hadoop_ls(spark, cell_dir.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        if nfiles > max_files:
            crowded.append(int(name.split("=", 1)[1]))
    if not crowded:
        return 0
    rows = (
        spark.read.parquet(f"{root}/lists")
        .filter(F.col("cell").isin(crowded))
        .select("vec_id", "v", F.col("cell").cast("int").alias("cell"))
        .localCheckpoint()  # materialise BEFORE overwriting the source
    )
    (
        rows.repartition(F.col("cell"))
        .write.mode("overwrite")
        # per-write scope: a session-conf flip would leak dynamic
        # overwrite into concurrent writers during the window
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(f"{root}/lists")
    )
    return len(crowded)




@artifact
def _persisted_index_root(spark: SparkSession, sf_dir: str) -> str:
    """The session's persisted IVF index for ``sf_dir`` (saved once,
    shared by every persisted-serving query)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="grebi_ann_index_")
    save_ann_index(spark, sf_dir, root)
    return root


def ann_index_persist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURABLE IVF serving: save the trained index (once per session),
    then answer the query from the RELOADED artifact alone — reloaded
    centroids pick the probe cells, and the ranking scans ONLY the
    probed cells' partition directories (PartitionFilters, plan-gated in
    the suite). Same result contract and oracle as the in-session
    ``ann_ivf_trained_topk``: the round-trip must not change a single
    neighbour. This is the train-once / persist / serve-many lifecycle a
    production vector index runs — at 100 TB the lists live on object
    storage and each query touches nprobe/K of them."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return _serve_ivf_topk(
        spark, _persisted_index_root(spark, sf_dir), e, sf_dir
    )


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search through the persisted index —
    the ANN-store/metadata-store split a production vector DB runs: the
    inverted lists carry only (vec_id, vector), so the probe's
    candidates (a partition-pruned scan of nprobe cells) JOIN the
    metadata table on vec_id and the predicate (odd labels here)
    applies BEFORE the top-k election. PRE-filter semantics matter:
    the result is the true filtered top-5, not a filtered subset of
    the unfiltered top-5 — the correctness trap post-filtering falls
    into whenever the top of the unfiltered ranking is dense in
    excluded rows. Same oracle chain as the persisted serve, with the
    label predicate mirrored."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cand = _probe_candidates(
        spark, _persisted_index_root(spark, sf_dir), e, sf_dir
    )
    meta = e.select("vec_id", F.col("label").cast("int").alias("label"))
    return (
        cand.join(meta, "vec_id")
        .filter(F.col("label") % 2 == 1)
        .select("vec_id", "label", "cell", "dist")
        .orderBy("dist", "vec_id")
        .limit(5)
    )


def _probe_candidates(
    spark: SparkSession, root: str, e: DataFrame, sf_dir: str
) -> DataFrame:
    """The persisted-index serving prefix every probe query shares:
    reloaded centroids pick the probe cells, and the candidate scan
    touches only the probed cells' partition directories — one place
    encodes the serving conventions (nprobe, round-to-6 distance,
    the vec_id-0 query sentinel)."""
    from .training import _euclid_dist

    vdir = _resolve_index_dir(spark, root)
    cents = [
        (r["cluster"], r["c"])
        for r in spark.read.parquet(f"{vdir}/centroids").collect()
    ]
    qv = _query_vector(spark, sf_dir)
    probe_ids = _probe_cells(cents, qv, IVF_NPROBE_TRAINED)
    q = F.array(*[F.lit(x) for x in qv])
    lists = spark.read.parquet(f"{vdir}/lists")
    return lists.filter(
        F.col("cell").isin(probe_ids) & (F.col("vec_id") != 0)
    ).select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round(_euclid_dist(F.col("v"), q), 6).alias("dist"),
    )


def _serve_ivf_topk(
    spark: SparkSession, root: str, e: DataFrame, sf_dir: str
) -> DataFrame:
    """Serve the standard top-5 probe query from a persisted index root."""
    return (
        _probe_candidates(spark, root, e, sf_dir)
        .orderBy("dist", "vec_id")
        .limit(5)
    )


def ann_retrain_swap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED drift loop, driver-visible: save the index (v1),
    RETRAIN it from its own current vector population
    (``retrain_ann_index`` — sample-bounded fit, gate re-evaluated),
    blue/green-swap the CURRENT pointer to v2, and serve the standard
    top-5 probe query through the swapped pointer. With an undrifted
    population the re-fit is deterministic (same md5-bucket sample,
    same first-K init), so v2's answer must hash-match the same oracle
    as ``ann_index_persist_topk`` — proving the retrain→swap machinery
    changes the VERSION, not the semantics. Drift-DRIVEN retrains (an
    appended drifted batch actually moving centroids, plus old-reader
    isolation across the swap) are exercised in the suite."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return _serve_ivf_topk(spark, _retrained_index_root(spark, sf_dir), e, sf_dir)


@artifact
def _retrained_index_root(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    root = tempfile.mkdtemp(prefix="grebi_ann_bluegreen_")
    save_ann_index(spark, sf_dir, root)
    retrain_ann_index(spark, root)
    return root


def ann_stream_ingest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS vector ingestion: bulk-load three quarters of the
    corpus into a fresh index version, then fold the remaining quarter
    in through a real Structured Streaming job — a parquet file source
    watches an arrivals directory and each micro-batch is appended with
    ``append_ann_index`` inside ``foreachBatch``. The job is drained
    TWICE against one checkpoint: the first arrival file is folded, the
    job stops, the second lands, and the RESTARTED job resumes from the
    committed offset, folding only the new file (the same exactly-once
    contract ``graph_maintenance_stream`` proves for the graph side).

    Because every append replays the index's PERSISTED assignment rule
    (gate decision + K recorded at save time), the streamed index must
    be value-identical to indexing the whole corpus in one save — so
    the served top-5 probe hash-matches the SAME oracle as
    ``ann_index_persist_topk``. Centroids are trained once on the
    corpus snapshot (the bulk-load + catch-up-stream rebuild a
    production vector store runs); at 100 TB each arriving batch costs
    one assignment pass over ITS OWN rows plus file appends under the
    touched cells — never a corpus rewrite. List-content identity and
    no-duplicate-after-restart are suite-asserted
    (tests/test_ann_stream.py)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return _serve_ivf_topk(spark, _stream_index_root(spark, sf_dir), e, sf_dir)


@artifact
def _stream_index_root(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    root = tempfile.mkdtemp(prefix="grebi_ann_stream_")
    e_full, cents, routed, k_int = _trained_index_inputs(spark, sf_dir)
    base = e_full.filter(F.col("vec_id") % 4 != 3)
    vname = _next_index_version(spark, root)
    _write_index_version(spark, f"{root}/{vname}", base, cents, routed, k_int)
    _publish_index_version(spark, root, vname)

    arrivals = os.path.join(root, "arrivals")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(arrivals)

    def land(df: DataFrame, name: str) -> None:
        # one parquet file per arrival batch: write distributed,
        # then promote the part file into the watched directory
        tmp = os.path.join(root, f"tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(tmp, part), os.path.join(arrivals, f"{name}.parquet")
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # resolve the lineage id INSIDE the batch: the checkpoint's
        # metadata (the query id) exists once any batch runs
        fold_ann_batch(
            spark,
            root,
            batch_df.select("vec_id", "embedding"),
            batch_id,
            run_id=ingest_namespace(ckpt),
        )

    def drain() -> None:
        q = (
            spark.readStream.schema(e_full.schema)
            .parquet(arrivals)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(e_full.filter(F.col("vec_id") % 8 == 3), "arrival_1")
    drain()
    land(e_full.filter(F.col("vec_id") % 8 == 7), "arrival_2")
    drain()  # restart: the committed offset skips arrival_1
    return root


_RECALL_N_QUERIES = 20
_RECALL_K = 10


def ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@10 of the sign-bit LSH
    bucket probe against exact brute force, for 20 query vectors — the
    eval harness every production ANN deployment runs before trusting
    an index.

    All-integer output (bucket candidate count + overlap hits per
    query), with cross-engine-safe ordering: cosines are rounded to
    1e-4 with vec_id tiebreak (the same convention the passing ann_*
    oracles use), so both engines elect identical top-k SETS and the
    recall is bit-identical — a FULL oracle, not an inverted contract.

    Scale shape: the 20-query probe set broadcasts against ONE corpus
    scan (per-row work is 20·d multiply-adds); both top-k elections are
    windows partitioned by query id. The LSH leg demonstrates the
    pruning economics: candidates ~ corpus/16 per bucket."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = as_double(F.col("embedding"))
    corpus = e.select("vec_id", v.alias("v"), sign_bucket(v).alias("b"))
    queries = corpus.filter(F.col("vec_id") < _RECALL_N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("b").alias("qb")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "b",
            "qb",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cs"),
        )
    )
    by_q = Window.partitionBy("qid").orderBy(F.desc("cs"), "vec_id")
    brute = (
        scored.withColumn("rn", F.row_number().over(by_q))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    lsh = (
        scored.filter(F.col("b") == F.col("qb"))
        .withColumn("rn", F.row_number().over(by_q))
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    n_bucket = (
        scored.filter(F.col("b") == F.col("qb"))
        .groupBy("qid")
        .agg(F.count("*").alias("n_bucket"))
    )
    hits = (
        brute.join(lsh, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    return (
        queries.select("qid")
        .join(n_bucket, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_bucket", F.lit(0)).cast("long").alias("n_bucket"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("recall_hits"),
        )
        .orderBy("qid")
    )


def _oracle_ann_recall() -> str:
    bits = " + ".join(
        f"(CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    )
    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), corpus AS (
  SELECT vec_id, v, {bits} AS b FROM c
), queries AS (
  SELECT vec_id AS qid, v AS qv, b AS qb FROM corpus
  WHERE vec_id < {_RECALL_N_QUERIES}
), scored AS (
  SELECT q.qid, co.vec_id, co.b, q.qb,
         round(list_dot_product(co.v, q.qv)
               / (sqrt(list_dot_product(co.v, co.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cs
  FROM corpus co CROSS JOIN queries q
  WHERE co.vec_id != q.qid
), brute AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {_RECALL_K}
), lsh AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
    FROM scored WHERE b = qb
  ) WHERE rn <= {_RECALL_K}
), nb AS (
  SELECT qid, count(*) AS n_bucket FROM scored WHERE b = qb GROUP BY qid
), h AS (
  SELECT brute.qid, count(*) AS hits
  FROM brute JOIN lsh ON brute.qid = lsh.qid AND brute.vec_id = lsh.vec_id
  GROUP BY brute.qid
)
SELECT q.qid,
       coalesce(nb.n_bucket, 0)::bigint AS n_bucket,
       coalesce(h.hits, 0)::bigint AS recall_hits
FROM queries q
LEFT JOIN nb ON q.qid = nb.qid
LEFT JOIN h ON q.qid = h.qid
ORDER BY q.qid
"""


PQ_M = 4        # subspaces
PQ_SUB = 16     # dims per subspace (PQ_M * PQ_SUB = SRP_DIM = 64)
PQ_K = 16       # codes per subspace codebook
_PQ_TOPK = 5


def _pq_tables(spark: SparkSession, sf_dir: str):
    """(codebooks, query-distance tables) shared by the in-session PQ
    scan and the persisted-code serving path: cb[m][k] = subvector m of
    seed vec k+1 (deterministic init); qd[m][k] = the query's rounded
    distance to that codeword, computed driver-side with the SAME
    sequential fold + HALF_UP 1e-6 round the oracle's SQL performs
    (K·M scalars, scale-free)."""
    byid = _seed_vectors(spark, sf_dir, PQ_K)
    qv = byid[0]
    cb = [
        [byid[k + 1][m * PQ_SUB:(m + 1) * PQ_SUB] for k in range(PQ_K)]
        for m in range(PQ_M)
    ]
    from .num import half_up as _r6

    qd = []
    for m in range(PQ_M):
        qsub = qv[m * PQ_SUB:(m + 1) * PQ_SUB]
        row = []
        for k in range(PQ_K):
            s = 0.0
            for x, y in zip(qsub, cb[m][k]):
                s += (x - y) * (x - y)
            row.append(_r6(s))
        qd.append(row)
    return cb, qd


def _pq_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the memory-compression half of the
    IVF-PQ index every billion-vector deployment runs: each vector is
    encoded as PQ_M=4 codebook ids (4 bytes standing in for 64 floats,
    64× compression), and the query scans CODES, not vectors, via
    asymmetric distance computation (ADC): dist ≈ Σ_m qd[m][code_m],
    where qd is the query's precomputed distance table to every
    centroid — per-vector work is 4 array lookups + 3 additions.

    Codebook here = the subvectors of seed vecs 1..PQ_K (deterministic
    init, same convention as ``ann_ivf_topk``; the LEARNED-codebook
    path is the ``ann_ivf_trained_topk`` pattern applied per subspace).
    Every arithmetic step (subspace L2, rounded to 1e-6 before the
    argmin; the 4-term ADC sum in fixed order) is identical sequential
    double math in both engines, so encode AND estimate hash-match the
    oracle end-to-end. Top-5 by (estimated distance, vec_id).

    Scale shape: encode + ADC are ONE map-side Arrow pandas_udf pass
    (codebooks ride the closure; no shuffle, no join) feeding a single
    TakeOrdered. At 100 TB the code table is 64× smaller than the
    vectors — the point of PQ."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cb, qd = _pq_tables(spark, sf_dir)

    # Encode + ADC in ONE Arrow-batched pandas_udf: per batch, each
    # subspace's 16 code distances accumulate dimension-by-dimension
    # (sequential add order == the JVM fold == DuckDB's sum), HALF_UP
    # round to 1e-6, argmin (ties → lowest k, same as the struct
    # array_min), then the 4-term ADC sum in fixed subspace order.
    # Replaces 64 interpreted zip_with/aggregate folds per row —
    # measured ~2.5× on the same data; stays map-only (no shuffle, no
    # join), so the TakeOrdered plan gate is unchanged.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cbm = [np.array(cb[m], dtype=np.float64) for m in range(PQ_M)]  # (K, SUB)
    qdm = [np.array(qd[m], dtype=np.float64) for m in range(PQ_M)]

    def _encode_adc(s: "pd.Series") -> "pd.DataFrame":
        V = np.array([np.asarray(x, dtype=np.float64) for x in s])
        out = {}
        est = np.zeros(len(V))
        for m in range(PQ_M):
            S = V[:, m * PQ_SUB:(m + 1) * PQ_SUB]
            D = np.zeros((len(V), PQ_K))
            for j in range(PQ_SUB):  # sequential dim order == JVM fold
                D += (S[:, j][:, None] - cbm[m][:, j][None, :]) ** 2
            Dr = half_up_np(D)  # HALF_UP like F.round
            codes = Dr.argmin(axis=1)  # first min == lowest k on ties
            out[f"c{m}"] = codes.astype("int32")
            est = est + qdm[m][codes]
        out["dist_est"] = half_up_np(est)
        return pd.DataFrame(out)

    _encode_adc.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    schema = StructType(
        [StructField(f"c{m}", IntegerType()) for m in range(PQ_M)]
        + [StructField("dist_est", DoubleType())]
    )
    udf = pandas_udf(_encode_adc, schema)
    enc = e.filter(F.col("vec_id") != 0).select(
        "vec_id", udf(as_double(F.col("embedding"))).alias("codes")
    )
    return enc.select(
        "vec_id",
        *[F.col(f"codes.c{m}").alias(f"c{m}") for m in range(PQ_M)],
        F.col("codes.dist_est").alias("dist_est"),
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 PQ/ADC neighbours of the query vector — see
    ``_pq_estimates`` for the full design; the estimate scan is shared
    with ``ann_pq_recall``."""
    return _pq_estimates(spark, sf_dir).orderBy("dist_est", "vec_id").limit(
        _PQ_TOPK
    )


_DRIFT_RETRAIN_T = 1.2


def ann_index_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN SIGNAL for an append-only index (``append_ann_index``
    folds new vectors in against FROZEN centroids — valid until the
    incoming distribution drifts): compare the mean assigned distance of
    an incoming batch against the index's own corpus mean. Ratio above
    the threshold ⇒ the frozen centroids no longer describe the data —
    retrain. The incoming batch is a deterministic drifted copy (every
    7th vector shifted +0.1 per dimension) so the check is reproducible
    and the oracle recomputes the identical decision: corpus mean from
    the gated routed assignment (the same ``sel`` CTE every k-means
    consumer hash-checks), batch mean under the SAME gate decision —
    exactly the rule ``append_ann_index`` replays from the persisted
    index. One aggregate over each side — scale-free."""
    from .training import assign_by_rule, assign_routed, centroids, gate, trained_k

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = centroids(spark, sf_dir)
    k_int = trained_k(spark, sf_dir)
    gate_ok = gate(spark, sf_dir)

    # means via the repo's integer-micron convention (d is rounded to
    # 1e-6, so sum(round(d*1e6)::long)/n/1e6 is EXACT and summation-
    # order independent — plain FP avg would leave a task-order window
    # inside the 4-dp round)
    def _mean_micron(dcol):
        return (
            F.sum(F.round(dcol * 1e6).cast("long")) / F.count(F.lit(1)) / 1e6
        )

    v = as_double(F.col("embedding"))
    corpus_d = assign_routed(spark, sf_dir, v).getField("d")
    corpus = e.select(corpus_d.alias("d")).agg(
        _mean_micron(F.col("d")).alias("md")
    )

    shifted = F.transform(v, lambda x: x + F.lit(0.1))
    batch = e.filter(F.col("vec_id") % 7 == 3).select(
        assign_by_rule(shifted, cents, gate_ok, k_int).getField("d").alias("d")
    )
    bm = batch.agg(
        F.count("*").alias("n_batch"),
        _mean_micron(F.col("d")).alias("md"),
    )
    return bm.crossJoin(corpus.withColumnRenamed("md", "cmd")).select(
        "n_batch",
        F.round(F.col("cmd"), 4).alias("corpus_mean_d"),
        F.round(F.col("md"), 4).alias("batch_mean_d"),
        F.round(F.col("md") / F.col("cmd"), 4).alias("drift_ratio"),
        (F.col("md") / F.col("cmd") > _DRIFT_RETRAIN_T)
        .cast("int")
        .alias("retrain"),
    )


def _oracle_drift_check() -> str:
    from .training import ORACLE_KMEANS_CTES, _twolevel_ctes

    return (
        ORACLE_KMEANS_CTES
        + """,
corpus AS (
  SELECT sum(CAST(round(d * 1e6) AS BIGINT)) / count(*) / 1e6 AS cmd FROM sel
),
batch AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x + 0.1) AS v
  FROM embeddings WHERE vec_id % 7 = 3
),
bflat AS (
  SELECT b.vec_id, min(round(list_distance(b.v, c2.c), 6)) AS d
  FROM batch b, cent2 c2 GROUP BY b.vec_id
)"""
        + _twolevel_ctes("batch", "b")
        + f""",
bd AS (
  SELECT f.vec_id, CASE WHEN g.ok THEN t.d ELSE f.d END AS d
  FROM bflat f JOIN btwo t ON f.vec_id = t.vec_id CROSS JOIN gate g
),
bm AS (
  SELECT count(*) AS n_batch,
         sum(CAST(round(d * 1e6) AS BIGINT)) / count(*) / 1e6 AS md
  FROM bd
)
SELECT bm.n_batch,
       round(corpus.cmd, 4) AS corpus_mean_d,
       round(bm.md, 4) AS batch_mean_d,
       round(bm.md / corpus.cmd, 4) AS drift_ratio,
       CAST(bm.md / corpus.cmd > {_DRIFT_RETRAIN_T} AS INT) AS retrain
FROM bm, corpus
"""
    )


def save_pq_index(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Persist the COMPRESSED serving index: the PQ code table
    (vec_id, c0..c3) — 4 small ints standing in for 64 floats, the 64×
    smaller artifact a billion-vector deployment actually ships. Codes
    are query-independent; every future query re-ranks them with its
    own distance table."""
    (
        _pq_estimates(spark, sf_dir)
        .select("vec_id", *[f"c{m}" for m in range(PQ_M)])
        .write.mode("overwrite")
        .parquet(f"{root}/codes")
    )


@artifact
def _pq_index_root(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    root = tempfile.mkdtemp(prefix="grebi_pq_index_")
    save_pq_index(spark, sf_dir, root)
    return root


def ann_pq_index_persist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve PQ top-5 from the PERSISTED code table alone — no vectors
    touched at query time: the query's distance table (K·M scalars,
    driver-side) becomes LITERAL arrays, and the ADC estimate is four
    ``element_at`` lookups + three adds per stored code row, pure
    whole-stage-codegen expressions over the reloaded Parquet scan.
    This is the compressed-index serving lifecycle (encode once,
    persist, many queries re-rank the codes); the round-trip must
    reproduce the in-session ``ann_pq_topk`` result exactly — same
    oracle."""
    root = _pq_index_root(spark, sf_dir)
    _cb, qd = _pq_tables(spark, sf_dir)
    codes = spark.read.parquet(f"{root}/codes")
    est = F.lit(0.0)
    for m in range(PQ_M):
        table = F.array(*[F.lit(x) for x in qd[m]])
        est = est + F.element_at(table, F.col(f"c{m}") + 1)
    return (
        codes.select(
            "vec_id",
            *[f"c{m}" for m in range(PQ_M)],
            F.round(est, 6).alias("dist_est"),
        )
        .orderBy("dist_est", "vec_id")
        .limit(_PQ_TOPK)
    )


_PQ_RECALL_K = 20


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality evaluation — recall@20 of the ADC estimate against
    the EXACT L2 ranking for the query vector: how many of the true 20
    nearest survive quantization to 4 bytes/vector. The accept/reject
    gate every PQ deployment runs before trusting the compressed index
    (low recall → more subspaces or a trained codebook).

    Engine-exact: both legs rank by values rounded to 1e-6 with vec_id
    tiebreaks, so both engines elect identical top-K SETS and the hit
    count is bit-identical — a full oracle, not an inverted contract.
    One corpus scan per leg, TakeOrdered each, a 20×20 semi-join to
    intersect."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qv = _query_vector(spark, sf_dir)
    q = F.array(*[F.lit(float(x)) for x in qv])
    v = as_double(F.col("embedding"))
    d2 = F.round(
        F.aggregate(
            F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    exact = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", d2.alias("d"))
        .orderBy("d", "vec_id")
        .limit(_PQ_RECALL_K)
        .select("vec_id")
    )
    pq = (
        _pq_estimates(spark, sf_dir)
        .orderBy("dist_est", "vec_id")
        .limit(_PQ_RECALL_K)
        .select("vec_id")
    )
    hits = exact.join(pq, "vec_id", "left_semi")
    return hits.agg(
        F.count("*").cast("long").alias("n_hits"),
        F.lit(_PQ_RECALL_K).cast("long").alias("k"),
    )


def _oracle_ann_pq() -> str:
    sub_cases_v = []
    sub_cases_c = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
        sub_cases_v.append(f"WHEN {m} THEN ev[{lo}:{hi}]")
        sub_cases_c.append(f"WHEN {m} THEN cv[{lo}:{hi}]")
    est_terms = " + ".join(
        f"coalesce(sum(CASE WHEN code.m = {m} THEN qd END), 0.0)"
        for m in range(PQ_M)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), cbv AS (
  SELECT vec_id - 1 AS k, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id BETWEEN 1 AND {PQ_K}
), q AS (
  SELECT embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id = 0
), m_axis AS (
  SELECT unnest(range(0, {PQ_M})) AS m
), dist AS (
  SELECT v.vec_id, m_axis.m, cbv.k,
         round(list_sum(list_transform(range(1, {PQ_SUB + 1}),
           i -> ((CASE m_axis.m {' '.join(sub_cases_v)} END)[i]
                 - (CASE m_axis.m {' '.join(sub_cases_c)} END)[i])
              * ((CASE m_axis.m {' '.join(sub_cases_v)} END)[i]
                 - (CASE m_axis.m {' '.join(sub_cases_c)} END)[i]))), 6) AS d
  FROM v CROSS JOIN m_axis CROSS JOIN cbv
  WHERE v.vec_id != 0
), code AS (
  SELECT vec_id, m, k AS c FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dist
  ) WHERE rn = 1
), qdist AS (
  SELECT m_axis.m, cbv.k,
         round(list_sum(list_transform(range(1, {PQ_SUB + 1}),
           i -> ((CASE m_axis.m {' '.join(sub_cases_v)} END)[i]
                 - (CASE m_axis.m {' '.join(sub_cases_c)} END)[i])
              * ((CASE m_axis.m {' '.join(sub_cases_v)} END)[i]
                 - (CASE m_axis.m {' '.join(sub_cases_c)} END)[i]))), 6) AS qd
  FROM q AS v, m_axis, cbv
), est AS (
  SELECT code.vec_id,
         max(CASE WHEN code.m = 0 THEN c END) AS c0,
         max(CASE WHEN code.m = 1 THEN c END) AS c1,
         max(CASE WHEN code.m = 2 THEN c END) AS c2,
         max(CASE WHEN code.m = 3 THEN c END) AS c3,
         round({est_terms}, 6) AS dist_est
  FROM code JOIN qdist ON code.m = qdist.m AND code.c = qdist.k
  GROUP BY code.vec_id
)
SELECT vec_id, c0, c1, c2, c3, dist_est
FROM est ORDER BY dist_est, vec_id LIMIT {_PQ_TOPK}
"""


def _oracle_ann_pq_recall() -> str:
    # the full PQ estimate CTE chain, re-terminated with the recall
    # intersection against the exact-L2 top-K
    body = _oracle_ann_pq()
    cte = body[: body.rindex("SELECT vec_id, c0")]
    return f"""{cte}, pq AS (
  SELECT vec_id FROM est ORDER BY dist_est, vec_id LIMIT {_PQ_RECALL_K}
), exact AS (
  SELECT v.vec_id FROM v CROSS JOIN q
  WHERE v.vec_id != 0
  ORDER BY round(list_sum(list_transform(range(1, 65),
            i -> (v.ev[i] - q.ev[i]) * (v.ev[i] - q.ev[i]))), 6), v.vec_id
  LIMIT {_PQ_RECALL_K}
)
SELECT CAST(count(*) AS BIGINT) AS n_hits,
       CAST({_PQ_RECALL_K} AS BIGINT) AS k
FROM exact SEMI JOIN pq ON exact.vec_id = pq.vec_id
"""



def ann_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization ANN — the memory-side trick every
    production vector store ships (4x smaller than float32, integer
    SIMD dot products at query time; PQ's cheaper sibling): each
    dimension is affinely mapped to [-127, 127] using the corpus
    per-dimension min/max, and ranking is the EXACT integer dot product
    of code vectors — bit-identical in any engine, which is what makes
    this variant fully hash-checkable (the float-reconstruction
    variants are not).

    Scale shape: the per-dimension stats are one tiny aggregate (D
    rows); codes are computed in the melt (narrow); the query's D code
    rows broadcast onto the position key; the ranking is one
    sum-aggregate on vec_id + TakeOrdered. Constant dimensions
    (max == min) are dropped on both sides — the quantizer has no
    information there and the affine map would divide by zero.
    """
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    melt = e.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
    )
    stats = (
        melt.groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .filter(F.col("mx") > F.col("mn"))
    )
    code = (
        F.round((F.col("x") - F.col("mn")) * 254 / (F.col("mx") - F.col("mn")))
        - 127
    ).cast("long")
    coded = melt.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", code.alias("c")
    )
    qc = coded.filter(F.col("vec_id") == 0).select(
        "pos", F.col("c").alias("qc")
    )
    dots = (
        coded.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qc), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.col("c") * F.col("qc")).alias("idot"))
    )
    labels = e.select("vec_id", F.col("label").cast("int").alias("label"))
    return (
        dots.join(labels, "vec_id")
        .select("vec_id", "label", "idot")
        .orderBy(F.desc("idot"), "vec_id")
        .limit(5)
    )


ORACLE_INT8 = """
WITH melt AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), stats AS (
  SELECT pos, min(x) AS mn, max(x) AS mx FROM melt GROUP BY pos
  HAVING max(x) > min(x)
), coded AS (
  SELECT m.vec_id, m.pos,
         CAST(round((m.x - s.mn) * 254 / (s.mx - s.mn)) - 127 AS BIGINT) AS c
  FROM melt m JOIN stats s ON m.pos = s.pos
), qc AS (
  SELECT pos, c AS qc FROM coded WHERE vec_id = 0
), dots AS (
  SELECT coded.vec_id, CAST(sum(coded.c * qc.qc) AS BIGINT) AS idot
  FROM coded JOIN qc ON coded.pos = qc.pos
  WHERE coded.vec_id != 0
  GROUP BY coded.vec_id
)
SELECT d.vec_id, e.label::int AS label, d.idot
FROM dots d JOIN embeddings e ON d.vec_id = e.vec_id
ORDER BY d.idot DESC, d.vec_id
LIMIT 5
"""



_SEMDEDUP_T = 0.95


def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style CLUSTER-BLOCKED embedding dedup (Abbas et al.,
    2023: k-means the embedding space, then deduplicate only WITHIN
    each cluster): candidate pairs come from sharing a trained k-means
    cell — near-duplicates sit near the same centroid, so they land in
    the same cell — and only those pairs pay an exact cosine
    verification (>= 0.95). The third blocking strategy in the
    embedding-dedup family next to SRP-LSH bands
    (dedup_embedding_cosine) and AllPairs prefix filtering. Input is
    the corpus plus the same planted near-dup copies the LSH variant
    recovers (dedup.planted_vectors) — the expected answer is the
    planted pair set MINUS the pairs whose two ends straddle a cell
    boundary (~2% here) — the known SemDeDup trade-off (single-cell
    blocking is not complete; LSH banding is, which is why both ship),
    reproduced exactly by the oracle.

    Scale shape: blocking cost is the k-means assignment (map-only
    against K broadcast centroids, trained once and session-cached by
    kmeans_embeddings); the within-cell self-join shuffles on the cell
    key, and cell sizes (~n/K) bound the quadratic term — at 100 TB you
    raise K so cells stay bounded, which is exactly the SemDeDup recipe
    (50k clusters for LAION). Never all-pairs across cells.

    Oracle: the shared deterministic-k-means CTE chain
    (training.ORACLE_KMEANS_CTES) + the planted union + the same
    assignment and pair join — clustering, blocking, and verification
    all hash-check.
    """
    from .dedup import planted_vectors
    from .training import assign_routed

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # cell assignment goes through the PRODUCTION router (training.
    # assign_routed): two-level coarse→fine when the sampled-agreement
    # gate accepts, exact flat (GEMM+refine) when it rejects — the gate
    # is evaluated on the base corpus's training sample and mirrored in the oracle's
    # ``gate`` CTE, so the routing decision is hash-checked here too
    assigned = planted_vectors(e).select(
        "vec_id",
        "v",
        assign_routed(spark, sf_dir, F.col("v"))
        .getField("cluster")
        .alias("cell"),
    )

    # Per-cell vectorized verify: ONE applyInPandas group per cell, the
    # full n_cell × n_cell cosine matrix in NumPy, upper triangle only.
    # Replaces the pair-join + interpreted-HOF cosine (three
    # zip_with/aggregate folds PER PAIR, recomputing both self-norms
    # every time — measured ~26 s at sf0.1, 11% of the whole bench).
    # Accumulation is a sequential per-dimension loop (C += outer of
    # dim j), NOT a BLAS matmul, so the float add order is bit-identical
    # to the JVM fold and the DuckDB list_dot_product the oracle runs;
    # round is HALF_UP via floor(x*1e4+0.5) to match F.round/DuckDB
    # (np.round is half-even). Cell population stays ~TARGET_CELL at
    # any scale because K is derived from n (training.kmeans_k), so the
    # per-group matrix is bounded — raising K with the corpus is the
    # SemDeDup recipe.
    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"cell": [], "vec_a": [], "vec_b": [], "cos": []}
            ).astype({"cell": "int32", "vec_a": "int64", "vec_b": "int64", "cos": "float64"})
        V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        dot = np.zeros((n, n))
        for j in range(V.shape[1]):  # sequential dim order == JVM fold order
            col = V[:, j]
            dot += np.outer(col, col)
        norms = np.sqrt(np.diag(dot))
        cos = dot / np.outer(norms, norms)
        r = half_up_np(cos, 4)  # HALF_UP like F.round
        ia, ib = np.triu_indices(n, k=1)
        keep = r[ia, ib] >= _SEMDEDUP_T
        ia, ib = ia[keep], ib[keep]
        return pd.DataFrame(
            {
                "cell": np.full(len(ia), int(pdf["cell"].iloc[0]), dtype="int32"),
                "vec_a": ids[ia],
                "vec_b": ids[ib],
                "cos": r[ia, ib],
            }
        )

    out = assigned.groupBy("cell").applyInPandas(
        _cell_pairs, "cell int, vec_a long, vec_b long, cos double"
    )
    return out.orderBy("vec_a", "vec_b")


def _oracle_semdedup() -> str:
    from .dedup import PLANT_OFFSET
    from .training import ORACLE_KMEANS_CTES, _twolevel_ctes

    cos = (
        "round(list_dot_product(va.v, vb.v)"
        " / (sqrt(list_dot_product(va.v, va.v))"
        " * sqrt(list_dot_product(vb.v, vb.v))), 4)"
    )
    # the planted frame gets BOTH assignment legs (flat ``passign``,
    # two-level ``ptwo``) and the shared ``gate`` CTE picks the same
    # one the Spark router picked — cell blocking is gated identically
    return (
        ORACLE_KMEANS_CTES
        + f"""
, pl AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET},
         [embedding[1]::DOUBLE * 1.5] || (embedding::DOUBLE[])[2:]
  FROM embeddings
), pd AS (
  SELECT p.vec_id, round(list_distance(p.v, c2.c), 6) AS d, c2.cluster
  FROM pl p, cent2 c2
), pm AS (
  SELECT vec_id, min(d) AS md FROM pd GROUP BY vec_id
), pflat AS (
  SELECT pd.vec_id, min(pd.cluster) AS cell
  FROM pd JOIN pm ON pd.vec_id = pm.vec_id AND pd.d = pm.md
  GROUP BY pd.vec_id
)"""
        + _twolevel_ctes("pl", "p")
        + f""", passign AS (
  SELECT f.vec_id,
         CASE WHEN g.ok THEN t.two ELSE f.cell END AS cell
  FROM pflat f JOIN ptwo t ON f.vec_id = t.vec_id CROSS JOIN gate g
), pairs AS (
  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM passign a JOIN passign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT p.cell, p.vec_a, p.vec_b, {cos} AS cos
FROM pairs p
JOIN pl va ON p.vec_a = va.vec_id
JOIN pl vb ON p.vec_b = vb.vec_id
WHERE {cos} >= {_SEMDEDUP_T}
ORDER BY vec_a, vec_b
"""
    )

IVFPQ_NPROBE = 3


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMBINED IVF-PQ index — the actual billion-vector deployment
    layout (coarse quantizer prunes cells, product quantizer compresses
    what's left), joining the two halves this family already proves
    separately (``ann_ivf_trained_topk``: trained cells + probe;
    ``ann_pq_topk``: codes + ADC):

    * coarse: every vector is assigned to its trained k-means cell
      (derived-K centroids, session-cached);
    * fine: the RESIDUAL ``v − centroid(cell)`` — not the raw vector —
      is PQ-encoded against a residual codebook (seeds 1..PQ_K's own
      residuals), which is what makes IVF-PQ beat flat PQ: residuals
      concentrate near 0 so the same 4 bytes carry more precision;
    * query: probe the IVFPQ_NPROBE nearest cells; per probed cell the
      query gets its OWN distance table (q − centroid(cell) vs the
      codebook), and the ADC scan touches only the probed cells' codes.

    Scale shape: cell pruning cuts the scan to nprobe/K of the corpus
    BEFORE any distance work; the codes are 64× smaller than vectors;
    per-row work is 4 lookups + 3 adds. Encode + ADC run in ONE Arrow
    pandas_udf (per-dim sequential accumulation + HALF_UP 1e-6 rounds,
    bit-matching the oracle's list_sum folds); the K×d centroid and
    4×16×16 codebook matrices ride the closure — one broadcast per
    executor.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from .training import assign_routed, centroids

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = centroids(spark, sf_dir)  # [(cluster, centroid)] sorted
    cent_of = dict(cents)
    qv = _query_vector(spark, sf_dir)
    # the gated two-level router (n·2√K) instead of the flat n·K argmin —
    # the coarse-quantizer assignment is the one corpus-wide pass here,
    # and the oracle's ``sel`` CTE mirrors the same gate decision
    cell_col = assign_routed(spark, sf_dir, as_double(F.col("embedding")))

    from .num import half_up as _r6

    def _d2(a, b) -> float:  # sequential fold == list_sum == JVM
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return _r6(s)

    def _d2_raw(a, b) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    # residual codebook from seeds 1..PQ_K (driver-side: PQ_K vectors,
    # cells from the SAME routed assignment the corpus pass uses — a
    # seed landing differently under routing must shift its codebook
    # entry identically on both sides)
    byid = _seed_vectors(spark, sf_dir, PQ_K)
    seed_cells = {
        int(r["vec_id"]): int(r["cell"])
        for r in e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_K))
        .select("vec_id", cell_col.getField("cluster").alias("cell"))
        .collect()
    }
    rcb = []  # rcb[m][k] = residual subvector
    seed_resid = {}
    for k in range(1, PQ_K + 1):
        sv = byid[k]
        cell = seed_cells[k]
        seed_resid[k] = [x - y for x, y in zip(sv, cent_of[cell])]
    for m in range(PQ_M):
        rcb.append(
            [seed_resid[k + 1][m * PQ_SUB:(m + 1) * PQ_SUB] for k in range(PQ_K)]
        )

    # probe cells by centroid distance to the query (rounded, tie → low id)
    probe = sorted(cents, key=lambda kc: (_r6(math.sqrt(_d2_raw(qv, kc[1]))), kc[0]))[
        :IVFPQ_NPROBE
    ]
    probe_ids = [k for k, _ in probe]
    # per-cell query distance tables over the query's residual
    qd = {}
    for cid, c in probe:
        qr = [x - y for x, y in zip(qv, c)]
        qd[cid] = [
            [_d2(qr[m * PQ_SUB:(m + 1) * PQ_SUB], rcb[m][k]) for k in range(PQ_K)]
            for m in range(PQ_M)
        ]

    C = np.array([c for _, c in cents], dtype=np.float64)
    kid = np.array([k for k, _ in cents], dtype=np.int64)
    kpos = {int(k): i for i, k in enumerate(kid)}
    rcbm = [np.array(rcb[m], dtype=np.float64) for m in range(PQ_M)]
    probe_pos = {c: i for i, c in enumerate(probe_ids)}
    qd_arr = np.array([qd[c] for c in probe_ids], dtype=np.float64)  # P×M×K

    assigned = e.filter(F.col("vec_id") != 0).select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        cell_col.getField("cluster").alias("cell"),
    )
    pruned = assigned.filter(F.col("cell").isin(probe_ids))

    def _adc(v: "pd.Series", cell: "pd.Series") -> "pd.DataFrame":
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        cells = cell.to_numpy()
        R = V - C[[kpos[int(c)] for c in cells]]
        pidx = np.array([probe_pos[int(c)] for c in cells])
        out = {}
        est = np.zeros(len(V))
        for m in range(PQ_M):
            S = R[:, m * PQ_SUB:(m + 1) * PQ_SUB]
            D = np.zeros((len(V), PQ_K))
            for j in range(PQ_SUB):  # sequential dim order == list_sum fold
                D += (S[:, j][:, None] - rcbm[m][:, j][None, :]) ** 2
            Dr = half_up_np(D)
            codes = Dr.argmin(axis=1)
            out[f"c{m}"] = codes.astype("int32")
            est = est + qd_arr[pidx, m, codes]
        out["dist_est"] = half_up_np(est)
        return pd.DataFrame(out)

    _adc.__annotations__ = {"v": pd.Series, "cell": pd.Series, "return": pd.DataFrame}
    schema = StructType(
        [StructField(f"c{m}", IntegerType()) for m in range(PQ_M)]
        + [StructField("dist_est", DoubleType())]
    )
    udf = pandas_udf(_adc, schema)
    enc = pruned.select("vec_id", "cell", udf("v", "cell").alias("z"))
    return (
        enc.select(
            "vec_id",
            "cell",
            *[F.col(f"z.c{m}").alias(f"c{m}") for m in range(PQ_M)],
            F.col("z.dist_est").alias("dist_est"),
        )
        .orderBy("dist_est", "vec_id")
        .limit(_PQ_TOPK)
    )


def _oracle_ann_ivfpq() -> str:
    from .training import ORACLE_KMEANS_CTES

    def d2_list(a: str, b: str, n: int) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {n + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
        )

    sub = lambda v, m: f"{v}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"  # noqa: E731
    sub_cases = lambda v: " ".join(  # noqa: E731
        f"WHEN {m} THEN {sub(v, m)}" for m in range(PQ_M)
    )
    est_terms = " + ".join(
        f"coalesce(sum(CASE WHEN code.m = {m} THEN qd END), 0.0)" for m in range(PQ_M)
    )
    return (
        ORACLE_KMEANS_CTES
        + f""",
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
resid AS (
  SELECT a.vec_id, a.cluster,
         list_transform(range(1, 65),
                        i -> e.embedding[i]::DOUBLE - c.c[i]) AS rv
  FROM sel a
  JOIN embeddings e ON a.vec_id = e.vec_id
  JOIN cent2 c ON a.cluster = c.cluster
),
rcb AS (
  SELECT vec_id - 1 AS k, rv AS cv FROM resid
  WHERE vec_id BETWEEN 1 AND {PQ_K}
),
probe AS (
  SELECT cluster, c FROM cent2, qv
  ORDER BY round(list_distance(c, q), 6), cluster
  LIMIT {IVFPQ_NPROBE}
),
m_axis AS (SELECT unnest(range(0, {PQ_M})) AS m),
dist AS (
  SELECT r.vec_id, r.cluster, m_axis.m, rcb.k,
         {d2_list(f"(CASE m_axis.m {sub_cases('r.rv')} END)",
                  f"(CASE m_axis.m {sub_cases('rcb.cv')} END)", PQ_SUB)} AS d
  FROM resid r
  JOIN probe ON r.cluster = probe.cluster
  CROSS JOIN m_axis CROSS JOIN rcb
  WHERE r.vec_id != 0
),
code AS (
  SELECT vec_id, cluster, m, k AS c FROM (
    SELECT vec_id, cluster, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dist
  ) WHERE rn = 1
),
qresid AS (
  SELECT probe.cluster,
         list_transform(range(1, 65), i -> qv.q[i] - probe.c[i]) AS qr
  FROM probe, qv
),
qdist AS (
  SELECT qresid.cluster, m_axis.m, rcb.k,
         {d2_list(f"(CASE m_axis.m {sub_cases('qresid.qr')} END)",
                  f"(CASE m_axis.m {sub_cases('rcb.cv')} END)", PQ_SUB)} AS qd
  FROM qresid, m_axis, rcb
),
est AS (
  SELECT code.vec_id, code.cluster AS cell,
         max(CASE WHEN code.m = 0 THEN c END) AS c0,
         max(CASE WHEN code.m = 1 THEN c END) AS c1,
         max(CASE WHEN code.m = 2 THEN c END) AS c2,
         max(CASE WHEN code.m = 3 THEN c END) AS c3,
         round({est_terms}, 6) AS dist_est
  FROM code
  JOIN qdist ON code.cluster = qdist.cluster
            AND code.m = qdist.m AND code.c = qdist.k
  GROUP BY code.vec_id, code.cluster
)
SELECT vec_id, cell, c0, c1, c2, c3, dist_est
FROM est ORDER BY dist_est, vec_id LIMIT {_PQ_TOPK}
"""
    )


QUERIES = {
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_int8_quantize": ann_int8_quantize,
    "semantic_dedup_cells": semantic_dedup_cells,
    "ann_recall_check": ann_recall_check,
    "ann_pq_topk": ann_pq_topk,
    "ann_pq_index_persist_topk": ann_pq_index_persist_topk,
    "ann_pq_recall": ann_pq_recall,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_trained_topk": ann_ivf_trained_topk,
    "ann_index_persist_topk": ann_index_persist_topk,
    "ann_filtered_topk": ann_filtered_topk,
    "ann_retrain_swap_topk": ann_retrain_swap_topk,
    "ann_stream_ingest_topk": ann_stream_ingest_topk,
    "ann_index_drift_check": ann_index_drift_check,
    "knn_label_purity": knn_label_purity,
    "knn_classify": knn_classify,
}

ORACLES = {
    "ann_ivfpq_topk": _oracle_ann_ivfpq(),
    "ann_int8_quantize": ORACLE_INT8,
    "semantic_dedup_cells": _oracle_semdedup(),
    "ann_recall_check": _oracle_ann_recall(),
    "ann_cosine_topk": ORACLE_ANN_BRUTE,
    "ann_pq_topk": _oracle_ann_pq(),
    "ann_pq_index_persist_topk": _oracle_ann_pq(),
    "ann_pq_recall": _oracle_ann_pq_recall(),
    "ann_lsh_topk": _oracle_ann_lsh(),
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "ann_ivf_trained_topk": _oracle_ann_ivf_trained(),
    "ann_index_persist_topk": _oracle_ann_ivf_trained(),
    "ann_filtered_topk": _oracle_ann_filtered(),
    "ann_retrain_swap_topk": _oracle_ann_ivf_trained(),
    "ann_stream_ingest_topk": _oracle_ann_ivf_trained(),
    "ann_index_drift_check": _oracle_drift_check(),
    "knn_label_purity": ORACLE_LABEL_PURITY,
    "knn_classify": ORACLE_KNN_CLASSIFY,
}
