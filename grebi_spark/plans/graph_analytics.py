"""Graph analytics over the built graph: PageRank, BFS hop histogram,
degree distribution, and node Jaccard similarity.

The reference's serving layer answers these through Neo4j (the notebook
flows run degree/centrality-style Cypher over the bulk-loaded graph,
e.g. notebooks/ic_scores.ipynb's descendant counts); here they are
native engine operators over the same co-purchase projection used by
``copurchase_triangles`` (plans/relational.py:802) — parts are linked
when they appear in the same order.

Engine-portability (so the DuckDB oracle hash-matches):

- PageRank runs in FIXED-POINT INTEGER arithmetic: ranks are bigints
  scaled by 1e9, each iteration is ``teleport + (85 * sum(rank div deg))
  div 100`` — integer div/sum only, so Spark and the oracle agree
  bit-for-bit with no FP accumulation-order dependence. (A float
  PageRank could differ in the 1e-16s and flip the top-k boundary.)
- BFS and degree histograms are exact integer counts.
- Jaccard is a SINGLE IEEE division of two exact integers — bit-identical
  in any engine — rounded only for display.

Scale shapes per docstring; every join is an equi-join on a vertex key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables

# fixed-point scale: 1.0 of rank mass == 10^9. Headroom argument: the
# 85*sum multiply stays under int64 while total mass <= n_nodes * SCALE;
# at 1e9+ nodes switch the per-edge term to (85 * r div deg) div 100 or
# decimal(38,0) — same plan shape.
_PR_SCALE = 1_000_000_000
_PR_TELEPORT = 15 * _PR_SCALE // 100  # damping 0.85 as exact integers
_PR_ITERS = 5
_PR_TOPK = 20


# The projected edge list is a pipeline ARTIFACT shared by every graph
# query (PageRank, BFS, degrees, triangles) — a real deployment
# materializes the projection once and analyzes it many times, it never
# re-joins the fact table per algorithm. The cached form is the
# oriented (u < v) half: triangle counting wants exactly that, and the
# symmetric list is a narrow no-shuffle union of it. Cached per
# (session, sf_dir); localCheckpoint so it survives
# catalog.clearCache() like an on-disk stage output would (the same
# contract as dedup._lsh_pairs and parity._built_graph).
@artifact
def weighted_half_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented co-purchase edge list WITH multiplicity (u < v, w =
    co-occurrence count, wd = DISTINCT shared orders): ONE lineitem
    self-equi-join on the order key, aggregated once, serving every
    graph query. The unweighted projection is ``select(u, v)`` (the
    group keys are exactly the distinct pairs), the strong-tie graph is
    ``filter(w >= t)``, the SSSP cost is ``1e6 div w``, and the Jaccard
    numerator is ``wd`` (a raw join row exists for (o,u,v) exactly when
    order o contains both parts, so countDistinct(orderkey) per pair ==
    the distinct-(part,order) self-join count node_jaccard_similar used
    to pay its own shuffle-join for) — so all four families
    (PageRank/BFS/k-core/triangles, label propagation, weighted paths,
    node similarity) share one artifact instead of re-running the
    self-join per variant (guide §2.4: two operations keyed the same
    way share one exchange; here they share the whole projection
    build)."""
    li = (
        load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").cast("long").alias("u"),
            F.col("b.l_partkey").cast("long").alias("v"),
        )
        .agg(
            F.count("*").alias("w"),
            F.countDistinct("a.l_orderkey").alias("wd"),
        )
        .localCheckpoint()
    )


def copurchase_half_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented co-purchase edge list (u < v): parts sharing an order,
    distinct. A narrow projection of the shared weighted artifact —
    the groupBy keys are exactly the distinct pairs (relational.py:802's
    projection)."""
    return weighted_half_edges(spark, sf_dir).select("u", "v")


@artifact
def max_part_key(spark: SparkSession, sf_dir: str) -> int:
    """Largest vertex id in the co-purchase projection — one cheap scan
    of the checkpointed artifact, cached per (session, sf_dir). Lets
    consumers choose id-packing fast paths (single-long join keys) with
    an exact guard instead of assuming an id range."""
    row = weighted_half_edges(spark, sf_dir).agg(F.max("v")).collect()
    return int(row[0][0] or 0)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric co-purchase edge list: the oriented half plus its
    reverse — a narrow union over the cached artifact, no new shuffle."""
    half = copurchase_half_edges(spark, sf_dir)
    return half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))


_EDGES_SQL = """
  SELECT u, v FROM (
    SELECT DISTINCT a.l_partkey::bigint AS u, b.l_partkey::bigint AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  ) UNION ALL
  SELECT v AS u, u AS v FROM (
    SELECT DISTINCT a.l_partkey::bigint AS u, b.l_partkey::bigint AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  )
"""


_WALK_STEPS = 4  # 5-node walks
_WALK_WINDOW = 2  # skip-gram context radius
_WALK_TOPK = 50


def _walk_hash_spark(start, i: int):
    """The walk's step-i choice hash — md5-prefix integer, the same
    portable convention as dedup's universal hashes."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("w:"), start.cast("string"), F.lit(f":{i}"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


@artifact
def _ranked_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, rank-in-id-order, degree) — built once per (session,
    sf_dir) and localCheckpoint-backed like the edge artifact it is
    derived from, so repeated walk queries neither redo the two window
    shuffles nor stack persisted copies in executor storage."""
    edges = _copurchase_edges(spark, sf_dir)
    w = Window.partitionBy("u").orderBy("v")
    return edges.select(
        "u",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("u")).alias("deg"),
    ).localCheckpoint()


def graph_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph → embedding-training corpus (the DeepWalk/node2vec data
    prep): one DETERMINISTIC walk per node over the co-purchase graph —
    at step i the walker at node w picks the neighbor ranked
    ``1 + H(start, i) mod deg(w)`` in id order, H an md5-prefix integer
    — then every within-window-2 pair along each walk becomes a
    skip-gram (a, b) co-occurrence, counted corpus-wide and top-50 by
    count. Determinism makes the walks engine-replayable (the oracle
    unrolls the same 4 steps in SQL), reproducible across runs, and
    id-stable as the corpus grows — the property mixture_sample /
    corpus_split already rely on.

    Scale shape: the ranked adjacency (u, v, rank, deg — two window
    functions over the cached edge artifact) is built once; each walk
    step is ONE equi-join of the walk frontier against it (rank
    equality lands inside the join residual, never a cartesian); the
    pair expansion is a bounded per-row explode (7 pairs per walk) and
    one 2-key aggregate. No collect anywhere; top-k is TakeOrdered."""
    adj = _ranked_adjacency(spark, sf_dir)
    walks = adj.select(F.col("u").alias("start")).distinct().select(
        "start", F.col("start").alias("w0")
    )
    for i in range(1, _WALK_STEPS + 1):
        prev = f"w{i - 1}"
        pick = 1 + _walk_hash_spark(F.col("start"), i) % F.col("deg")
        walks = (
            walks.join(adj, F.col(prev) == F.col("u"))
            .filter(F.col("rk") == pick)
            .drop("u", "rk", "deg")
            .withColumnRenamed("v", f"w{i}")
        )
    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col(f"w{i}"), F.col(f"w{j}")).alias("a"),
                F.greatest(F.col(f"w{i}"), F.col(f"w{j}")).alias("b"),
            )
            for i in range(_WALK_STEPS + 1)
            for j in range(i + 1, min(i + _WALK_WINDOW, _WALK_STEPS) + 1)
        ]
    )
    out = (
        walks.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))  # a walk may revisit a node
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(_WALK_TOPK)
    )
    return out


def _walk_oracle() -> str:
    h = (
        "(('0x' || substr(md5('w:' || start::varchar || ':{i}'), 1, 8))"
        "::bigint)"
    )
    steps = []
    for i in range(1, _WALK_STEPS + 1):
        steps.append(
            f"""s{i} AS (
  SELECT s.start, {', '.join(f's.w{k}' for k in range(i))}, a.v AS w{i}
  FROM s{i - 1} s JOIN adjd a
    ON a.u = s.w{i - 1} AND a.rk = 1 + {h.format(i=i)} % a.deg
)"""
        )
    pair_rows = "\n  UNION ALL ".join(
        f"SELECT least(w{i}, w{j}) AS a, greatest(w{i}, w{j}) AS b FROM s{_WALK_STEPS}"
        for i in range(_WALK_STEPS + 1)
        for j in range(i + 1, min(i + _WALK_WINDOW, _WALK_STEPS) + 1)
    )
    return f"""
WITH edges AS ({_EDGES_SQL}),
adjd AS (
  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY u) AS deg
  FROM edges
),
s0 AS (SELECT DISTINCT u AS start, u AS w0 FROM adjd),
{', '.join(steps)},
pairs AS (
  {pair_rows}
)
SELECT a, b, count(*) AS n FROM pairs WHERE a != b
GROUP BY a, b ORDER BY n DESC, a, b LIMIT {_WALK_TOPK}
"""


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 5-iteration fixed-point PageRank (d=0.85) over
    the co-purchase graph.

    Scale shape: the edge list and per-node out-degrees are computed
    once and persisted; each iteration is ONE equi-join (edges ⋈ ranks
    on the source key) + ONE aggregate (sum contributions by target) —
    the canonical shuffle-per-superstep Pregel shape. The update is
    LINEAR in ranks: the co-purchase graph is symmetric, so every node
    has deg ≥ 1 and appears as some edge's target — contrib's node set
    IS the node set, and the old per-iteration ``ranks LEFT JOIN
    contrib`` (which used ranks twice and therefore needed a
    localCheckpoint per round to stop the self-referencing DAG doubling)
    is unnecessary. With one use of ranks per round the whole
    5-iteration loop runs as ONE lazy query — no per-round checkpoint
    jobs, no intermediate materialization (guide §1.2: fix the
    distributed algorithm first; measured 8.0 s → 4.2 s at sf0.1,
    result-identical, oracle re-proven). The left-join form remains the
    right shape for graphs with isolated nodes — not this projection.
    No driver-side collect anywhere in the loop; the final top-k is
    TakeOrdered, not a global sort."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
    # (u, v, deg_u): join once, reuse every iteration
    out = edges.join(deg, "u").persist()
    ranks = (
        deg.select(F.col("u").alias("node"))
        .withColumn("rank", F.lit(_PR_SCALE).cast("long"))
    )
    for _ in range(_PR_ITERS):
        ranks = (
            out.join(ranks, out.u == ranks.node)
            .select(F.col("v").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
            .select(
                "node",
                (
                    F.lit(_PR_TELEPORT)
                    + F.expr("85 * coalesce(c, 0) div 100")
                ).cast("long").alias("rank"),
            )
        )
    top = ranks.orderBy(F.desc("rank"), "node").limit(_PR_TOPK)
    # NOTE: no unpersist here — the query is returned LAZY (the loop above
    # builds one query; nothing has executed yet), so an eager unpersist
    # would evict the cache entry before the action ever uses it. Spark's
    # CacheManager keys on the canonicalized plan, so repeated calls share
    # one entry rather than stacking copies; the bench's per-query
    # clearCache() (and any caller's) reclaims it.
    return top.select(F.col("node").cast("long").alias("node"), "rank")


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT n.node,
         ({_PR_TELEPORT} + 85 * coalesce(c.c, 0) // 100)::bigint AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.v AS node, sum({prev}.rank // d.deg) AS c
    FROM edges e
    JOIN {prev} ON e.u = {prev}.node
    JOIN deg d ON e.u = d.node
    GROUP BY e.v
  ) c ON n.node = c.node
)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT u AS node, count(*) AS deg FROM edges GROUP BY u),
nodes AS (SELECT node FROM deg),
r0 AS (SELECT node, {_PR_SCALE}::bigint AS rank FROM nodes),
{",".join(iters)}
SELECT node, rank FROM {prev}
ORDER BY rank DESC, node
LIMIT {_PR_TOPK}
"""


_BFS_SOURCE = 1
_BFS_MAX_HOPS = 6


def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram from part 1 over the co-purchase graph
    (how many parts are 0, 1, 2 … hops away, bounded at 6).

    Scale shape: per round only the NEW frontier joins the edge list
    (frontier ⋈ edges on the source key) and the visited set grows by
    an anti-join — the thin-frontier BFS from plans/closure.py:119,
    with lineage cut per round. The visited set is a LAZY union of the
    per-hop checkpointed frontiers, never re-materialized as a whole:
    the old ``visited.unionAll(nxt).localCheckpoint()`` paid an O(V)
    write per hop just to re-store rows already checkpointed the hop
    before (guide §5: localCheckpoint cuts lineage — each frame is cut
    once, the union of cut frames needs no further cutting). Rounds =
    graph diameter (here the cap, 6)."""
    from functools import reduce

    edges = _copurchase_edges(spark, sf_dir)
    frames = [
        spark.range(1)
        .select(
            F.lit(_BFS_SOURCE).cast("long").alias("node"),
            F.lit(0).cast("int").alias("d"),
        )
        .localCheckpoint()
    ]
    frontier = frames[0].select("node")
    for hop in range(1, _BFS_MAX_HOPS + 1):
        seen = reduce(DataFrame.unionAll, (f.select("node") for f in frames))
        nxt = (
            frontier.join(edges, frontier.node == edges.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("d", F.lit(hop).cast("int"))
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        frames.append(nxt)
        frontier = nxt.select("node")
    return (
        reduce(DataFrame.unionAll, frames)
        .groupBy("d")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("d")
    )


ORACLE_BFS = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
bfs(node, d) AS (
  SELECT {_BFS_SOURCE}::bigint AS node, 0 AS d
  UNION
  SELECT e.v, bfs.d + 1
  FROM bfs JOIN edges e ON e.u = bfs.node
  WHERE bfs.d < {_BFS_MAX_HOPS}
),
dist AS (SELECT node, min(d) AS d FROM bfs GROUP BY node)
SELECT d::int AS d, count(*) AS n_nodes FROM dist GROUP BY d ORDER BY d
"""


def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph (degree → #nodes) —
    the first sizing canary for any graph workload (skew detection:
    `scale.skewed_key_report`'s graph twin). Two narrow aggregates, no
    joins beyond the projection itself."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


ORACLE_DEGREES = f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT u, count(*) AS degree FROM edges GROUP BY u)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
"""


_JACCARD_MIN_SHARED = 3
_JACCARD_TOPK = 15


def node_jaccard_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 part pairs by Jaccard similarity of their order sets
    (shared / (|A| + |B| - shared)) with at least 3 shared orders —
    node-similarity over the bipartite part↔order graph (the Cypher
    `gds.nodeSimilarity` shape, computed as set algebra).

    Scale shape: candidates come ONLY from the order-key self-join
    (pairs that share >= 1 order) — never all part pairs; the pair
    numerator is read off the shared weighted co-purchase artifact's
    ``wd`` column (countDistinct(orderkey) per raw-join pair == the
    distinct-(part,order) self-join count — every other graph query
    already shares that one self-join, guide §2.4), so the only work
    left here is the per-part set sizes (one distinct + aggregate) and
    the size joins, which broadcast onto the candidate stream.
    Determinism: the similarity is one IEEE division of two exact
    integers, identical in any engine, so the ORDER BY boundary cannot
    flip."""
    li = (
        load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
        .select(
            F.col("l_partkey").cast("long").alias("p"),
            F.col("l_orderkey").cast("long").alias("o"),
        )
        .distinct()
    )
    sizes = li.groupBy("p").agg(F.count("*").alias("n"))
    shared = (
        weighted_half_edges(spark, sf_dir)
        .select("u", "v", F.col("wd").alias("shared"))
        .filter(F.col("shared") >= _JACCARD_MIN_SHARED)
    )
    sa = sizes.select(F.col("p").alias("u"), F.col("n").alias("nu"))
    sb = sizes.select(F.col("p").alias("v"), F.col("n").alias("nv"))
    # no broadcast hints: the size table is node-count-sized (not a
    # bounded dim), so these must be able to degrade to shuffle joins
    # at scale; AQE broadcasts them at harness scale on its own
    sim = (
        shared.join(sa, "u")
        .join(sb, "v")
        .withColumn(
            "sim",
            F.col("shared") / (F.col("nu") + F.col("nv") - F.col("shared")),
        )
    )
    out = (
        sim.orderBy(F.desc("sim"), "u", "v")
        .limit(_JACCARD_TOPK)
        .select("u", "v", "shared", F.round("sim", 4).alias("jaccard"))
    )
    return out


ORACLE_JACCARD = f"""
WITH po AS (SELECT DISTINCT l_partkey::bigint AS p, l_orderkey::bigint AS o
            FROM lineitem),
sizes AS (SELECT p, count(*) AS n FROM po GROUP BY p),
shared AS (
  SELECT a.p AS u, b.p AS v, count(*) AS shared
  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {_JACCARD_MIN_SHARED}
),
sim AS (
  SELECT s.u, s.v, s.shared,
         s.shared / (sa.n + sb.n - s.shared) AS sim
  FROM shared s
  JOIN sizes sa ON s.u = sa.p
  JOIN sizes sb ON s.v = sb.p
)
SELECT u, v, shared, round(sim, 4) AS jaccard
FROM sim
ORDER BY sim DESC, u, v
LIMIT {_JACCARD_TOPK}
"""


_LP_ROUNDS = 4
_LP_MIN_SHARED = 2
_LP_TOPK = 10

_STRONG_EDGES_SQL = f"""
  SELECT u, v FROM (
    SELECT a.l_partkey::bigint AS u, b.l_partkey::bigint AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_SHARED}
  ) UNION ALL
  SELECT v, u FROM (
    SELECT a.l_partkey::bigint AS u, b.l_partkey::bigint AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_SHARED}
  )
"""


def _strong_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges weighted ≥2 shared orders, symmetric — the
    sparser 'strong-tie' graph where community structure survives. A
    filter over the shared weighted artifact: no second self-join."""
    half = (
        weighted_half_edges(spark, sf_dir)
        .filter(F.col("w") >= _LP_MIN_SHARED)
        .select("u", "v")
    )
    return half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 communities after 4 rounds of SYNCHRONOUS min-label
    propagation over the strong-tie co-purchase graph (≥2 shared
    orders). Synchronous + min-tiebreak makes every round a pure
    function of the previous labelling — deterministic in any engine,
    so the oracle can unroll the same rounds in SQL (asynchronous LPA,
    what ``gds.labelPropagation`` runs, is order-dependent and could
    never hash-match).

    Scale shape: each round is ONE equi-join (edges ⋈ labels on the
    source key) + ONE min-aggregate by target — identical to the
    PageRank superstep. This is also exactly the operators/groups.py CC
    loop with a bounded round count. The update is made LINEAR in
    labels by adding a zero-weight SELF-LOOP per node:
    ``least(own, min-of-neighbours)`` is exactly ``min`` over
    neighbours ∪ {self}, so each round uses labels once and the whole
    bounded loop runs as ONE lazy query — no per-round localCheckpoint
    jobs or intermediate materialization, same trick as
    pagerank_copurchase (guide §1.2; result-identical, oracle
    re-proven)."""
    edges = _strong_edges(spark, sf_dir).localCheckpoint()
    nodes = edges.select("u").distinct().localCheckpoint()
    # neighbours ∪ {self}: min over this set == least(own, min(nbrs))
    edges_iter = edges.unionAll(nodes.select("u", F.col("u").alias("v")))
    labels = nodes.select(F.col("u").alias("node"), F.col("u").alias("label"))
    for _ in range(_LP_ROUNDS):
        labels = (
            edges_iter.join(labels, edges_iter.u == labels.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("label").alias("label"))
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(_LP_TOPK)
    )


def _label_propagation_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT c.node,
         least(c.label, coalesce(m.nl, c.label)) AS label
  FROM {prev} c LEFT JOIN (
    SELECT e.v AS node, min(p.label) AS nl
    FROM edges e JOIN {prev} p ON e.u = p.node
    GROUP BY e.v
  ) m ON c.node = m.node
)"""
        )
        prev = f"l{i}"
    return f"""
WITH edges AS ({_STRONG_EDGES_SQL}),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
{",".join(rounds)}
SELECT label AS community, count(*) AS n_members
FROM {prev}
GROUP BY label
ORDER BY n_members DESC, community
LIMIT {_LP_TOPK}
"""


_SSSP_SOURCE = 1
_SSSP_ROUNDS = 4
_SSSP_TOPK = 20
_SSSP_COST_NUM = 1_000_000  # edge cost = 1e6 div shared-order count

_WEIGHTED_EDGES_SQL = f"""
  SELECT u, v, {_SSSP_COST_NUM} // w AS cost FROM (
    SELECT a.l_partkey::bigint AS u, b.l_partkey::bigint AS v, count(*) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  ) UNION ALL
  SELECT v, u, {_SSSP_COST_NUM} // w AS cost FROM (
    SELECT a.l_partkey::bigint AS u, b.l_partkey::bigint AS v, count(*) AS w
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
  )
"""


def weighted_paths_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 closest parts to part 1 by 4-round bounded Bellman-Ford
    over the WEIGHTED co-purchase graph (edge cost = 1e6 div shared
    orders — frequent co-purchase is 'near'). All-integer costs, so the
    relaxation and the final ranking are bit-identical in any engine
    and the oracle can unroll the same rounds.

    Scale shape: each round is ONE equi-join (frontier-less Bellman-Ford
    relaxation: dist ⋈ edges on the source key) + ONE min-aggregate by
    target — the same superstep shape as PageRank/LPA. The
    ``dist ∪ relaxed`` union (dist used twice per round, which forced a
    localCheckpoint per round) is replaced by a zero-COST SELF-LOOP per
    node: relaxing (n, n, 0) reproduces dist itself, so
    ``min(dist ∪ relaxed)`` == one relaxation over edges ∪ self-loops —
    linear in dist, the whole bounded loop one lazy query (same trick
    as pagerank/LPA; result-identical, oracle re-proven). Bounded
    rounds = bounded cost; for full convergence swap the round count
    for a fixpoint check exactly like operators/groups.py's CC loop."""
    # edge cost lives in its own column name (ecost): round r's dist
    # carries a `cost` column derived from the same lineage, and reusing
    # one name makes the round-2 self-reference ambiguous to the analyzer
    half = weighted_half_edges(spark, sf_dir).select(
        "u", "v", F.expr(f"{_SSSP_COST_NUM} div w").alias("ecost")
    )
    sym = half.unionAll(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"), "ecost")
    )
    nodes = sym.select("u").distinct().localCheckpoint()
    edges = sym.unionAll(
        nodes.select("u", F.col("u").alias("v"), F.lit(0).cast("long").alias("ecost"))
    )
    dist = spark.range(1).select(
        F.lit(_SSSP_SOURCE).cast("long").alias("node"),
        F.lit(0).cast("long").alias("cost"),
    )
    for _ in range(_SSSP_ROUNDS):
        dist = (
            dist.join(edges, dist.node == edges.u)
            .select(
                F.col("v").alias("node"),
                (F.col("cost") + F.col("ecost")).alias("cost"),
            )
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
    return (
        dist.filter(F.col("node") != _SSSP_SOURCE)
        .orderBy("cost", "node")
        .limit(_SSSP_TOPK)
    )


def _sssp_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _SSSP_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT node, min(cost) AS cost FROM (
    SELECT node, cost FROM {prev}
    UNION ALL
    SELECT e.v AS node, d.cost + e.cost AS cost
    FROM {prev} d JOIN edges e ON e.u = d.node
  ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    return f"""
WITH edges AS ({_WEIGHTED_EDGES_SQL}),
d0 AS (SELECT {_SSSP_SOURCE}::bigint AS node, 0::bigint AS cost),
{",".join(rounds)}
SELECT node, cost FROM {prev}
WHERE node != {_SSSP_SOURCE}
ORDER BY cost, node
LIMIT {_SSSP_TOPK}
"""


# --- k-core peeling ---------------------------------------------------------

_KCORE_ROUNDS = 4


def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the co-purchase graph: 4 synchronous
    rounds of "drop every node with degree < K, restrict edges to
    survivors", reporting (round, nodes, edges) after each round — the
    dense-subgraph extraction operator (spam/fraud rings, community
    cores; Neo4j ships it as ``gds.kcore``). Full coreness is this loop
    to fixpoint; the bounded form is what makes it engine-portable AND
    hash-checkable (the oracle unrolls the same rounds as chained CTEs,
    the label-propagation contract). K is data-derived — 3/4 of the
    mean degree, in integer arithmetic — so the peel cascade actually bites at
    every scale factor instead of pinning a constant that is dense at
    one sf and vacuous at another.

    Scale shape: the loop runs on the ORIENTED half edge list (u < v,
    the cached co-purchase artifact) and only ever MATERIALIZES the
    survivor sets (|V|-sized, localCheckpoint per round — the PageRank
    contract of checkpointing the small iterative state, never the edge
    list). The restricted edge list stays LAZY: round r's degree
    aggregate re-scans the checkpointed half list through r-1 pairs of
    survivor-set hash probes — AQE broadcasts the ~|V|-row keeps, so
    the scan pipelines with NO edge shuffle; the only shuffle per round
    is the degree aggregate on the node key. (If survivor sets ever
    outgrow broadcast — pathological for a peeling that by construction
    shrinks — AQE degrades the probes to shuffle joins and the
    alternative is to materialize rounds instead.) K is a 1-row frame
    cross-joined into the degree filter; no collect anywhere; per-round
    stats are 1-row aggregates unioned at the end.
    """
    cur = copurchase_half_edges(spark, sf_dir)  # (u, v), u < v, checkpointed
    kdf = None
    node_counts: list[DataFrame] = []
    edge_counts: list[DataFrame] = []
    for r in range(1, _KCORE_ROUNDS + 1):
        # persisted: ONE restricted-edge scan per round serves the keep
        # filter, the K derivation (round 1), and — via sum(deg) DIV 2,
        # every edge contributes exactly two endpoints — the PREVIOUS
        # round's n_edges stat, which used to be its own full re-scan of
        # the restricted list through all accumulated survivor probes
        # (guide §1.2: don't compute things twice). The keep checkpoint
        # below materializes the cache.
        deg = (
            cur.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
            .persist()
        )
        if kdf is None:
            # mean degree = sum(deg)/|V|, both exact ints over round-1 degrees
            kdf = deg.agg(
                F.expr("sum(deg) DIV count(*) * 3 DIV 4").alias("k")
            ).localCheckpoint()
        else:
            edge_counts.append(
                # coalesce: a fully peeled graph has an EMPTY degree frame,
                # where sum() is NULL but the old count(*) (and the oracle)
                # say 0
                deg.agg(F.expr("coalesce(sum(deg), 0) DIV 2").alias("n_edges"))
            )
        keep = (
            deg.crossJoin(kdf)
            .filter(F.col("deg") >= F.col("k"))
            .select("node")
            .localCheckpoint()
        )
        cur = (
            cur.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
        )
        node_counts.append(keep.agg(F.count("*").alias("n_nodes")))
    # the final round has no successor degree pass; count its edges once
    edge_counts.append(cur.agg(F.count("*").alias("n_edges")))
    out = [
        node_counts[r].crossJoin(edge_counts[r]).select(
            F.lit(r + 1).alias("round"), "n_nodes", "n_edges"
        )
        for r in range(_KCORE_ROUNDS)
    ]
    res = out[0]
    for frame in out[1:]:
        res = res.unionAll(frame)
    return res.orderBy("round")


def _kcore_oracle() -> str:
    ctes = []
    prev = "e0"
    selects = []
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{r} AS (
  SELECT u FROM {prev} GROUP BY u HAVING count(*) >= (SELECT k FROM kv)
), e{r} AS (
  SELECT e.u, e.v FROM {prev} e
  JOIN k{r} a ON e.u = a.u JOIN k{r} b ON e.v = b.u
)"""
        )
        selects.append(
            f"SELECT {r} AS round, (SELECT count(*) FROM k{r}) AS n_nodes,"
            f" (SELECT count(*) // 2 FROM e{r}) AS n_edges"
        )
        prev = f"e{r}"
    return f"""
WITH e0 AS ({_EDGES_SQL}),
kv AS (SELECT count(*) // count(DISTINCT u) * 3 // 4 AS k FROM e0),
{",".join(ctes)}
SELECT * FROM ({" UNION ALL ".join(selects)}) ORDER BY round
"""


QUERIES = {
    "pagerank_copurchase": pagerank_copurchase,
    "graph_walk_pairs": graph_walk_pairs,
    "kcore_peeling": kcore_peeling,
    "weighted_paths_copurchase": weighted_paths_copurchase,
    "label_propagation_communities": label_propagation_communities,
    "bfs_hops_copurchase": bfs_hops_copurchase,
    "degree_distribution": degree_distribution,
    "node_jaccard_similar": node_jaccard_similar,
}

ORACLES = {
    "pagerank_copurchase": _pagerank_oracle(),
    "graph_walk_pairs": _walk_oracle(),
    "kcore_peeling": _kcore_oracle(),
    "weighted_paths_copurchase": _sssp_oracle(),
    "label_propagation_communities": _label_propagation_oracle(),
    "bfs_hops_copurchase": ORACLE_BFS,
    "degree_distribution": ORACLE_DEGREES,
    "node_jaccard_similar": ORACLE_JACCARD,
}
