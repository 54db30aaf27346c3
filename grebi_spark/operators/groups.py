"""N3 — equivalence grouping: connected components + canonical-id election.

The reference runs a single-threaded union-find needing up to 300 GB RAM
(02_assign_ids/grebi_identifiers2groups/src/main.rs:24-158,
nextflow/codon_nextflow.config:3-6). That is the one stage of the pipeline
that fundamentally does not scale; here it becomes a distributed
fixed-point label propagation:

    label(v) ← min(label(v), min over neighbours' labels)

iterated until no label changes. Identifier-equivalence graphs are unions
of near-cliques (every entity contributes a star over its aliases), so the
effective diameter is tiny (≈2–4) and the loop converges in a handful of
iterations; each iteration is one shuffle join + aggregate, and
``localCheckpoint`` truncates the plan lineage so the loop stays O(1) per
round. For adversarial high-diameter graphs
``connected_components_star`` (Kiveris et al., "Connected Components in
MapReduce and Beyond") provides the same (id, component) contract with
O(log² n) convergence on any topology — ``build_groups`` selects via
``algorithm=``.

Canonical id per component = argmin by the reference's readability score
(grebi:* wins, then biolink:*, then CURIE-ish, then most-alphabetic —
main.rs:163-193) — implemented as a pure column expression.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SubgraphConfig
from ..session import BROADCAST_JOIN_MAX_BYTES


def id_score(col: Column) -> Column:
    """Lower is better; mirrors grebi_identifiers2groups::id_score."""
    curie_like = col.contains(":") & ~col.startswith("http")
    alpha_count = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    return (
        F.when(col.startswith("grebi:"), F.lit(-2147483648))
        .when(col.startswith("biolink:"), F.lit(-2147483648 + 1000))
        .otherwise(F.when(curie_like, F.lit(-1000)).otherwise(F.lit(0)) - alpha_count)
    )


# Label tables whose estimated size is at most this many bytes take the
# broadcast round (the whole per-round update as ONE shuffle + two
# map-side hash joins against the broadcast labels); larger graphs keep
# the shuffle-join round. The labels are string PAIRS, so the guard sizes
# them in bytes (UTF-8, not characters), not rows, against the session's
# broadcast-join threshold. The guard is one aggregate over the
# materialized init frame, the same pattern as
# graph_analytics.max_part_key; results are identical either way.
_CC_BCAST_MAX_BYTES = BROADCAST_JOIN_MAX_BYTES


def connected_components(
    edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """(src, dst) undirected edges → (id, component) with component = the
    min vertex id (by string order) in each component."""
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()

    # Initial label = min(self ∪ neighbours): the same one-shuffle
    # aggregate the old identity init paid for its distinct (sym is
    # symmetric, so every vertex appears as src), but it IS round one's
    # result — the first propagation round is free. (Round 1's pointer
    # jump over identity labels was `least(x, x)`, a no-op, so this is
    # exactly equal to the old init plus one round; saves one full
    # join+agg+jump round per CC invocation, guide §1.2.)
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.min("dst"), F.col("id")).alias("component"))
        .localCheckpoint()
    )

    # Broadcast fast path guard: the label table is |V|-sized; sizing
    # the just-materialized checkpoint is one cheap job. (The r8/r9
    # profiling showed the loop is sequential-stage-latency-bound, not
    # data-bound: each shuffle-join round runs ~4 AQE stages back to
    # back. Broadcasting the labels turns the propagate join and the
    # pointer jump into map-side probes — one shuffle stage per round.)
    n_labels, n_bytes = labels.agg(
        F.count("*"), F.sum(F.octet_length("id") + F.octet_length("component"))
    ).collect()[0]
    # per row, an UnsafeRow of two strings carries an 8-byte null bitset
    # and two 8-byte offset/length slots ahead of the string bytes
    bcast = 24 * n_labels + (n_bytes or 0) <= _CC_BCAST_MAX_BYTES

    prev_mat = None  # previous round's materialized frame (for unpersist)
    for i in range(max_iterations):
        if bcast:
            # min over neighbours' labels, grouped by the receiving
            # vertex: ONE exchange; the labels side rides as a broadcast
            # hash relation. sym is symmetric, so nbr covers every id
            # and the join back to labels is inner-complete.
            nbr = (
                sym.join(F.broadcast(labels), sym.dst == labels.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            cand = nbr.join(
                F.broadcast(
                    labels.select(
                        F.col("id").alias("_lid"),
                        F.col("component").alias("old_component"),
                    )
                ),
                nbr.id == F.col("_lid"),
            ).select(
                "id",
                "old_component",
                F.least("nbr_min", "old_component").alias("component"),
            )
            # pointer jumping, as below — the lookup side is the same
            # broadcast labels relation (component values are vertex ids)
            lbl_of = labels.select(
                F.col("id").alias("component"), F.col("component").alias("comp2")
            )
            new_labels = (
                cand.join(F.broadcast(lbl_of), "component", "left")
                .select(
                    "id",
                    "old_component",
                    F.least(
                        F.col("component"), F.coalesce("comp2", F.col("component"))
                    ).alias("component"),
                )
            )
        else:
            # candidate labels flowing along edges: neighbour's current label
            propagated = (
                sym.join(labels, sym.dst == labels.id)
                .select(sym.src.alias("id"), "component")
            )
            new_labels = (
                labels.select("id", F.col("component").alias("old_component"))
                .join(
                    labels.select("id", "component")
                    .unionAll(propagated)
                    .groupBy("id")
                    .agg(F.min("component").alias("component")),
                    "id",
                )
            )
            # pointer jumping: replace each label by its label's label, so a
            # chain's distance-to-root halves every round and convergence is
            # O(log diameter) rounds instead of O(diameter). Every component
            # value is itself a vertex id, so the self-join always resolves.
            # The lookup side is the PREVIOUS round's materialized labels —
            # self-joining the unmaterialized new_labels would recompute it.
            lbl_of = labels.select(
                F.col("id").alias("component"), F.col("component").alias("comp2")
            )
            new_labels = (
                new_labels.join(lbl_of, "component", "left")
                .select(
                    "id",
                    "old_component",
                    F.least(
                        F.col("component"), F.coalesce("comp2", F.col("component"))
                    ).alias("component"),
                )
            )
        # ONE job per round: materializing the frame and the fixpoint
        # check share it — the old label rides along, so no separate
        # change-detection join. Lineage is cut every few rounds.
        new_labels = (
            new_labels.localCheckpoint() if i % 4 == 3 else new_labels.persist()
        )
        changed = (
            new_labels.filter(F.col("component") != F.col("old_component"))
            .limit(1)
            .count()
        )
        if prev_mat is not None:
            prev_mat.unpersist()
        prev_mat = new_labels
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels


def _swap(e: DataFrame) -> DataFrame:
    return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


def connected_components_star(
    edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the high-diameter-safe alternative to min-label propagation, closing
    the documented limitation of ``connected_components``: label
    propagation needs O(diameter) rounds (pointer jumping brings it to
    O(log d)); the star algorithm contracts the graph itself and
    converges in O(log² n) rounds on ANY topology, each round two
    edge-keyed shuffles.

    large-star: every node's strictly-larger neighbours re-attach to
    the min of its neighbourhood (incl. itself); small-star: every
    node's ≤-neighbours and the node itself attach to the neighbourhood
    min. At fixpoint the edge set is a union of stars (v → component
    min), read off directly as the label table. Same contract as
    ``connected_components``: (id, component), component = min vertex
    id by string order — interchangeable, and proven result-identical
    in tests (chain, star, random, and clique fixtures)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    prev_mat = None
    # each round's |edges| is carried forward: round r's e.count() IS
    # round r-1's ss.count(), so recounting the checkpointed frame was
    # one redundant job per round (guide §1.2: don't compute things
    # twice). Python's `and` keeps the expensive subtract gated on the
    # counts matching first.
    n_e = e.count()
    for _ in range(max_iterations):
        # LARGE-STAR over the symmetric neighbourhood
        sym = e.unionAll(_swap(e))
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        ls = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("mn"), F.col("src")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            # no distinct here: ls feeds ONLY the hi projection below,
            # whose own distinct dedups the same rows (its partial
            # aggregate already combines duplicates map-side) — the
            # extra Exchange + dedup pass bought nothing (guide §2.4:
            # a distinct on data that is deduped again right after)
        )
        # SMALL-STAR over the (hi → lo) orientation
        hi = (
            ls.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        mins2 = hi.groupBy("src").agg(F.min("dst").alias("mn"))
        attach_nb = hi.join(mins2, "src").select(
            F.col("dst").alias("src"), F.col("mn").alias("dst")
        )
        attach_self = mins2.select("src", F.col("mn").alias("dst"))
        ss = (
            attach_nb.unionAll(attach_self)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint: the round was an identity on the edge set
        n_ss = ss.count()
        same = n_ss == n_e and ss.subtract(e).limit(1).count() == 0
        if prev_mat is not None:
            prev_mat.unpersist()
        prev_mat = ss
        e = ss
        n_e = n_ss
        if same:
            break
    # stars read off as labels; roots label themselves
    return (
        e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
        .unionAll(
            e.select(
                F.col("dst").alias("id"), F.col("dst").alias("component")
            )
        )
        .distinct()
    )


def build_groups(
    identifier_edges: DataFrame,
    config: SubgraphConfig | None = None,
    clique_warn_size: int = 50,
    algorithm: str = "label",
) -> DataFrame:
    """→ (id, group_id): every alias mapped to its clique's canonical id.

    Seed groups from config (which may merge *property names* —
    ebi_full_monarch.json:35-43) are added as extra edges. Only ids that
    belong to a ≥2-member group appear (the reference emits only such
    groups; singletons map to themselves downstream).
    """
    edges = identifier_edges
    spark = identifier_edges.sparkSession
    if config and config.additional_equivalence_groups:
        seed_pairs = [
            (g[0], other) for g in config.additional_equivalence_groups for other in g[1:]
        ]
        seeds = spark.createDataFrame(seed_pairs, ["src", "dst"])
        edges = edges.unionAll(seeds)

    cc = connected_components_star if algorithm == "star" else connected_components
    comps = cc(edges)
    canon = (
        comps.withColumn("score", id_score(F.col("id")))
        .groupBy("component")
        .agg(
            F.min_by("id", F.struct(F.col("score"), F.col("id"))).alias("group_id"),
            F.count("*").alias("n_members"),
        )
    )
    groups = comps.join(canon, "component").select("id", "group_id", "n_members")
    # the canary's predicate is fully determined by the component-sized
    # canon frame — checking it there skips re-evaluating the
    # vertex-sized comps⋈canon join just to probe existence (guide
    # §1.2; the warning fires for exactly the same components)
    oversized = canon.filter(F.col("n_members") > clique_warn_size)
    n_big = oversized.limit(1).count()
    if n_big:
        # the reference's correctness canary (main.rs:131-133); stderr —
        # stdout is reserved for the bench JSON contract
        print(
            f"WARNING: equivalence group(s) larger than {clique_warn_size} members detected",
            file=sys.stderr,
        )
    return groups.select("id", "group_id")
