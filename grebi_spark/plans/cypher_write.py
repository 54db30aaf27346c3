"""Cypher mutation subset — ``SET`` property write-back and
``(DETACH) DELETE`` pruning over a :class:`BuiltGraph`.

Closes the one notebook surface the read-only translator scoped out:
``notebooks/ic_scores.ipynb`` runs three mutating statements against the
built Neo4j —

* cell 2 (ipynb:36-43): ``MATCH (ancestor)<-[:T*1..]-(subclass) WITH
  ancestor, count(DISTINCT subclass) AS num_desc SET ancestor.num_desc
  = num_desc RETURN max(num_desc)``
* cell 3 (ipynb:56-63): ``MATCH (cl) SET cl.ic = 1.0 -
  (cl.num_desc/$max_num_desc)``
* final cell: ``MATCH (n)-[r]-() WHERE n.ic < 0.8 CALL { WITH r DELETE
  r } IN TRANSACTIONS ... CALL { WITH n DELETE n } IN TRANSACTIONS``

Spark-first design: a graph here is a set of immutable DataFrames, so a
mutation is COPY-ON-WRITE — the statement's MATCH/WITH prefix is planned
by the read translator (``plans.cypher.run_cypher``) into an assignment
frame ``(node_id, value)``, and the new graph's ``merged`` long form is
``(old rows minus the overwritten (node, prop) rows) ∪ (new prop
rows)`` — two anti/union passes, no driver-side loop, shuffle only on
node_id. DELETE is three anti-joins (merged, node header, edges by
either endpoint). The returned :class:`BuiltGraph` shares every
untouched DataFrame with its parent, so chains of statements (the
notebook runs three) cost only their deltas.

Neo4j batching noise (``CALL { ... } IN TRANSACTIONS OF n ROWS``) is
recognised and stripped — batching is the engine's job here (Spark
partitions), not the query's.

Value semantics: properties live as strings in the merged long form
(exactly like the reference's JSONL interchange, where every scalar is
re-parsed downstream); numeric SET values are therefore stored via a
canonical ``CAST(v AS STRING)`` and read back with ``toFloat`` — the
registered parity query hash-checks this round-trip against DuckDB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import BuiltGraph
from .cypher import run_cypher


@dataclass
class MutationResult:
    graph: BuiltGraph
    result: DataFrame | None  # the statement's RETURN rows, if it has one


_SET_RE = re.compile(
    r"\bSET\s+(\w+)\.(`[^`]+`|[A-Za-z_][\w:]*)\s*=\s*(.+?)(?=\bRETURN\b|$)",
    re.S | re.I,
)
_CALL_TX_RE = re.compile(
    r"CALL\s*\{\s*WITH\s+(\w+)\s+(?:DETACH\s+)?DELETE\s+\1\s*\}\s*"
    r"IN\s+TRANSACTIONS(?:\s+OF\s+\d+\s+ROWS?)?",
    re.I | re.S,
)
_PROP_REF_RE = re.compile(r"\b(\w+)\.(`[^`]+`|[A-Za-z_][\w:]*)")


def _subst_params(text: str, params: dict | None) -> str:
    if not params:
        return text

    def _render(m: re.Match) -> str:
        v = params[m.group(1)]
        if isinstance(v, str):
            # the Cypher subset's string-literal grammar has no escape
            # sequences ("[^"]*"), so a value containing a quote or
            # backslash cannot be rendered faithfully — rendering it
            # anyway would break parsing or ALTER the statement
            # (parameter injection into the mutation text). Refuse
            # loudly instead of mutating the wrong thing silently.
            if '"' in v or "\\" in v:
                raise ValueError(
                    f"string parameter ${m.group(1)} contains a quote or "
                    "backslash, which the Cypher-subset literal grammar "
                    "cannot represent; pre-sanitize the value"
                )
            return f'"{v}"'
        return repr(v)

    return re.sub(r"\$(\w+)", _render, text)


def _strip_ticks(p: str) -> str:
    return p[1:-1] if p.startswith("`") else p


def _set_property(
    graph: BuiltGraph, assigns: DataFrame, prop_key: str
) -> BuiltGraph:
    """Copy-on-write upsert: ``assigns`` is (node_id, value). Rows for
    (node, prop_key) are replaced; every other row passes through. New
    rows carry datasource 'cypher' — mutation provenance, exactly like
    a reference datasource name would ride the merged row."""
    merged = graph.merged
    ids = assigns.select("node_id").distinct()
    untouched = merged.filter(F.col("prop_key") != prop_key).unionByName(
        merged.filter(F.col("prop_key") == prop_key).join(
            ids, "node_id", "left_anti"
        )
    )
    # one subgraph per node — the node header already carries it, so the
    # lookup joins a per-node frame instead of re-aggregating all of
    # merged (mutations must cost their delta, not a corpus pass)
    sub = graph.nodes.select("node_id", "subgraph")
    new_rows = (
        assigns.filter(F.col("value").isNotNull())
        .join(sub, "node_id")
        .select(
            "node_id",
            "subgraph",
            F.lit(prop_key).alias("prop_key"),
            F.col("value").cast("string").alias("value"),
            F.lit(None).cast("string").alias("value_props"),
            F.array(F.lit("cypher")).alias("datasources"),
            F.array().cast("array<string>").alias("source_ids"),
        )
    )
    # localCheckpoint (eager): the mutated long form feeds every
    # subsequent read and possibly further mutations — without cutting
    # lineage here a statement chain re-embeds each prior upsert's plan
    # into every consumer (the same stage-barrier rule build_graph and
    # incremental.py follow)
    merged2 = untouched.unionByName(new_rows).localCheckpoint()
    return _rederive(graph, merged2, graph.edges)


def _rederive(graph: BuiltGraph, merged: DataFrame, edges: DataFrame) -> BuiltGraph:
    """Recompute every merged-derived side table for a mutated graph —
    node header (a SET can change names/types), index aggregates,
    display types, edge summary — so no field of the returned graph
    answers from pre-mutation state. Each is the same single-pass
    aggregate a full build runs, over the (checkpointed) mutated frame.
    Edges are NOT re-materialised: Cypher SET/DELETE never creates
    edges (edge materialisation from ref-valued props is a BUILD-time
    stage); DELETE passes the anti-joined edge set in."""
    from ..operators.index import build_index
    from ..operators.materialise import display_types, edge_summary

    index = build_index(merged)
    meta = index.metadata
    return replace(
        graph,
        merged=merged,
        nodes=meta,
        edges=edges,
        index=index,
        display_types=display_types(meta, index.type_counts),
        edge_summary=edge_summary(edges, meta),
    )


def _detach_delete(graph: BuiltGraph, ids: DataFrame) -> BuiltGraph:
    """Remove the nodes in ``ids`` (node_id column) plus every edge
    touching them — Neo4j DETACH DELETE semantics, three anti-joins."""
    ids = ids.select("node_id").distinct()
    merged = graph.merged.join(ids, "node_id", "left_anti")
    nodes = graph.nodes.join(ids, "node_id", "left_anti")
    edges = graph.edges.join(
        ids.withColumnRenamed("node_id", "from_id"), "from_id", "left_anti"
    ).join(ids.withColumnRenamed("node_id", "to_id"), "to_id", "left_anti")
    groups = graph.groups.join(
        ids.withColumnRenamed("node_id", "group_id"), "group_id", "left_anti"
    )
    out = _rederive(graph, merged.localCheckpoint(), edges)
    return replace(out, groups=groups)


def run_cypher_mutation(
    graph: BuiltGraph, text: str, params: dict[str, object] | None = None
) -> MutationResult:
    """Execute one mutating Cypher statement (SET or DELETE form) and
    return the updated graph plus the statement's RETURN rows.

    SET value expressions may be a WITH alias (``SET a.num_desc =
    num_desc``) or arithmetic over ``var.prop`` accessors, numbers and
    parameters (``SET cl.ic = 1.0 - (cl.num_desc/$m)``) — prop accessors
    read the FIRST value as a double, matching the read translator's
    ``toFloat(v.`p`[0])``. A trailing RETURN is planned against the
    pre-mutation graph over the same MATCH/WITH prefix (the notebook's
    RETURNs only reference WITH aliases, where pre == post)."""
    text = _subst_params(text, params).strip()
    stripped = _CALL_TX_RE.sub("", text)

    # keyword detection ignores string literals ('SET n.note = "DELETE
    # me"' is a SET), and SET wins when both keywords appear — the
    # supported subset has no combined SET+DELETE statement
    no_strings = re.sub(r'"[^"]*"|\'[^\']*\'', '""', text)
    is_set = _SET_RE.search(re.sub(r'"[^"]*"|\'[^\']*\'', '""', stripped))
    # detect DELETE on the ORIGINAL text: the notebook's DELETEs live
    # inside the CALL-IN-TRANSACTIONS wrappers the strip just removed.
    # If the ONLY delete was inside the wrapper (the notebook runs
    # `CALL { WITH r DELETE r } IN TRANSACTIONS` as its own statement,
    # cell by cell), re-append the wrapper's target so _plan_delete sees
    # which VARIABLE dies — an edge var must not become a node delete.
    if is_set is None and re.search(r"\bDELETE\b", no_strings, re.I):
        if not re.search(r"\bDELETE\b", stripped, re.I):
            targets = [m.group(1) for m in _CALL_TX_RE.finditer(text)]
            # a node target wins: DETACH DELETE node subsumes any edge
            # wrapper in the same statement (the ic_scores prune runs
            # `DELETE r` then `DELETE n` — net effect is the node kill)
            node_targets = [
                t
                for t in targets
                if not re.search(r"\[\s*" + re.escape(t) + r"[\s:\]]", text)
            ]
            chosen = node_targets or targets
            if len(set(chosen)) > 1:
                # two non-subsumed targets (DELETE r1 ... DELETE r2)
                # cannot be folded into one statement — planning only
                # the first would silently drop the rest
                raise ValueError(
                    "multiple distinct DELETE targets in CALL-IN-TRANSACTIONS "
                    f"wrappers: {sorted(set(chosen))}; run each DELETE as its "
                    "own statement"
                )
            stripped = f"{stripped} DELETE {chosen[0]}"
        return _plan_delete(graph, stripped)

    # extract from the REAL text — the detection pass blanked string
    # literals, which must survive into the value expression
    m = _SET_RE.search(stripped)

    if not m:
        raise ValueError(
            "not a mutation statement (no SET/DELETE): use run_cypher for reads"
        )
    var, prop, value_expr = m.group(1), _strip_ticks(m.group(2)), m.group(3).strip()
    prefix = stripped[: m.start()].strip()

    # compile the value expression: pull every var.prop accessor out as a
    # RETURN item, then evaluate the residual arithmetic with F.expr
    refs: dict[str, str] = {}

    def _ref(mm: re.Match) -> str:
        v, p = mm.group(1), _strip_ticks(mm.group(2))
        alias = f"__p{len(refs)}"
        refs[alias] = f"toFloat({v}.`{p}`[0]) AS {alias}"
        return alias

    residual = _PROP_REF_RE.sub(_ref, value_expr)
    items = [f"{var} AS node_id"] + list(
        v for v in refs.values()
    )
    bare_alias = None
    if not refs and re.fullmatch(r"[A-Za-z_]\w*", residual):
        # bare WITH alias: read it straight through the planner
        bare_alias = residual
        items.append(f"{residual} AS __value")
        residual = "__value"
    read_text = f"{prefix} RETURN {' , '.join(items)}"
    bound = run_cypher(graph, read_text)
    assigns = bound.select("node_id", F.expr(residual).alias("value"))
    new_graph = _set_property(graph, assigns, prop)

    ret = re.search(r"\bRETURN\b", stripped[m.end():])
    result = None
    if ret:
        ret_items = stripped[m.end():][ret.end():].strip()
        # The trailing RETURN is planned against the PRE-mutation graph
        # over the same MATCH/WITH prefix (docstring above) — so when it
        # only references the bare WITH alias the SET already bound, its
        # rows are a pure function of `bound` and re-running the whole
        # MATCH (for `SET ancestor.num_desc` that is the full var-length
        # closure, the statement's dominant cost — guide §1.2: don't
        # compute things twice) is redundant: project the bound rows
        # directly. Only items that are exactly ``alias`` or ``alias AS
        # name`` take this path — any expression (``alias + 'x'`` has
        # Cypher semantics Spark SQL does not share) goes to the planner.
        ret_list = [it.strip() for it in ret_items.split(",")]
        plain = rf"{re.escape(bare_alias or '')}(?:\s+(?i:AS)\s+[A-Za-z_]\w*)?"
        if bare_alias is not None and all(re.fullmatch(plain, it) for it in ret_list):
            result = bound.withColumnRenamed("__value", bare_alias).selectExpr(*ret_list)
        else:
            result = run_cypher(graph, prefix + " " + stripped[m.end():].strip())
    return MutationResult(graph=new_graph, result=result)


def _plan_delete(graph: BuiltGraph, text: str) -> MutationResult:
    """``MATCH (n ...)[-[r]-()] WHERE cond ... DELETE <target>``.

    The DELETE target variable decides the semantics (previously ANY
    DELETE detach-deleted the first MATCH node, which silently killed
    nodes when a notebook cell deleted only relationships):

    - target is a NODE variable → DETACH DELETE of that variable (the
      ic_scores pruning shape: edge deletions are subsumed — every edge
      touching a deleted node dies);
    - target is a RELATIONSHIP variable in a single-hop pattern between
      two NAMED nodes → edge-only anti-join deletion (nodes survive);
    - anything else → ValueError, never a silent node delete."""
    # read-plan the selection: pattern + WHERE, minus the DELETE /
    # WITH DISTINCT tail
    head = re.split(
        r"\b(?:DETACH\s+)?DELETE\b|\bWITH\s+DISTINCT\b", text, flags=re.I
    )[0]
    dm = re.search(r"\b(?:DETACH\s+)?DELETE\s+(\w+)", text, flags=re.I)
    nm = re.match(r"\s*MATCH\s*\(\s*(\w+)", text)
    if not dm or not nm:
        raise ValueError(f"unsupported DELETE statement: {text!r}")
    target = dm.group(1)

    # is the target declared as a relationship variable? (appears inside
    # a -[target ...]- bracket rather than a (target ...) parenthesis)
    rel = re.search(
        r"\(\s*(\w*)[^)]*\)\s*(<)?-\s*\[\s*" + re.escape(target)
        + r"\s*(?::\s*`?([^\]`]+?)`?\s*)?\]\s*-\s*(>)?\s*\(\s*(\w*)[^)]*\)",
        text,
    )
    if rel:
        a, left, etype, right, b = rel.groups()
        if not a or not b:
            raise ValueError(
                "edge-only DELETE needs both endpoint nodes named "
                f"(anonymous endpoint in {text!r})"
            )
        pairs = run_cypher(
            graph, f"{head.strip()} RETURN DISTINCT {a} AS from_id, {b} AS to_id"
        ).localCheckpoint()
        directed = bool(left) != bool(right)
        # `pairs` names the FIRST pattern endpoint from_id. For a
        # left-directed pattern (a)<-[r]-(b) the matched edges run b→a,
        # so the stored orientation is the SWAP of the returned columns —
        # use only the swap, never both (dooming both orientations would
        # delete forward edges the pattern never matched). Undirected
        # patterns match either orientation, so only they union both.
        swapped = pairs.select(
            F.col("to_id").alias("from_id"), F.col("from_id").alias("to_id")
        )
        if not directed:
            pairs = pairs.unionByName(swapped).distinct()
        elif left:
            pairs = swapped
        doomed = graph.edges.join(pairs, ["from_id", "to_id"], "semi")
        if etype:
            doomed = doomed.filter(F.col("edge_type") == etype.strip())
        edges = graph.edges.join(
            doomed.select("edge_id"), "edge_id", "left_anti"
        ).localCheckpoint()
        return MutationResult(graph=_rederive(graph, graph.merged, edges), result=None)

    if not re.search(r"\(\s*" + re.escape(target) + r"\b", text):
        raise ValueError(
            f"DELETE target {target!r} is not a declared node or "
            f"relationship variable in {text!r}"
        )
    ids = run_cypher(graph, f"{head.strip()} RETURN DISTINCT {target} AS node_id")
    return MutationResult(graph=_detach_delete(graph, ids), result=None)
