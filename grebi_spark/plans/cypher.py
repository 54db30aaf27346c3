"""A Cypher-subset translator: the reference's own query files
(queries/*.cypher) compile to DataFrame plans over a BuiltGraph.

The reference's stage 08 delegates these files to Neo4j
(08_run_queries/run_queries.slurm.py:20-60). Supporting the subset they
actually use lets a GrEBI user run their existing query files unchanged;
Catalyst plans the joins.

Supported subset (everything in queries/*.cypher and the read paths of
the notebooks/*.ipynb queries):
- MATCH chains: ``(a:`L`)-[r:`T`]->(b)``, both directions, undirected
  ``-[r]-``, anonymous nodes/edges, multi-MATCH, ``p = (...)`` path
  assignment (path var ignored), the universal ``GraphNode`` label
- edge-type alternation ``[:(`A`|`B`)]`` / ``[r:`A`|`B`]``
  (notebooks/gwas.ipynb, notebooks/prolactin.ipynb)
- edge variables: ``type(r)``, ``r.`grebi:datasources```, reified edge
  props ``r.`p`[0]``, and ``WHERE "lit" IN r.`p``` (notebooks/hpo.ipynb)
- ``RETURN *`` (all named vars; edge vars surface as
  ``struct(type, datasources)`` — notebooks/fipronil.ipynb)
- array-valued property access ``n.`p``` (no ``[0]``) returns the sorted
  value array, Neo4j-style (notebooks/prolactin.ipynb: ``disease.id``)
- variable-length paths ``-[:`T`*1..]->`` / ``*1..n`` (compiled to the
  path-doubling transitive closure in plans.closure —
  notebooks/ic_scores.ipynb uses ``[:`biolink:broad_match`*1..]``)
- the id-resolution idiom ``(d)-[:id]->(x:Id {id: "v"})`` (or
  ``{id: $param}``), the only place a node property pattern is
  accepted — any other ``{id: ...}`` raises ``ValueError``;
  ``USING INDEX`` hints are accepted and ignored (Catalyst plans access)
- WHERE: ``v.`p` IS NOT NULL``, ``"lit" IN v.`p```,
  ``toFloat(v.`p`[0]) <op> <num>``, ``v.`p`[0] <op> "lit"``
- aggregates in RETURN and in one ``WITH`` barrier: ``count`` /
  ``count(*)``, ``count(DISTINCT …)``, ``collect``,
  ``collect(DISTINCT …)``, ``avg``, ``sum``, ``min``, ``max`` —
  grouping keys are the non-aggregate items, Cypher-style
  (notebooks/ic_scores.ipynb:
  ``WITH ancestor, count(DISTINCT subclass) AS num_desc``)
- RETURN [DISTINCT]: ``v.`p`[0] AS a``, ``toFloat(...) AS a``, bare
  variables, WITH-introduced aliases
- ORDER BY <alias | v.`p`> [DESC], SKIP n, LIMIT n
- ``$param`` substitution via ``run_cypher(graph, text, params={...})``
- ``OPTIONAL MATCH`` (with an attached WHERE): the optional pattern is
  planned independently and LEFT-joined on the variables it shares with
  the mandatory pattern — unmatched bindings surface as NULLs, multiple
  matches multiply rows, exactly Neo4j's semantics. An OPTIONAL MATCH's
  WHERE filters the optional side before the join (so it never turns a
  null row into a dropped row).

Mutations: ``SET`` and ``(DETACH) DELETE`` (the ic_scores notebook's
write-back flow, incl. the CALL-IN-TRANSACTIONS batching wrapper) are
implemented copy-on-write in ``plans.cypher_write`` — see
``run_cypher_mutation``. Still out of scope: CREATE / MERGE (the graph
is built by the pipeline, not by queries).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pipeline import BuiltGraph
from ..schema import VALUE_PROPS
from .closure import transitive_closure

#: labels that match every merged node (the Neo4j export gives all nodes
#: the GraphNode label — 06_prepare_db_import/grebi_make_neo_csv/src/
#: main.rs:184-193; Id nodes are resolved via source_ids instead)
_UNIVERSAL_LABELS = ("", "Id", "GraphNode")

_NODE = re.compile(
    r"\(\s*(?P<var>[A-Za-z_][A-Za-z0-9_]*)?\s*"
    r"(?::\s*`?(?P<label>[^`\)\{]+?)`?\s*)?"
    r"(?:\{\s*id\s*:\s*\"(?P<idval>[^\"]+)\"\s*\})?\s*\)"
)
_EDGE = re.compile(
    r"(?P<left><)?-\s*\[\s*(?P<var>[A-Za-z_][A-Za-z0-9_]*)?\s*"
    r"(?::\s*(?P<type>[^\]\*]+?)\s*)?"
    r"(?:\*\s*(?P<minhops>\d+)?\s*(?:\.\.\s*(?P<maxhops>\d+)?)?)?\s*"
    r"\]\s*-(?P<right>>)?"
)


def _parse_edge_types(text: str | None) -> tuple[str, ...] | None:
    """``(`A`|`B`)`` / ```A`|`B``` / ``A`` → a tuple of type names."""
    if not text:
        return None
    text = text.strip()
    if text.startswith("(") and text.endswith(")"):
        text = text[1:-1]
    return tuple(t.strip().strip("`") for t in text.split("|") if t.strip())


_AGG_FNS = ("count", "collect", "avg", "sum", "min", "max")
_AGG = re.compile(
    r"\b(?P<fn>" + "|".join(_AGG_FNS) + r")\s*\(\s*(?P<distinct>DISTINCT\s+)?(?P<arg>.+?)\s*\)",
    re.I,
)


@dataclass
class ParsedQuery:
    node_labels: dict[str, str] = field(default_factory=dict)
    node_id_constraints: dict[str, str] = field(default_factory=dict)
    # (from_var, edge_types, to_var, direction, (min,max) hops | None, edge_var)
    edges: list[
        tuple[str, tuple[str, ...] | None, str, str, tuple[int, int | None] | None, str | None]
    ] = field(default_factory=list)
    wheres: list[str] = field(default_factory=list)
    path_vars: set[str] = field(default_factory=set)
    with_items: list[str] = field(default_factory=list)  # aggregate barrier
    return_items: list[str] = field(default_factory=list)
    distinct: bool = False
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (expr, desc)
    skip: int | None = None
    limit: int | None = None
    # each OPTIONAL MATCH (pattern + its WHEREs) is a sub-query planned
    # independently, then LEFT-joined on shared variables
    optionals: list["ParsedQuery"] = field(default_factory=list)


def _split_clauses(text: str) -> list[tuple[str, str]]:
    text = re.sub(r"//[^\n]*", " ", text)
    # planner hints are Neo4j-physical; Catalyst owns access paths here
    text = re.sub(r"\bUSING\s+INDEX\s+\S+", " ", text, flags=re.I)
    text = re.sub(r"\s+", " ", text).strip()
    pat = re.compile(
        r"\b(OPTIONAL MATCH|MATCH|WITH|WHERE|RETURN|ORDER BY|SKIP|LIMIT)\b",
        re.IGNORECASE,
    )
    # a keyword inside [...] or (...) is part of an expression (e.g. the
    # WHERE of a list comprehension), not a clause boundary
    depth = 0
    depths = []
    for ch in text:
        depths.append(depth)
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
    parts: list[tuple[str, str]] = []
    matches = [m for m in pat.finditer(text) if depths[m.start()] == 0]
    for i, m in enumerate(matches):
        end = matches[i + 1].start() if i + 1 < len(matches) else len(text)
        parts.append((m.group(1).upper(), text[m.end():end].strip()))
    return parts


def _split_top_and(body: str) -> list[str]:
    """Split a WHERE body on AND, ignoring ANDs inside brackets (an AND
    inside a list comprehension's predicate is not a conjunction)."""
    parts, depth, start = [], 0, 0
    for m in re.finditer(r"[\(\)\[\]]|\bAND\b", body, re.I):
        tok = m.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            parts.append(body[start:m.start()])
            start = m.end()
    parts.append(body[start:])
    return [p for p in (x.strip() for x in parts) if p]


def _parse_pattern(pattern: str, q: ParsedQuery) -> None:
    pattern = pattern.strip()
    pm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*", pattern)
    if pm:
        q.path_vars.add(pm.group(1))
        pattern = pattern[pm.end():]
    pos = 0
    anon = 0
    prev_var: str | None = None
    pending: tuple[str | None, str] | None = None
    while pos < len(pattern):
        nm = _NODE.match(pattern, pos)
        if not nm:
            break
        var = nm.group("var")
        if not var:
            anon += 1
            var = f"__anon{len(q.node_labels)}_{anon}"
        if nm.group("label"):
            q.node_labels[var] = nm.group("label").strip()
        else:
            q.node_labels.setdefault(var, "")
        if nm.group("idval"):
            q.node_id_constraints[var] = nm.group("idval")
        if prev_var is not None and pending is not None:
            etype, direction, hops, evar = pending
            if direction == "right":
                q.edges.append((prev_var, etype, var, "->", hops, evar))
            elif direction == "left":
                q.edges.append((var, etype, prev_var, "->", hops, evar))
            else:
                q.edges.append((prev_var, etype, var, "--", hops, evar))
        prev_var = var
        pos = nm.end()
        em = _EDGE.match(pattern, pos)
        if em:
            etype = _parse_edge_types(em.group("type"))
            if em.group("right"):
                direction = "right"
            elif em.group("left"):
                direction = "left"
            else:
                direction = "both"
            hops: tuple[int, int | None] | None = None
            if em.group("minhops") is not None or "*" in em.group(0):
                lo = int(em.group("minhops") or 1)
                hi = int(em.group("maxhops")) if em.group("maxhops") else None
                hops = (lo, hi)
            pending = (etype, direction, hops, em.group("var"))
            pos = em.end()
        else:
            pending = None


def parse_cypher(text: str) -> ParsedQuery:
    q = ParsedQuery()
    # a WHERE belongs to the clause it follows: after OPTIONAL MATCH it
    # filters the optional pattern, anywhere else it filters the main query
    where_target = q
    for kw, body in _split_clauses(text):
        if kw == "MATCH":
            where_target = q
            for chain in body.split(","):
                if "(" in chain:
                    _parse_pattern(chain, q)
        elif kw == "OPTIONAL MATCH":
            sub = ParsedQuery()
            for chain in body.split(","):
                if "(" in chain:
                    _parse_pattern(chain, sub)
            q.optionals.append(sub)
            where_target = sub
            # the optional pattern's vars are visible downstream (RETURN *,
            # ORDER BY); mandatory labels win on shared vars
            for v, label in sub.node_labels.items():
                q.node_labels.setdefault(v, label)
        elif kw == "WHERE":
            where_target.wheres.extend(w.strip() for w in _split_top_and(body))
        elif kw == "RETURN":
            body = body.strip()
            if body.upper().startswith("DISTINCT"):
                q.distinct = True
                body = body[len("DISTINCT"):].strip()
            q.return_items = [i.strip() for i in _split_top_commas(body)]
        elif kw == "ORDER BY":
            for item in _split_top_commas(body):
                item = item.strip()
                desc = bool(re.search(r"\bDESC\b", item, re.I))
                expr = re.sub(r"\b(DESC|ASC)\b", "", item, flags=re.I).strip()
                q.order_by.append((expr, desc))
        elif kw == "SKIP":
            q.skip = int(body.split()[0])
        elif kw == "LIMIT":
            q.limit = int(body.split()[0])
        elif kw == "WITH":
            where_target = q
            items = [i.strip() for i in _split_top_commas(body)]
            if any(_AGG.search(i) for i in items):
                if q.with_items:
                    raise ValueError("only one aggregating WITH is supported")
                q.with_items = items
            # non-aggregating WITH = variable scoping only; all vars stay bound
    return q


def _split_top_commas(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


_PROP = re.compile(r"(?P<var>[A-Za-z_][A-Za-z0-9_]*)\.`?(?P<prop>[^`\[\s]+)`?(?P<first>\[0\])?")


def _balanced(s: str) -> bool:
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


class _Planner:
    def __init__(self, graph: BuiltGraph, q: ParsedQuery):
        self.graph = graph
        self.q = q
        self.bound: set[str] = set()
        self.df: DataFrame | None = None
        self.prop_cols: dict[tuple[str, str, bool], str] = {}
        self.edge_vars: set[str] = set()

    # -- binding construction -------------------------------------------
    def _node_df(self, var: str) -> DataFrame:
        label = self.q.node_labels.get(var, "")
        nodes = self.graph.nodes
        if label not in _UNIVERSAL_LABELS:
            nodes = nodes.filter(F.array_contains("types", label))
        return nodes.select(F.col("node_id").alias(var))

    def _bind_first(self, var: str) -> None:
        self.df = self._node_df(var)
        self.bound.add(var)

    def _apply_edge(
        self,
        a: str,
        etype: tuple[str, ...] | None,
        b: str,
        direction: str,
        hops: tuple[int, int | None] | None = None,
        evar: str | None = None,
    ) -> None:
        e = self.graph.edges
        if etype:
            e = (
                e.filter(F.col("edge_type") == etype[0])
                if len(etype) == 1
                else e.filter(F.col("edge_type").isin(list(etype)))
            )
        extra = []
        if evar and hops is None:
            # a named edge variable binds the edge's type, provenance and
            # reified props so type(r) / r.`p` can read them downstream
            extra = [
                F.col("edge_type").alias(f"__e_{evar}__type"),
                F.col("datasources").alias(f"__e_{evar}__datasources"),
                F.col("value_props").alias(f"__e_{evar}__props"),
            ]
            self.edge_vars.add(evar)
        fwd = e.select(
            F.col("from_id").alias("__src"), F.col("to_id").alias("__dst"), *extra
        )
        if hops is not None:
            lo, hi = hops
            if lo not in (0, 1):
                raise ValueError(f"unsupported minimum hop count: {lo}")
            # `*1..` / `*1..n`: expand via the path-doubling closure —
            # (descendant, ancestor) pairs following src→dst direction
            fwd = transitive_closure(
                fwd, "__src", "__dst", max_depth=hi or 30
            ).select(
                F.col("descendant").alias("__src"), F.col("ancestor").alias("__dst")
            )
        if direction == "--":
            keep = [c for c in fwd.columns if c not in ("__src", "__dst")]
            rel = fwd.unionAll(
                fwd.select(
                    F.col("__dst").alias("__src"), F.col("__src").alias("__dst"), *keep
                )
            ).distinct()
        else:
            rel = fwd
        if self.df is None:
            self._bind_first(a)
        if a in self.bound and b not in self.bound:
            self.df = (
                self.df.join(rel, self.df[a] == rel["__src"])
                .withColumn(b, F.col("__dst"))
                .drop("__src", "__dst")
            )
            self.df = self.df.join(self._node_df(b), b, "left_semi") if self.q.node_labels.get(b) not in _UNIVERSAL_LABELS else self.df
            self.bound.add(b)
        elif b in self.bound and a not in self.bound:
            self.df = (
                self.df.join(rel, self.df[b] == rel["__dst"])
                .withColumn(a, F.col("__src"))
                .drop("__src", "__dst")
            )
            self.df = self.df.join(self._node_df(a), a, "left_semi") if self.q.node_labels.get(a) not in _UNIVERSAL_LABELS else self.df
            self.bound.add(a)
        elif a in self.bound and b in self.bound:
            cond = (self.df[a] == rel["__src"]) & (self.df[b] == rel["__dst"])
            if extra:  # the edge var's columns must survive the join
                self.df = self.df.join(rel, cond).drop("__src", "__dst")
            else:
                self.df = self.df.join(rel, cond, "left_semi")
        else:
            self._bind_first(a)
            self._apply_edge(a, etype, b, direction, hops, evar)

    # -- property attachment --------------------------------------------
    def _canonical_prop(self, prop: str) -> str:
        """Property names are data: the pipeline rewrites keys through the
        equivalence groups (N4), so a query asking for ``impc:name`` must
        read the canonical key (e.g. ``grebi:name``). One tiny metadata
        lookup at compile time."""
        hit = self.graph.groups.filter(F.col("id") == prop).select("group_id").head()
        return hit["group_id"] if hit else prop

    def prop_col(self, var: str, prop: str, first: bool = True) -> str:
        """Attach ``var``'s property as a column; ``first`` picks the
        min value (``p[0]`` access), otherwise the sorted value array
        (Neo4j array-property semantics, e.g. ``disease.id``)."""
        prop = self._canonical_prop(prop)
        key = (var, prop, first)
        if key in self.prop_cols:
            return self.prop_cols[key]
        suffix = "" if first else "_arr"
        alias = f"__{var}__{re.sub('[^A-Za-z0-9]', '_', prop)}{suffix}"
        agg = (
            F.min("value") if first else F.array_sort(F.collect_set("value"))
        ).alias(alias)
        vals = (
            self.graph.merged.filter(F.col("prop_key") == prop)
            .groupBy("node_id")
            .agg(agg)
            .withColumnRenamed("node_id", var)
        )
        self.df = self.df.join(vals, var, "left")
        self.prop_cols[key] = alias
        return alias

    def edge_prop(self, var: str, prop: str, first: bool) -> Column:
        """``r.`p``` on an edge variable: grebi:datasources comes from the
        edge row itself; anything else reads the reified value props
        (05_materialise keeps them as a JSON map of arrays)."""
        if prop == "grebi:datasources":
            col = F.col(f"__e_{var}__datasources")
        else:
            col = F.element_at(
                F.from_json(F.col(f"__e_{var}__props"), VALUE_PROPS), prop
            )
        return F.element_at(col, 1) if first else col

    def expr(self, text: str) -> Column:
        text = text.strip()
        while text.startswith("(") and text.endswith(")") and _balanced(text[1:-1]):
            text = text[1:-1].strip()
        m = re.fullmatch(r"toFloat\((.+)\)", text, re.I)
        if m:
            return self.expr(m.group(1)).cast("double")
        m = re.fullmatch(r"DISTINCT\s*\((.+)\)", text, re.I)
        if m:
            return self.expr(m.group(1))
        m = re.fullmatch(r"type\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)", text, re.I)
        if m and m.group(1) in self.edge_vars:
            return F.col(f"__e_{m.group(1)}__type")
        # list comprehension with a regex filter (notebooks/hpo.ipynb:
        # `[id in term.id WHERE id =~ "hp:[0-9]*" | id][0]`); Cypher `=~`
        # is a full match, hence the anchors
        m = re.fullmatch(
            r"\[\s*(\w+)\s+in\s+(.+?)\s+WHERE\s+\1\s*=~\s*\"([^\"]+)\"\s*"
            r"\|\s*\1\s*\](?P<first>\[0\])?",
            text,
            re.I,
        )
        if m:
            arr = self.expr(m.group(2))
            pat = f"^(?:{m.group(3)})$"
            filtered = F.filter(arr, lambda x: x.rlike(pat))
            return F.element_at(filtered, 1) if m.group("first") else filtered
        pm = _PROP.fullmatch(text)
        if pm:
            first = bool(pm.group("first"))
            if pm.group("var") in self.edge_vars:
                return self.edge_prop(pm.group("var"), pm.group("prop"), first)
            return F.col(self.prop_col(pm.group("var"), pm.group("prop"), first))
        if text in self.edge_vars:
            return F.struct(
                F.col(f"__e_{text}__type").alias("type"),
                F.col(f"__e_{text}__datasources").alias("datasources"),
            )
        if text in self.bound:
            return F.col(text)
        if self.df is not None and text in self.df.columns:
            return F.col(text)  # a WITH-introduced alias
        raise ValueError(f"unsupported cypher expression: {text}")

    def _agg_column(self, fn: str, distinct: bool, arg: str, alias: str) -> Column:
        fn = fn.lower()
        if fn == "count" and arg.strip() == "*":
            return F.count(F.lit(1)).alias(alias)
        inner = self.expr(arg)
        if fn == "count":
            col = F.countDistinct(inner) if distinct else F.count(inner)
        elif fn == "collect":
            # deterministic output: Neo4j leaves collect() order unspecified
            col = F.array_sort(
                F.collect_set(inner) if distinct else F.collect_list(inner)
            )
        elif distinct:
            raise ValueError(f"DISTINCT is not supported inside {fn}()")
        else:
            col = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}[fn](inner)
        return col.alias(alias)

    def _project(self, raw_items: list[str], distinct: bool) -> DataFrame:
        """Compile a WITH/RETURN item list: non-aggregate items become
        grouping keys when any aggregate is present (Cypher semantics)."""
        agg_items, plain_items = [], []
        for item in raw_items:
            m = re.fullmatch(r"(.+?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)", item, re.I)
            expr_text, alias = (m.group(1), m.group(2)) if m else (item, None)
            am = _AGG.fullmatch(expr_text.strip())
            if am:
                name = alias or re.sub(r"[^A-Za-z0-9_]", "_", expr_text)
                agg_items.append(
                    self._agg_column(am.group("fn"), bool(am.group("distinct")), am.group("arg"), name)
                )
            else:
                col = self.expr(expr_text)
                name = alias or re.sub(r"[^A-Za-z0-9_]", "_", expr_text)
                plain_items.append(col.alias(name))
        out = self.df
        if agg_items:
            out = out.groupBy(*plain_items).agg(*agg_items) if plain_items else out.agg(*agg_items)
        else:
            out = out.select(*plain_items) if plain_items else out
        if distinct and not agg_items:
            out = out.distinct()
        return out

    # -- plan ------------------------------------------------------------
    def _plan_match(self) -> None:
        """Bind the query's MATCH patterns and WHEREs onto self.df."""
        q = self.q
        # id-resolution idiom: edges [:id] to an Id-labelled constrained var
        resolved_edges, id_vars = [], []
        for (a, etype, b, *_) in q.edges:
            id_var = None
            if etype == ("id",):
                if q.node_labels.get(b) == "Id" and b in q.node_id_constraints:
                    id_var = b
                elif q.node_labels.get(a) == "Id" and a in q.node_id_constraints:
                    id_var = a
            id_vars.append(id_var)
        stray = sorted(set(q.node_id_constraints) - set(id_vars))
        if stray:
            raise ValueError(
                f"node property pattern {{id: ...}} on ({stray[0]}) is only "
                'supported in the id-resolution idiom (n)-[:id]->(x:Id {id: "..."})'
            )
        for (a, etype, b, direction, hops, evar), id_var in zip(q.edges, id_vars):
            if id_var:
                other = b if id_var == a else a
                alias_val = q.node_id_constraints[id_var]
                cands = self.graph.nodes.filter(
                    F.array_contains("source_ids", alias_val)
                ).select(F.col("node_id").alias(other))
                if self.df is None:
                    label = q.node_labels.get(other, "")
                    if label and label != "Id":
                        cands = cands.join(self._node_df(other), other, "left_semi")
                    self.df = cands
                    self.bound.add(other)
                else:
                    self.df = self.df.join(cands, other, "left_semi")
            else:
                resolved_edges.append((a, etype, b, direction, hops, evar))
        for (a, etype, b, direction, hops, evar) in resolved_edges:
            self._apply_edge(a, etype, b, direction, hops, evar)
        if self.df is None:  # MATCH with a single node pattern
            first = next(iter(q.node_labels))
            self._bind_first(first)

        # WHERE
        for w in q.wheres:
            self._apply_where(w)

    def plan(self) -> DataFrame:
        q = self.q
        self._plan_match()

        # OPTIONAL MATCH: plan each optional pattern standalone (its WHEREs
        # filter the optional side), then LEFT-join on the shared variables —
        # unmatched bindings keep their row with NULLs (Neo4j semantics)
        for sub_q in q.optionals:
            sub = _Planner(self.graph, sub_q)
            sub._plan_match()
            shared = sorted(sub.bound & self.bound)
            if not shared:
                raise ValueError(
                    "OPTIONAL MATCH must share at least one variable with the "
                    "preceding MATCH"
                )
            dup = [
                c for c in sub.df.columns if c in self.df.columns and c not in shared
            ]
            self.df = self.df.join(sub.df.drop(*dup), shared, "left")
            self.bound |= sub.bound
            self.edge_vars |= sub.edge_vars
            self.prop_cols.update(
                {k: v for k, v in sub.prop_cols.items() if v not in dup}
            )

        # WITH barrier: group on the non-aggregate items, then continue
        # planning against the aggregated frame (its columns become the
        # bound names — ic_scores' `WITH ancestor, count(...) AS num_desc`)
        if q.with_items:
            self.df = self._project(q.with_items, distinct=False)
            self.bound = set(self.df.columns)
            self.prop_cols = {}

        # RETURN — `*` and path variables expand to all named node vars
        items: list[str] = []
        for item in q.return_items:
            if item == "*":
                items.extend(
                    v
                    for v in q.node_labels
                    if not v.startswith("__anon") and v in self.bound
                )
                # edge vars surface as struct(type, datasources)
                items.extend(sorted(self.edge_vars))
            elif item in q.path_vars:
                items.extend(
                    v
                    for v in q.node_labels
                    if not v.startswith("__anon") and v in self.bound
                )
            else:
                items.append(item)
        out = self._project(items, q.distinct)

        # ORDER BY / LIMIT — resolve against output aliases first
        if q.order_by:
            cols = []
            for expr_text, desc in q.order_by:
                if expr_text in out.columns:
                    c = F.col(expr_text)
                else:
                    pm = _PROP.fullmatch(expr_text)
                    if pm:
                        alias = f"__{pm.group('var')}__{re.sub('[^A-Za-z0-9]', '_', pm.group('prop'))}"
                        c = F.col(alias) if alias in out.columns else F.col(out.columns[-1])
                    else:
                        c = F.col(out.columns[-1])
                cols.append(c.desc() if desc else c.asc())
            out = out.orderBy(*cols)
        if q.skip is not None:
            out = out.offset(q.skip)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    def _apply_where(self, w: str) -> None:
        w = w.strip()
        m = re.fullmatch(r"(.+?)\s+IS\s+NOT\s+NULL", w, re.I)
        if m:
            # evaluate the expression FIRST — prop_col attaches a join to
            # self.df, so `self.df.filter(self.expr(...))` would bind the
            # pre-join frame
            col = self.expr(m.group(1))
            self.df = self.df.filter(col.isNotNull())
            return
        m = re.fullmatch(r"\"([^\"]+)\"\s+IN\s+(\S+)", w, re.I)
        if m:
            lit, target = m.group(1), m.group(2)
            pm = _PROP.fullmatch(target.strip())
            if not pm:
                raise ValueError(f"unsupported IN target: {target}")
            if pm.group("var") in self.edge_vars:
                self.df = self.df.filter(
                    F.array_contains(
                        self.edge_prop(pm.group("var"), pm.group("prop"), False), lit
                    )
                )
                return
            members = (
                self.graph.merged.filter(
                    (F.col("prop_key") == pm.group("prop")) & (F.col("value") == lit)
                )
                .select(F.col("node_id").alias(pm.group("var")))
                .distinct()
            )
            self.df = self.df.join(members, pm.group("var"), "left_semi")
            return
        m = re.fullmatch(r"(.+?)\s*(>=|<=|=|<>|>|<)\s*(.+)", w)
        if m:
            lhs = self.expr(m.group(1))
            op = m.group(2)
            rhs_text = m.group(3).strip()
            rhs = (
                F.lit(rhs_text[1:-1])
                if rhs_text.startswith('"')
                else F.lit(float(rhs_text))
            )
            ops = {
                ">=": lhs >= rhs, "<=": lhs <= rhs, ">": lhs > rhs,
                "<": lhs < rhs, "=": lhs == rhs, "<>": lhs != rhs,
            }
            self.df = self.df.filter(ops[op])
            return
        raise ValueError(f"unsupported WHERE clause: {w}")


def run_cypher(
    graph: BuiltGraph, text: str, params: dict[str, object] | None = None
) -> DataFrame:
    """Compile + execute a Cypher query (supported subset) on the graph.

    ``params`` replaces ``$name`` placeholders before parsing (the
    notebooks pass ``{'id': chem_id}``-style parameter maps)."""
    if params:
        def repl(m: re.Match) -> str:
            v = params[m.group(1)]
            return f'"{v}"' if isinstance(v, str) else repr(v)

        text = re.sub(r"\$(\w+)", repl, text)
    return _Planner(graph, parse_cypher(text)).plan()
