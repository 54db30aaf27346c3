"""GrEBI build + serve benchmark.

    python3 perfbench/run.py --workload release --seed 1 --seconds 6 --trace 0

One run, in one fresh process:

1. generate the seeded JSONL datasources (untimed), then set up:
   start the Spark session, timed as ``setup_s``;
2. build: ``sources.jsonl.read_jsonl_nodes`` -> ``pipeline.build_graph``
   -> ``release.make_release``, from input files to a complete release,
   timed cold, as the reference's batch job runs once per process;
3. serve: the release behind ``release.release_server`` (the
   ``api.http_api.GrebiApiServer`` wiring over the KV store and the
   search core), one closed-loop client sending a fixed request cycle
   for ``--seconds`` seconds (at least ``MIN_CYCLES`` cycles), plus
   ``plans.cypher.run_cypher`` analytics in the same loop. Serving is
   checked in every run; its timings are per-layer metrics of the
   traced run and context in every record.

Every output is checked against the generator's ground truth
(``gen.Truth``); each check is one attempted operation and each
mismatch one failure. With ``--trace 1`` the build runs stage by stage
under spans tied to Spark job groups (``spans.Tracer``) and the record
holds per-layer metrics instead of end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record, which is also
written under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

MEASUREMENT_POLICY = "perfbench-2"
MIN_CYCLES = 1
# Spark task threads, at most: the corpora are small
SPARK_CPUS = 4
PAGE_SIZE = 100

WORKLOADS = {
    # about 6 sources, cliques of 1-4 entities spanning them, ~8 props,
    # 2-3 reference props, ~10% reified values, ~30% IRI aliases;
    # ~500 entities, ~6k rows: at 1000 concepts a run overran the
    # benchmark's time budget (perfbench/README.md, "Left out")
    "release": gen.Spec(sources=6, concepts=200),
    # the same generator with one hub concept (>10k aliases, fires the
    # >50-member canary) and alias chains 30 hops long, fewer props
    "cliques": gen.Spec(
        sources=6, concepts=100, literal_props=2, hubs=1,
        hub_entities=200, hub_aliases=51, chains=2, chain_len=30,
    ),
}

# one closed-loop cycle: (class, count). Resolves are cheap point reads
# and dominate the count so the read percentile rests on >= 100 samples.
CYCLE = (("resolve", 45), ("node", 1), ("page_out", 1), ("page_in", 1),
         ("search", 1), ("suggest", 1), ("cypher", 1))


def _cypher_queries(truth: gen.Truth, node: str, alias: str) -> list[tuple[str, int]]:
    """(query, expected count) — the Cypher forms the reference's query
    files use: label scans, typed hops and the id-resolution idiom."""
    types = truth.types_of
    n_gene = sum(1 for n in truth.nodes if "ex:Gene" in types[n])
    n_dis_rel0 = sum(1 for s, p, _t, _vp in truth.edges
                     if p == "ex:rel0" and "ex:Disease" in types[s])
    n_alias_out = truth.out_degree.get(node, 0)
    return [
        ("MATCH (n:`ex:Gene`) RETURN count(n) AS n", n_gene),
        ("MATCH (a:`ex:Disease`)-[r:`ex:rel0`]->(b) RETURN count(r) AS n", n_dis_rel0),
        ('MATCH (d)-[:id]->(x:Id {id: "%s"}) MATCH (d)-[r]->(b) '
         "RETURN count(b) AS n" % alias, n_alias_out),
    ]


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(path) for f in fs
    )


def _jvm_vmhwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def _setup_env(work: str) -> None:
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CPUS, os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


# --- build -------------------------------------------------------------


def build_untraced(spark, inputs, cfg, pm, out_dir):
    from grebi_spark.pipeline import build_graph
    from grebi_spark.release import make_release
    from grebi_spark.sources.jsonl import read_jsonl_nodes

    srcs = [read_jsonl_nodes(spark, p, ds) for ds, p in inputs["paths"].items()]
    graph = build_graph(srcs, cfg, prefix_map=pm)
    return graph, make_release(graph, out_dir)


def build_traced(tr, spark, inputs, cfg, pm, out_dir):
    """``pipeline.build_graph``'s stages composed one by one, each under
    its own span and ending in an eager ``localCheckpoint`` (the same
    barriers build_graph uses, plus one after each lazy stage so its
    work lands in its own span), then ``make_release`` with its sinks
    wrapped in spans."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    import grebi_spark.release as release
    from grebi_spark.operators.assign_ids import assign_ids, lift_types
    from grebi_spark.operators.groups import build_groups
    from grebi_spark.operators.identifiers import extract_identifiers, identifier_pairs
    from grebi_spark.operators.index import build_index
    from grebi_spark.operators.materialise import (
        display_types, edge_summary, materialise_edges,
    )
    from grebi_spark.operators.merge import merge_nodes
    from grebi_spark.operators.normalise import normalise_prefixes
    from grebi_spark.pipeline import BuiltGraph
    from grebi_spark.sources.jsonl import read_jsonl_nodes

    with tr.span("build") as root:
        with tr.span("ingest") as s:
            srcs = [read_jsonl_nodes(spark, p, ds).localCheckpoint()
                    for ds, p in inputs["paths"].items()]
            s.counts["rows_out"] = sum(df.count() for df in srcs)
        with tr.span("normalise"):
            srcs = [normalise_prefixes(df, pm).localCheckpoint() for df in srcs]
        all_rows = reduce(DataFrame.unionByName, srcs)
        with tr.span("identifiers") as s:
            pairs = identifier_pairs(extract_identifiers(all_rows, cfg)).localCheckpoint()
            s.counts["pairs_out"] = pairs.count()
        with tr.span("groups"):
            groups = build_groups(pairs, cfg).localCheckpoint()
        with tr.span("assign_ids") as s:
            assigned = lift_types(assign_ids(all_rows, groups, cfg), cfg).localCheckpoint()
            s.counts["rows_out"] = assigned.count()
        with tr.span("merge") as s:
            merged = merge_nodes(assigned, cfg).localCheckpoint()
            s.counts["rows_out"] = merged.count()
        with tr.span("index"):
            index = build_index(merged)
            meta = index.metadata.localCheckpoint()
        with tr.span("materialise") as s:
            edges = materialise_edges(merged, meta, cfg).localCheckpoint()
            s.counts["edges_out"] = edges.count()
        graph = BuiltGraph(
            groups=groups, merged=merged, nodes=meta, edges=edges, index=index,
            display_types=display_types(meta, index.type_counts),
            edge_summary=edge_summary(edges, meta),
        )
        sinks = [
            (release, "write_neo4j_csvs", "neo4j_csv"),
            (release, "write_solr_jsonl", "solr_jsonl"),
            (release, "build_solr_core", "solr_core"),
            (release, "build_kv_store", "kv.build"),
        ]
        with tr.patched(sinks), tr.span("release"):
            manifest = release.make_release(graph, out_dir)
    root.counts["max_clique"] = (
        groups.groupBy("group_id").count().agg(F.max("count")).first()[0] or 1
    )
    return graph, manifest


def check_build(ck: Checks, graph, manifest, truth: gen.Truth) -> None:
    n_nodes = graph.nodes.count()
    ck.check(n_nodes == len(truth.nodes), f"nodes {n_nodes} != {len(truth.nodes)}")
    got = {
        (r["from_id"], r["edge_type"], r["to_id"], r["value_props"])
        for r in graph.edges.select(
            "from_id", "edge_type", "to_id", "value_props").collect()
    }
    ck.check(got == truth.edges, f"edges {len(got)} != {len(truth.edges)}")
    digest = gen.partition_digest(
        (r["id"], r["group_id"]) for r in graph.groups.collect())
    ck.check(digest == truth.digest(), "clique partition digest differs")
    ck.check(
        manifest["n_nodes"] == len(truth.nodes)
        and manifest["n_edges"] == len(truth.edges),
        "release manifest counts differ",
    )


# --- serve -------------------------------------------------------------


class Client:
    """One closed-loop client: the next request goes out when the
    previous response is in."""

    def __init__(self, port: int, truth: gen.Truth, rng: random.Random, ck: Checks):
        self.base = f"http://127.0.0.1:{port}/api/v1/subgraphs/g"
        self.truth, self.rng, self.ck = truth, rng, ck
        nodes = list(truth.nodes)
        rng.shuffle(nodes)
        self.ranked = nodes  # Zipf rank order
        self.cum = list(itertools.accumulate(
            1.0 / (i + 1) ** 1.1 for i in range(len(nodes))))
        self.members = {}
        for clique in truth.cliques:
            self.members[truth.canon[clique[0]]] = clique
        self.n_resolve = 0
        self.n_cypher = 0

    def pick(self) -> str:
        x = self.rng.random() * self.cum[-1]
        return self.ranked[bisect.bisect_left(self.cum, x)]

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=120) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            return exc.code, json.loads(exc.read() or b"null")

    def request(self, cls: str, graph=None, tracer=None) -> float:
        """Send one request of class ``cls``, check it, return its
        latency in ms."""
        q = lambda s: urllib.parse.quote(s, safe="")  # noqa: E731
        t = self.truth
        node = self.pick()
        t0 = time.perf_counter()
        if cls == "resolve":
            self.n_resolve += 1
            if self.n_resolve % 20 == 0:  # ~5% expected misses
                alias = f"ex:MISSING{self.n_resolve:06d}"
                st, body = self._get(f"/resolve/{q(alias)}")
                ms = (time.perf_counter() - t0) * 1e3
                self.ck.check(st == 200 and body == [], f"resolve miss {alias}")
                return ms
            alias = self.rng.choice(self.members[node])
            st, body = self._get(f"/resolve/{q(alias)}")
            ms = (time.perf_counter() - t0) * 1e3
            self.ck.check(st == 200 and len(body) == 1 and body[0]["node_id"] == node,
                          f"resolve {alias}")
            return ms
        if cls == "node":
            st, body = self._get(f"/nodes/{q(node)}")
            ms = (time.perf_counter() - t0) * 1e3
            self.ck.check(st == 200 and body.get("grebi:nodeId") == node
                          and t.name_of[node] in body.get("grebi:name", []),
                          f"node {node}")
            return ms
        if cls in ("page_out", "page_in"):
            way = "outgoing" if cls == "page_out" else "incoming"
            deg = (t.out_degree if cls == "page_out" else t.in_degree).get(node, 0)
            st, body = self._get(f"/nodes/{q(node)}/{way}_edges?size={PAGE_SIZE}")
            ms = (time.perf_counter() - t0) * 1e3
            self.ck.check(st == 200 and body["numElements"] == min(deg, PAGE_SIZE),
                          f"{way} page {node}")
            return ms
        if cls in ("search", "search_bm25"):
            rank = "&rank=bm25" if cls == "search_bm25" else ""
            st, body = self._get(f"/search?q={q(t.name_of[node])}{rank}")
            ms = (time.perf_counter() - t0) * 1e3
            self.ck.check(st == 200 and any(e["node_id"] == node for e in body["elements"]),
                          f"{cls} {node}")
            return ms
        if cls == "suggest":
            st, body = self._get(f"/suggest?q={q(t.name_of[node])}")
            ms = (time.perf_counter() - t0) * 1e3
            self.ck.check(st == 200 and t.name_of[node] in body, f"suggest {node}")
            return ms
        if cls == "cypher":
            from grebi_spark.plans.cypher import run_cypher

            alias = self.rng.choice(self.members[node])
            text, want = _cypher_queries(t, node, alias)[self.n_cypher % 3]
            self.n_cypher += 1
            if tracer is None:
                rows = run_cypher(graph, text).collect()
            else:
                with tracer.span("cypher.plan"):
                    df = run_cypher(graph, text)
                with tracer.span("cypher.exec"):
                    rows = df.collect()
            ms = (time.perf_counter() - t0) * 1e3
            self.ck.check(len(rows) == 1 and rows[0]["n"] == want, f"cypher {text}")
            return ms
        raise ValueError(cls)


def serve_patches(tr):
    import grebi_spark.api.http_api as http_api
    import grebi_spark.sinks.kv as kv
    import grebi_spark.sinks.solr_jsonl as solr

    return [
        (http_api.GrebiApiServer, "handle", "api.handle"),
        (http_api, "_rows", "collect"),
        (http_api, "incoming_edges", "graph_queries.page"),
        (http_api, "outgoing_edges", "graph_queries.page"),
        (kv, "kv_store_get", "kv.get"),
        (solr, "read_solr_core", "solr_read.open"),
        (solr, "search_core_docs", "search.plan"),
    ]


def serve(client: Client, graph, seconds: float, tracer=None):
    """Warm every request class of the cycle once (checked, not timed),
    then run whole cycles until ``seconds`` have passed and at least
    MIN_CYCLES cycles are done. With a tracer, traced and untraced cycles
    alternate (at least two of each) and the tracer records only the
    traced ones. Returns the untraced cycles' latencies by class and
    every cycle's duration, keyed by traced or not."""
    warm = [c for c, _n in CYCLE]
    if tracer is not None:
        # BM25 (~1.3 s a request) is checked in traced runs only: it
        # does not fit the untimed warm-up of every run
        warm.append("search_bm25")
    with OperatorCalls() as calls:
        for cls in warm:
            client.request(cls, graph)
    client.ck.check(calls.n == 0, f"serving called operator code {calls.n} times")
    lat = {t: {c: [] for c, _n in CYCLE} for t in (False, True)}
    cycle_s = {True: [], False: []}
    t0 = time.perf_counter()
    n_cycles = 0
    # a traced run needs two untraced cycles (102 reads) for its p90
    min_cycles = 4 if tracer is not None else MIN_CYCLES
    while n_cycles < min_cycles or time.perf_counter() - t0 < seconds:
        traced = tracer is not None and n_cycles % 2 == 0
        c0 = time.perf_counter()
        for cls, n in CYCLE:
            for _ in range(n):
                if traced:
                    with tracer.patched(serve_patches(tracer)), \
                            tracer.span(f"request.{cls}") as s:
                        tracer.ambient = s.id
                        ms = client.request(cls, graph, tracer)
                    tracer.ambient = None
                else:
                    ms = client.request(cls, graph)
                lat[traced][cls].append(ms)
        cycle_s[traced].append(time.perf_counter() - c0)
        n_cycles += 1
    return lat[False], cycle_s


# --- metrics -------------------------------------------------------------


def end_to_end(setup_s, build_s, inputs, rel_bytes):
    m = {
        "setup_s": (setup_s, "s"),
        "build_rows_per_s": (inputs["rows"] / build_s, "1/s"),
        "release_bytes_per_input_byte": (rel_bytes / inputs["bytes"], "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def serve_stats(lat, cycle_s) -> dict[str, float]:
    """Closed-loop serving figures over the untraced cycles."""
    reads = [x for v in lat.values() for x in v]
    # every read that runs Spark jobs: node documents, edge pages,
    # search, suggest and Cypher, pooled (a few of each per cycle)
    queries = [x for c, v in lat.items() if c != "resolve" for x in v]
    return {
        "req_per_s": len(reads) / sum(cycle_s[False]),
        "resolve_p50_ms": statistics.median(lat["resolve"]),
        "query_p50_ms": statistics.median(queries),
        "read_p90_ms": _pct(reads, 0.90),
    }


def per_layer(tr, session_s, cycle_s, release_dir, rss_mb, serving):
    tr.harvest()
    kids = tr.children()
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)

    def one(name):
        return by_name[name][0]

    def med_ms(spans):
        return statistics.median(s.dur for s in spans) * 1e3

    build = one("build")
    out: dict[str, tuple[float, str]] = {"build.wall_s": (build.dur, "s")}
    for stage in ("ingest", "normalise", "identifiers", "groups", "assign_ids",
                  "merge", "index", "materialise"):
        out[f"{stage}.wall_s"] = (one(stage).dur, "s")
        out[f"{stage}.share"] = (one(stage).dur / build.dur, "ratio")
    out["ingest.task_s"] = (tr.total(one("ingest"), "task_s", kids), "s")
    out["ingest.rows_out"] = (one("ingest").counts["rows_out"], "count")
    out["identifiers.pairs_out"] = (one("identifiers").counts["pairs_out"], "count")
    g = one("groups")
    out["groups.jobs"] = (tr.total(g, "jobs", kids), "count")
    out["groups.task_s"] = (tr.total(g, "task_s", kids), "s")
    out["groups.max_clique"] = (build.counts["max_clique"], "count")
    for stage in ("groups", "assign_ids", "merge", "index"):
        out[f"{stage}.shuffle_bytes"] = (tr.total(one(stage), "shuffle_bytes", kids), "bytes")
    out["merge.dedup_ratio"] = (
        one("merge").counts["rows_out"] / one("assign_ids").counts["rows_out"], "ratio")
    out["materialise.edges_out"] = (one("materialise").counts["edges_out"], "count")
    for name, key in (("neo4j_csv", "neo4j_csv.wall_s"), ("solr_jsonl", "solr_jsonl.wall_s"),
                      ("solr_core", "solr_core.wall_s"), ("kv.build", "kv.build_s")):
        out[key] = (one(name).dur, "s")
    out["release.self_s"] = (tr.self_time(one("release"), kids), "s")
    for key, sub in (("neo4j_csv", "neo4j"), ("solr", "solr"), ("kv", "kv")):
        out[f"{key}.bytes_written"] = (_dir_bytes(os.path.join(release_dir, sub)), "bytes")
    out["build.jobs"] = (tr.total(build, "jobs", kids), "count")
    # serve: per-class request spans and the layer spans below them
    req = [s for s in tr.spans if s.name.startswith("request.")]
    sub = {s.id: tr.subtree(s, kids) for s in req}

    def under(cls_prefix, name):
        return [x for s in req if s.name.startswith(cls_prefix)
                for x in sub[s.id] if x.name == name]

    out["kv.get_ms"] = (med_ms(by_name["kv.get"]), "ms")
    page_ms = [sum(x.dur for x in sub[s.id] if x.name in ("graph_queries.page", "collect"))
               for s in req if s.name.startswith("request.page")]
    out["graph_queries.page_ms"] = (statistics.median(page_ms) * 1e3, "ms")
    out["solr_read.open_ms"] = (med_ms(by_name["solr_read.open"]), "ms")
    out["search.exec_ms"] = (med_ms(under("request.search", "collect")), "ms")
    out["cypher.plan_ms"] = (med_ms(by_name["cypher.plan"]), "ms")
    out["cypher.exec_ms"] = (med_ms(by_name["cypher.exec"]), "ms")
    http = [s for s in req if not s.name.startswith("request.cypher")]
    out["api.jobs_per_request"] = (
        sum(tr.total(s, "jobs", kids) for s in http) / len(http), "count")
    out["api.self_ms"] = (statistics.median(
        tr.self_time(s, kids) + sum(tr.self_time(h, kids)
                                    for h in kids.get(s.id, ()) if h.name == "api.handle")
        for s in http) * 1e3, "ms")
    for key, unit in (("req_per_s", "1/s"), ("resolve_p50_ms", "ms"),
                      ("query_p50_ms", "ms"), ("read_p90_ms", "ms")):
        out[f"serve.{key}"] = (serving[key], unit)
    out["session.start_s"] = (session_s, "s")
    out["driver.peak_rss_mb"] = (rss_mb, "MB")
    out["trace.overhead_frac"] = (
        statistics.median(cycle_s[True]) / statistics.median(cycle_s[False]) - 1, "ratio")
    # spans must account for the build: the stages plus the release
    # cover the build span up to its own bookkeeping
    out["trace.build_coverage"] = (1 - tr.self_time(build, kids) / build.dur, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


class OperatorCalls:
    """Counts Python calls into ``grebi_spark/operators/`` in every
    thread while active (the API server runs each request on a new
    thread): serving must read the release, never run a build stage."""

    def __init__(self):
        self.n = 0

    def _hook(self, frame, event, _arg):
        if event == "call" and "grebi_spark/operators/" in frame.f_code.co_filename:
            self.n += 1

    def __enter__(self):
        sys.setprofile(self._hook)
        threading.setprofile(self._hook)
        return self

    def __exit__(self, *exc):
        sys.setprofile(None)
        threading.setprofile(None)


# --- main --------------------------------------------------------------


def main(argv=None) -> int:
    t_proc = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import grebi_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 3

    loadavg_start = os.getloadavg()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _setup_env(work)
    ck = Checks()
    spark = None
    try:
        spec = WORKLOADS[args.workload]
        inputs = gen.generate(spec, args.seed, os.path.join(work, "in"))
        truth = inputs["truth"]

        # set-up: the program's own, a Spark session
        t0 = time.perf_counter()
        from grebi_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage for the trace harvest
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        setup_s = time.perf_counter() - t0

        from grebi_spark.config import SubgraphConfig
        from grebi_spark.operators.normalise import PrefixMap
        from grebi_spark.release import release_server

        cfg = SubgraphConfig(exclude_edges=gen.EXCLUDE_EDGES)
        pm = PrefixMap(gen.PREFIX_MAP)
        rel_root = os.path.join(work, "release")
        tracer = None
        t0 = time.perf_counter()
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            graph, manifest = build_traced(
                tracer, spark, inputs, cfg, pm, os.path.join(rel_root, "g"))
        else:
            graph, manifest = build_untraced(
                spark, inputs, cfg, pm, os.path.join(rel_root, "g"))
        build_s = time.perf_counter() - t0
        check_build(ck, graph, manifest, truth)
        if tracer is not None:
            got = next(s for s in tracer.spans if s.name == "ingest").counts["rows_out"]
            ck.check(got == inputs["rows"], f"ingested rows {got} != {inputs['rows']}")
        rel_bytes = _dir_bytes(rel_root)

        server = release_server({"g": graph}, rel_root).start()
        try:
            client = Client(server.port, truth, random.Random(args.seed), ck)
            lat, cycle_s = serve(client, graph, args.seconds, tracer)
        finally:
            server.stop()
        rss_mb = _jvm_vmhwm_mb(spark)
        serving = serve_stats(lat, cycle_s)

        if tracer is None:
            metrics = end_to_end(setup_s, build_s, inputs, rel_bytes)
        else:
            metrics = per_layer(tracer, setup_s, cycle_s, os.path.join(rel_root, "g"),
                                rss_mb, serving)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write_tree(os.path.join(
                base, "traces", f"{args.workload}-s{args.seed}.json"))

        # every emitted metric must be one BENCHMARK.json declares
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
        ck.check(set(metrics) == {m["name"] for m in declared},
                 "emitted metrics differ from BENCHMARK.json")
        reads = sum(len(v) for v in lat.values())
        record = {
            "measurement_policy": MEASUREMENT_POLICY,
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "loadavg_start": loadavg_start,
            "loadavg_end": os.getloadavg(),
            "spark_version": spark.version,
            "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
            "input_rows": inputs["rows"],
            "input_bytes": inputs["bytes"],
            "input_entities": len(truth.entities),
            "expected_nodes": len(truth.nodes),
            "expected_edges": len(truth.edges),
            "max_clique": truth.max_clique,
            "build_s": build_s,
            "serve_cycles": sum(len(v) for v in cycle_s.values()),
            "reads": reads,
            "samples": {k: len(v) for k, v in lat.items()},
            "class_p50_ms": {k: statistics.median(v) for k, v in lat.items()},
            "serve": serving,
            "driver_peak_rss_mb": rss_mb,
            "failures": ck.failures,
            "wall_s": time.perf_counter() - t_proc,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    rec_path = os.path.join(
        base, "records", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps({
        "correct": ck.failed == 0,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "metrics": metrics,
    }))
    return 0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
