"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py           # all checks (starts Spark, ~1 min)
    python3 perfbench/selftest.py --fast    # skip the Spark build check

* the generator is byte-identical for a seed and differs across seeds;
* the ground truth agrees with ``pipeline.build_graph`` on a tiny corpus
  that holds an alias chain and a clique of more than 50 members;
* BENCHMARK.json keeps to its format's limits and names
  every metric a record emits (records under ``.perfbench/records``
  are checked too, when there are any);
* the comparison verdicts follow the pair-win and bound rules;
* the serve-time watch for operator calls sees a call into an operator.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import os
import re
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY = gen.Spec(sources=3, concepts=30, hubs=1, hub_entities=20, hub_aliases=3,
                chains=1, chain_len=8)


def check_generator(tmp: str) -> None:
    a = gen.generate(TINY, 7, os.path.join(tmp, "a"))
    b = gen.generate(TINY, 7, os.path.join(tmp, "b"))
    c = gen.generate(TINY, 8, os.path.join(tmp, "c"))
    assert gen.inputs_digest(a["paths"]) == gen.inputs_digest(b["paths"]), "same seed differs"
    assert gen.inputs_digest(a["paths"]) != gen.inputs_digest(c["paths"]), "seeds agree"
    t = a["truth"]
    assert t.max_clique > 50, t.max_clique
    chain = [c for c in t.cliques if any(x.startswith("chain0:") for x in c)]
    assert len(chain) == 1 and len(chain[0]) == 2 * TINY.chain_len + 2, chain


def check_oracle(tmp: str) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    sys.path.insert(0, ROOT)
    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.normalise import PrefixMap
    from grebi_spark.pipeline import build_graph
    from grebi_spark.session import get_spark
    from grebi_spark.sources.jsonl import read_jsonl_nodes

    run._setup_env(os.path.join(tmp, "work"))
    inputs = gen.generate(TINY, 3, os.path.join(tmp, "in"))
    truth = inputs["truth"]
    spark = get_spark("perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        srcs = [read_jsonl_nodes(spark, p, ds) for ds, p in inputs["paths"].items()]
        g = build_graph(srcs, SubgraphConfig(exclude_edges=gen.EXCLUDE_EDGES),
                        prefix_map=PrefixMap(gen.PREFIX_MAP))
        ck = run.Checks()
        run.check_build(ck, g, {"n_nodes": len(truth.nodes), "n_edges": len(truth.edges)},
                        truth)
        assert ck.failed == 0, ck.failures
        canon = {r["node_id"] for r in g.nodes.collect()}
        assert canon == set(truth.nodes), canon ^ set(truth.nodes)
    finally:
        run._stop_spark(spark)


def check_benchmark_json(_tmp: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                      "per_layer"}, set(b)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = []
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"], w
        assert w["name"] in run.WORKLOADS, w["name"]
        names.append(w["name"])
    e2e = {m["name"] for m in b["end_to_end"]}
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in b["end_to_end"] + b["per_layer"]:
        assert m["better"] in ("higher", "lower"), m
        assert unit_re.match(m["unit"]), m
        names.append(m["name"])
    assert all(name_re.match(n) for n in names), names
    assert len(names) == len(set(names)), "duplicate names"
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               and m["bound"] == max(x["bound"] for x in b["end_to_end"])
               for m in b["end_to_end"])
    assert sorted(set(run.WORKLOADS)) == sorted(w["name"] for w in b["workloads"])
    dummy = run.end_to_end(1.0, 1.0, {"rows": 1, "bytes": 1}, 1)
    assert set(dummy) == e2e, set(dummy) ^ e2e
    declared = {0: e2e, 1: {m["name"] for m in b["per_layer"]}}
    for path in glob.glob(os.path.join(ROOT, ".perfbench", "records", "*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("measurement_policy") == run.MEASUREMENT_POLICY:
            got = set(rec["metrics"])
            assert got == declared[rec["trace"]], (path, got ^ declared[rec["trace"]])


def check_operator_watch(tmp: str) -> None:
    sys.path.insert(0, ROOT)
    from grebi_spark.operators.normalise import trie_pattern

    with run.OperatorCalls() as calls:
        trie_pattern({"http://x/": "x:"})
    assert calls.n > 0, "operator call not seen"
    with run.OperatorCalls() as calls:
        gen.generate(TINY, 1, os.path.join(tmp, "watch"))
    assert calls.n == 0, calls.n


def check_compare(tmp: str) -> None:
    p = [100.0, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    faster = [x * 0.8 for x in p]
    v, wins = compare.verdict(p, faster, list(zip(p, faster)), "lower", 0.1)
    assert (v, wins) == ("better", 10), (v, wins)
    slower = [x * 1.3 for x in p]
    assert compare.verdict(p, slower, list(zip(p, slower)), "lower", 0.1)[0] == "worse"
    noisy = [60.0, 140, 80, 120, 100, 70, 130, 90, 110, 100]
    assert compare.verdict(noisy, noisy, list(zip(noisy, noisy)), "lower", 0.1)[0] == "unresolved"
    assert compare.verdict(p, p, list(zip(p, p)), "lower", 0.1)[0] == "same"
    # a change that fails more runs than the parent fails the workload
    out = os.path.join(tmp, "ab")
    os.makedirs(out)
    ok = {"correct": True, "attempted": 1, "failed": 0,
          "metrics": {m: {"value": 1.0, "unit": "s"} for m in run.end_to_end(
              1.0, 1.0, {"rows": 1, "bytes": 1}, 1)}}
    for side, bad in (("parent", set()), ("change", {2})):
        with open(os.path.join(out, f"{side}.jsonl"), "w") as fh:
            for w in run.WORKLOADS:
                for seed in range(4):
                    res = None if seed in bad else ok
                    fh.write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
    with contextlib.redirect_stdout(io.StringIO()):
        assert compare.report(argparse.Namespace(out=out)) == 2


def main() -> int:
    fast = "--fast" in sys.argv[1:]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        checks = [check_generator, check_benchmark_json, check_compare,
                  check_operator_watch]
        if not fast:
            checks.append(check_oracle)
        for fn in checks:
            fn(tmp)
            print(f"ok  {fn.__name__}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
