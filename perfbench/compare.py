"""Compare a parent and a change on the benchmark's end-to-end metrics.

Run both sides, alternating which goes first, then report:

    python3 perfbench/compare.py run --parent ../parent --change . --out .perfbench/ab
    python3 perfbench/compare.py report --out .perfbench/ab

``--parent`` and ``--change`` are checkouts that each hold this
benchmark; pair ``i`` of ``PAIRS`` runs both sides on seed
``BASE_SEED + i`` for every workload. ``run`` appends one JSON line per
run to ``<out>/parent.jsonl`` and ``<out>/change.jsonl``; ``report``
reads them with this checkout's BENCHMARK.json.

Per workload the report first counts each side's failed runs (not
correct, or no result). If the change failed more runs than the
parent, the workload's verdict is ``failed``. Otherwise, per metric
over the seeds both sides ran correctly, it gives each side's median
and quartiles, the pairs the change won (ties count for neither) and a
verdict, following the rule for small, noisy machines:

* ``better``: the change won at least 9/10 of the pairs and its median
  is better than the parent's by more than the parent's interquartile
  range;
* ``worse``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's own spread is wider than the bound and
  not every change run beats every parent run;
* ``same``: none of the above.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10
BASE_SEED = 1000


def _bench(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_pairs(args) -> None:
    bench = _bench(args.change)
    workloads = [w["name"] for w in bench["workloads"]]
    os.makedirs(args.out, exist_ok=True)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for i in range(PAIRS):
        seed = BASE_SEED + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                cmd = list(bench["command"]) + [
                    "--workload", w, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]), "--trace", "0",
                ]
                proc = subprocess.run(
                    cmd, cwd=sides[side], capture_output=True, text=True, timeout=900
                )
                lines = proc.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
                with open(os.path.join(args.out, f"{side}.jsonl"), "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, "pair": i,
                                         "first": order[0], "result": result}) + "\n")
                print(f"pair {i} {w} {side}: "
                      f"{'ok' if result and result['correct'] else 'FAILED'}",
                      file=sys.stderr)


def _load(path: str) -> tuple[dict[str, dict[int, dict]], dict[str, int]]:
    """(workload -> seed -> metrics of a correct run,
    workload -> number of runs that failed or gave no result)."""
    ok: dict[str, dict[int, dict]] = {}
    failed: dict[str, int] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            res = rec["result"]
            if res and res["correct"]:
                ok.setdefault(rec["workload"], {})[rec["seed"]] = res["metrics"]
            else:
                failed[rec["workload"]] = failed.get(rec["workload"], 0) + 1
    return ok, failed


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float) -> tuple[str, int]:
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    p1, pm, p3 = _quartiles(parent)
    _c1, cm, _c3 = _quartiles(change)
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) > (p3 - p1):
        return "better", wins
    if sign * (pm - cm) > bound * abs(pm):
        return "worse", wins
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if (p3 - p1) > bound * abs(pm) and not all_better:
        return "unresolved", wins
    return "same", wins


def report(args) -> int:
    bench = _bench(ROOT)
    par, par_failed = _load(os.path.join(args.out, "parent.jsonl"))
    chg, chg_failed = _load(os.path.join(args.out, "change.jsonl"))
    worst = 0
    print(f"{'workload':10} {'metric':30} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>6} verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        pf, cf = par_failed.get(w, 0), chg_failed.get(w, 0)
        if cf > pf:
            print(f"{w:10} (failed runs: parent {pf}, change {cf}) failed")
            worst = max(worst, 2)
            continue
        seeds = sorted(set(par.get(w, {})) & set(chg.get(w, {})))
        if not seeds:
            print(f"{w:10} (no paired correct runs)")
            worst = max(worst, 2)
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [par[w][s][name]["value"] for s in seeds]
            cv = [chg[w][s][name]["value"] for s in seeds]
            v, wins = verdict(pv, cv, list(zip(pv, cv)), m["better"], m["bound"])
            if v == "worse":
                worst = max(worst, 1)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:10} {name:30} {fmt(_quartiles(pv)):>30} "
                  f"{fmt(_quartiles(cv)):>30} {wins:>3}/{len(seeds):<2} {v}")
    return worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run parent/change pairs, alternating")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="report a finished comparison")
    p.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    if args.cmd == "run":
        run_pairs(args)
        return 0
    return report(args)


if __name__ == "__main__":
    sys.exit(main())
