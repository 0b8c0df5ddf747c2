#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

Usage (from the repository root): python3 perfbench/selftest.py

For every workload, on a tiny input (300 boat records; the query mix on
sf0.001) with no warm-up and a one-second window:
  - an untraced and a traced run both finish, every pass checks out,
    and each prints every metric BENCHMARK.json names, with its unit;
  - the traced run's spans add up: per pass, the self times of the
    pass's spans sum to the pass's wall time;
  - a run checked against a deliberately wrong expected output counts
    its checked passes as failed instead of passing them.
Exits non-zero on the first failed assertion.
"""
import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TINY = {
    "etl_paper": dict(run.WORKLOADS["etl_paper"], records=300, warmup=0),
    "queries_iterative": dict(run.WORKLOADS["queries_iterative"], sf="sf0.001", warmup=0),
}


def wrong(expected):
    """The true expected output with one value changed."""
    if isinstance(expected, dict):  # query digests
        return {q: "0:0" for q in expected}
    country, avg, count = expected[0]
    return [(country, avg, count + 1)] + expected[1:]


def check_line(line: dict, names: list, units: dict) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert isinstance(line["attempted"], int) and line["attempted"] >= 2, line
    assert list(line["metrics"]) == names, (list(line["metrics"]), names)
    for n, m in line["metrics"].items():
        assert m["unit"] == units[n], (n, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (n, m)


def check_spans(path: Path) -> None:
    spans = json.loads(path.read_text())
    assert spans, "no spans recorded"
    roots = [s for s in spans if s["parent"] == -1]
    for r in roots:
        tree, frontier = [], [r]
        while frontier:
            s = frontier.pop()
            tree.append(s)
            frontier += [c for c in spans if c["parent"] == s["id"]]
        total = sum(s["self"] for s in tree)
        assert abs(total - (r["end"] - r["start"])) < 1e-6, (r, total)


def main() -> None:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS), "workloads differ"
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    seed = 7
    for name, w in TINY.items():
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            line = run.run_workload(name, seed, 1, trace, w=w)
            assert line["correct"] and line["failed"] == 0, (name, trace, line)
            check_line(line, [m["name"] for m in spec[key]], units)
            if trace:
                check_spans(run.BUILD / "traces" / f"{name}-seed{seed}.json")
            print(f"ok {name} trace={int(trace)}: {line['attempted']} passes", flush=True)
        line = run.run_workload(name, seed, 1, False, w=w, expect=wrong)
        # every ETL pass is checked; a query run checks its cold and last pass
        least = line["attempted"] if w["mode"] == "etl" else 2
        assert not line["correct"] and line["failed"] >= least, (name, line)
        print(f"ok {name} wrong expected output: {line['failed']} of "
              f"{line['attempted']} passes failed", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
