#!/usr/bin/env python3
"""Benchmark of the boat ETL job and an iterative query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (under
.bench_build/), makes the workload's inputs from the seed, runs one JVM
(Spark local[4], one closed-loop client), checks the outputs, and
prints one JSON line with `correct`, `attempted`, `failed` and
`metrics`. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json; with --trace 1 the per-layer ones, and the spans are
written to .bench_build/traces/.
"""
import argparse
import csv
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "sbt-target" / "scala-2.13" / "classes"
SPARK_JARS = "/opt/spark/jars/*"
# Heap: a fixed maximum, a 1 GB start and a fixed young generation, so
# the resident high-water mark does not hinge on when G1 resizes the
# heap (with adaptive sizing it spread 16-19% across runs).
HEAP = ["-Xms1g", "-Xmx3g", "-Xmn512m"]
YEAR = 2026  # the validation and clamp year, pinned so inputs stay valid
TESTDATA = Path.home() / "testdata"  # the harness tables the query builders are written for

# The mix: the two queries with the most Spark jobs per query on the
# board (44 and 38), from two operator families (fuzzy dedup, graph
# iteration).
ITERATIVE = ["q225_fuzzy_parts", "q209_hits"]

# `warmup`: untimed passes after the cold one, about 30 s of ETL and
# 20 s of query work. The JIT keeps compiling driver-side code (Spark's
# planner and scheduler, a wide flat profile) for minutes of passes, and
# passes keep getting faster. Run-to-run spread of the ETL `wall_s`
# (IQR/median, 5 seeds, 4 vCPUs): 30% measured from the first warm pass,
# 15% after 15 warm-up passes, 8% after 30. A warm-up of fixed duration
# left slow-host runs less warmed.
WORKLOADS = {
    "etl_paper": {"mode": "etl", "records": 10000, "multiline": 0.05, "warmup": 30},
    "queries_iterative": {"mode": "queries", "sf": "sf0.01", "queries": ITERATIVE,
                          "warmup": 4},
}

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash() -> str:
    """Hash of everything the build compiles, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = sorted([*(ROOT / "src" / "main").rglob("*.scala"), *(HERE / "src").rglob("*.scala"),
                    HERE / "build.sbt", HERE / "project" / "build.properties"])
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> None:
    """Compiles the program's sources with the harness, once per source state."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: program sources (src/main/scala) not found; run from the repository root")
    stamp = BUILD / "build.stamp"
    digest = source_hash()
    if stamp.exists() and stamp.read_text() == digest and CLASSES.is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "compile"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        cmd.insert(1, f"-Dsbt.repository.config={repos}")
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (exit {r.returncode})")
    stamp.write_text(digest)


def java_cmd(main: str, tmp: Path) -> list:
    """The JVM command line for a main class of the built classes."""
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *HEAP, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{CLASSES}:{SPARK_JARS}", main]


def run_jvm(args: dict, work: Path, timeout: float) -> dict:
    result = work / "result.json"
    cmd = java_cmd("perfbench.Harness", work / "tmp")
    launch_ms = time.time() * 1e3
    args = dict(args, work=str(work), result=str(result))
    cmd += [f"{k}={v}" for k, v in args.items()]
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle
    # files outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            env=env)
    try:
        code = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not result.exists():
        sys.exit(f"perfbench: harness exited with {code}")
    out = json.loads(result.read_text())
    out["launch_ms"] = launch_ms
    return out


# ---- output checks (outside the timed region) ----

def oracle_summary(sql: str) -> list:
    import duckdb
    con = duckdb.connect()
    try:
        return [(r[0], r[1], int(r[2])) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def check_etl_pass(out: Path, expected: list, records: int) -> str:
    """'' when the pass's sinks hold the oracle's summary and every record."""
    import duckdb
    parts = sorted((out / "data_summary.csv").glob("part-*.csv"))
    if len(parts) != 1:
        return f"summary sink has {len(parts)} part files"
    with open(parts[0], newline="", encoding="utf-8") as f:
        got = [(r["country"], float(r["avg_price"]) if r["avg_price"] else None, int(r["count"]))
               for r in csv.DictReader(f)]
    if len(got) != len(expected):
        return f"summary has {len(got)} countries, oracle {len(expected)}"
    for g, e in zip(got, expected):
        # the oracle rounds avg to 4 places; the sink writes it unrounded
        same_avg = (g[1] is None and e[1] is None) or (
            g[1] is not None and e[1] is not None and abs(g[1] - e[1]) <= 0.5e-4 + 1e-9 * abs(e[1]))
        if g[0] != e[0] or g[2] != e[2] or not same_avg:
            return f"summary row {g} != oracle {e}"
    con = duckdb.connect()
    try:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out / 'data.parquet'}/*.parquet')").fetchone()[0]
    finally:
        con.close()
    if n != records:
        return f"parquet has {n} rows, generated {records}"
    return ""


def check_passes(w: dict, res: dict, expected) -> list:
    """Per pass: the error text, '' when the pass ran and, if it was
    checked, its output matched."""
    errors = []
    for p in res["passes"]:
        err = p["error"] or ""
        if err or not p["checked"]:
            pass
        elif w["mode"] == "etl":
            err = check_etl_pass(Path(p["out"]), expected, w["records"])
        else:
            bad = [q for q in w["queries"] if p["digests"].get(q) != expected.get(q)]
            if bad:
                err = "digest mismatch: " + ", ".join(
                    f"{q} {p['digests'].get(q)} != {expected.get(q)}" for q in bad)
        if err:
            log(f"pass {p['i']} failed: {err[:400]}")
        errors.append(err)
    return errors


def table_rows(data: Path) -> int:
    """Rows of every table in a query data directory (parquet footers)."""
    import duckdb
    con = duckdb.connect()
    try:
        return sum(con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
                   for p in sorted(data.glob("*.parquet")))
    finally:
        con.close()


# ---- metrics ----

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def cycles(passes: list, size: int) -> list:
    """The measured passes grouped into whole cycles (`size` consecutive
    passes, one per query order); a cycle with a pass that threw is
    dropped."""
    if not passes:
        return []
    first = min(p["i"] for p in passes)
    groups = {}
    for p in passes:
        groups.setdefault((p["i"] - first) // size, []).append(p)
    return [g for _, g in sorted(groups.items()) if len(g) == size]


def cycle_median(cs: list, f) -> float:
    """Median over cycles of the per-pass mean of `f`, so each query
    order weighs the same in every run."""
    return median([statistics.fmean(f(p) for p in c) for c in cs])


def metrics_for(w: dict, res: dict, trace: bool, names: list) -> dict:
    # timings count every pass that ran to the end; a wrong output is
    # reported in `failed`, not dropped from the timing
    ok = [p for p in res["passes"] if not p["error"]]
    plain = cycles([p for p in ok if p["measured"] and not p["traced"]], res["cycle"])
    if not plain:
        sys.exit("perfbench: no measured cycle ran to the end")
    wall = cycle_median(plain, lambda p: p["wall_s"])
    if not trace:
        calls = sorted({k for c in plain for p in c for k in p["calls"]})
        per_call = [cycle_median(plain, lambda p: p["calls"][k]) for k in calls]
        rows = w["records"] if w["mode"] == "etl" else res["input_rows"]
        return {
            "setup_s": (res["warm_done_ms"] - res["launch_ms"]) / 1e3,
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "query_geomean_s": math.exp(sum(map(math.log, per_call)) / len(per_call)),
            "cpu_s": cycle_median(plain, lambda p: p["cpu_s"]),
            "peak_rss_mb": res["peak_rss_kb"] / 1024,
        }
    traced = cycles([p for p in ok if p["measured"] and p["traced"]], res["cycle"])
    if not traced:
        sys.exit("perfbench: no traced cycle ran to the end")
    # a layer the workload does not run (etl.* on the query mix) reads 0
    m = {n: cycle_median(traced, lambda p: p["layers"].get(n, 0.0)) for n in names}
    m["setup.session_s"] = (res["session_ready_ms"] - res["launch_ms"]) / 1e3
    m["setup.first_pass_s"] = res["passes"][0]["wall_s"]
    m["trace.overhead"] = cycle_median(traced, lambda p: p["wall_s"]) / wall
    return m


def run_workload(name: str, seed: int, seconds: int, trace: bool,
                 w: dict = None, expect=None) -> dict:
    """Runs one workload and returns the result line as a dict. `w`
    replaces the workload's definition and `expect` maps its expected
    output to the one checked against (both for the self-test)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in (spec["per_layer"] if trace else spec["end_to_end"])]
    w = w or WORKLOADS[name]
    build()
    work = BUILD / "runs" / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        args = {"mode": w["mode"], "seconds": seconds, "warmup": w["warmup"],
                "trace": int(trace), "seed": seed}
        if w["mode"] == "etl":
            from gen_boat import generate
            src = work / "boats.csv"
            generate(ROOT, src, seed, w["records"], w["multiline"])
            args.update(input=src, year=YEAR)
            res = run_jvm(args, work, 170)
            expected = oracle_summary(res["oracle_sql"])
        else:
            data = TESTDATA / w["sf"]
            if not data.is_dir():
                sys.exit(f"perfbench: query data {data} not found")
            args.update(data=data, queries=",".join(w["queries"]))
            res = run_jvm(args, work, 170)
            res["input_rows"] = table_rows(data)
            expected = json.loads((HERE / "digests.json").read_text())[w["sf"]]
        errors = check_passes(w, res, expect(expected) if expect else expected)
        metrics = metrics_for(w, res, trace, names)
        if trace:
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            dest = traces / f"{name}-seed{seed}.json"
            shutil.copyfile(res["spans_file"], dest)
            log(f"spans written to {dest}")
        failed = sum(1 for e in errors if e)
        return {
            "correct": failed == 0,
            "attempted": len(errors),
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").exists():
        sys.exit("perfbench: BENCHMARK.json not found; run from the repository root")
    line = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(line))


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    main()
