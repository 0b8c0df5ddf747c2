#!/usr/bin/env python3
"""Records the expected output digests of the benchmark's query mix.

Usage (from the repository root): python3 perfbench/record_digests.py

For each data directory the benchmark and its self-test use, runs
graft.Verify on the mix's queries, gates the dumped outputs against
their DuckDB oracles with tools/check.py, and only then hashes them
with the harness's Digest into perfbench/digests.json. A query that
fails its oracle stops the script, so no digest is recorded from a
wrong output.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

SF_DIRS = ["sf0.01", "sf0.001"]


def java(main: str, args: list, env: dict = None) -> None:
    cmd = run.java_cmd(main, run.BUILD / "digests" / "tmp") + args
    subprocess.run(cmd, check=True, env=dict(os.environ, **(env or {})),
                   stdout=sys.stderr, stdin=subprocess.DEVNULL)


def main() -> None:
    run.build()
    queries = run.ITERATIVE
    work = run.BUILD / "digests"
    shutil.rmtree(work, ignore_errors=True)
    out = {}
    for sf in SF_DIRS:
        data, dump = run.TESTDATA / sf, work / sf
        java("graft.Verify", [str(data), str(dump)],
             {"SPARK_GRAFT_ONLY": ",".join(queries), "SPARK_GRAFT_CPUS": "4"})
        oracles = json.loads((dump / "oracle_sql.json").read_text())
        (dump / "oracle_sql.json").write_text(json.dumps({q: oracles[q] for q in queries}))
        subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(data), str(dump)],
                       check=True, stdout=sys.stderr)
        result = work / f"{sf}.json"
        java("perfbench.Harness", ["mode=digests", f"work={work / 'spark'}", f"outputs={dump}",
                                   f"queries={','.join(queries)}", f"result={result}"])
        out[sf] = json.loads(result.read_text())
    (run.HERE / "digests.json").write_text(json.dumps(out, indent=2, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
