#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size (a few minutes).

    python3 perfbench/smoke.py

1. Every workload runs through run.py at ``--size smoke`` with
   ``--trace 0`` and ``--trace 1``; the last line must carry exactly the
   result keys and every metric BENCHMARK.json names, with its unit, and
   no failed operation. Traced runs must give nonzero values for the
   layers their workload runs.
2. The checks can fail: serve and descriptor_etl run with a program
   result corrupted on purpose, and the corruption must be counted in
   ``failed``.
3. Without the program next to it, run.py must exit non-zero and print
   no result.

Exits non-zero on the first problem.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a few per-layer metrics each workload must move when traced
OWN_LAYERS = {
    "serve": ["build.tokens_s", "build.blocks_jobs", "serve.exec_s", "serve.route.hl_s",
              "plans.workorder.self_s", "plans.indexer.self_s", "index.tokenize.self_s",
              "index.build.self_s", "index.wand.self_s", "index.update.self_s",
              "spark.self_s", "update.apply_s"],
    "descriptor_etl": ["etl.map_exec_s", "etl.serialize_s", "sources.marc.self_s",
                       "descriptor.compiler.self_s", "descriptor.rdf.self_s"],
}


def fail(msg: str) -> None:
    print(f"smoke: FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def check_result(line: str, names: list[dict], what: str) -> dict:
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{what}: result keys {sorted(res)}")
    want = {m["name"]: m["unit"] for m in names}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"{what}: metrics differ from BENCHMARK.json: {set(got) ^ set(want)}")
    return res


def run_cli(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def in_process(args: list[str]) -> dict:
    """run.py's main in this process, so the program can be patched."""
    import run as bench

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        if bench.main(args) != 0:
            fail(f"{args}: non-zero exit")
    return json.loads(out.getvalue().strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for name in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            what = f"{name} --trace {trace}"
            p = run_cli(["--workload", name, "--seed", "1", "--seconds", "1",
                         "--trace", str(trace), "--size", "smoke"])
            if p.returncode != 0:
                fail(f"{what}: exit {p.returncode}\n{p.stderr[-3000:]}")
            res = check_result(p.stdout.strip().splitlines()[-1],
                               bench["per_layer" if trace else "end_to_end"], what)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{what}: {res['failed']} of {res['attempted']} operations failed")
            if trace:
                zero = [m for m in OWN_LAYERS[name] if not res["metrics"][m]["value"]]
                if zero:
                    fail(f"{what}: no value for {zero}")
            else:
                zero = [m for m, v in res["metrics"].items() if not v["value"]]
                if zero:
                    fail(f"{what}: end-to-end metrics read 0: {zero}")
            print(f"smoke: ok {what}")

    sys.path[:0] = [HERE, ROOT]
    from spcht_spark.descriptor import rdf
    from spcht_spark.index import wand

    smoke = ["--seed", "1", "--seconds", "1", "--size", "smoke"]
    good_wand, good_nt = wand.wand_topk, rdf.triples_to_ntriples
    # the best WAND hit goes missing
    wand.wand_topk = lambda *a, **k: good_wand(*a, **k).where("rank > 1")
    try:
        res = in_process(["--workload", "serve", *smoke])
    finally:
        wand.wand_topk = good_wand
    if res["failed"] < 1 or res["correct"]:
        fail(f"corrupted WAND results were not counted: {res}")
    print(f"smoke: ok corrupted serve result counted ({res['failed']} failed)")
    # one N-Triples line in a hundred goes missing
    rdf.triples_to_ntriples = lambda t: good_nt(t).where("xxhash64(line) % 100 != 0")
    try:
        res = in_process(["--workload", "descriptor_etl", *smoke])
    finally:
        rdf.triples_to_ntriples = good_nt
    if res["failed"] < 1 or res["correct"]:
        fail(f"corrupted N-Triples were not counted: {res}")
    print(f"smoke: ok corrupted descriptor_etl result counted ({res['failed']} failed)")

    bare = os.path.join(ROOT, ".perfbench_run", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run_cli(["--workload", "serve", *smoke], cwd=bare)
    finally:
        shutil.rmtree(bare)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        fail(f"without the program: exit {p.returncode}, stdout {p.stdout[-500:]!r}")
    print(f"smoke: ok without the program it exits {p.returncode} and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
