#!/usr/bin/env python3
"""Self-test of the SDS benchmark (from the repository root):

    python3 perfbench/selftest.py

Runs each workload on a tiny configuration in a German locale
(-Duser.language=de -Duser.country=DE, so a locale-formatted number would
print a decimal comma) and checks that:

- every line printed on standard output, and every line of the trace
  file a traced run writes, parses as JSON;
- a clean run reports failed == 0 and correct == true, with every
  end-to-end (untraced) or per-layer (traced) metric of BENCHMARK.json;
- a run with a planted fault reports failed > 0 and correct == false:
  a store row dropped before the ingest check, and one wrong read answer.

Exits 0 when every check holds. Takes a few minutes: each run starts
Spark and pays one cold micro-batch.
"""
import glob
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
LOCALE = ["--jvm-opt=-Duser.language=de", "--jvm-opt=-Duser.country=DE"]
TINY = {
    "sds_ingest": ["--param", "catchup_blocks=40", "--param", "decode_blocks=40"],
    "rest_reads": ["--param", "build_blocks=40"],
}


def run(workload, trace, corrupt=None):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace)] + TINY[workload] + LOCALE
    if corrupt:
        cmd += ["--corrupt", corrupt]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise AssertionError(f"{workload}: exit code {r.returncode}")
    lines = [json.loads(l) for l in r.stdout.splitlines() if l.strip()]
    assert lines, f"{workload}: no output"
    return lines[-1]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    failures = []

    def check(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg)
        if not cond:
            failures.append(msg)

    for w in ("sds_ingest", "rest_reads"):
        res = run(w, 0)
        check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
              f"{w}: clean run is correct ({res['attempted']} attempted, {res['failed']} failed)")
        check(set(res["metrics"]) == e2e, f"{w}: untraced run prints every end-to-end metric")

        for f in glob.glob(os.path.join(ROOT, ".bench_build", "out", f"trace-{w}-7.jsonl")):
            os.remove(f)
        res = run(w, 1)
        check(res["correct"] and res["failed"] == 0, f"{w}: clean traced run is correct")
        check(set(res["metrics"]) == layer, f"{w}: traced run prints every per-layer metric")
        trace = os.path.join(ROOT, ".bench_build", "out", f"trace-{w}-7.jsonl")
        with open(trace, encoding="utf-8") as fh:
            recs = [json.loads(l) for l in fh if l.strip()]
        check(any(r["kind"] == "span" for r in recs) and any(r["kind"] == "job" for r in recs),
              f"{w}: trace file parses as JSON lines with spans and jobs ({len(recs)} records)")

    res = run("sds_ingest", 0, corrupt="store_row")
    check(not res["correct"] and res["failed"] > 0,
          f"sds_ingest: a dropped store row fails the run ({res['failed']}/{res['attempted']} failed)")
    res = run("rest_reads", 0, corrupt="read_answer")
    check(not res["correct"] and res["failed"] > 0,
          f"rest_reads: a wrong read answer fails the read ({res['failed']}/{res['attempted']} failed)")

    if failures:
        print(f"{len(failures)} check(s) failed")
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
