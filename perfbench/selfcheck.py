#!/usr/bin/env python3
"""The benchmark's own check, on tiny inputs (sf 0.001).

Usage (from the repository root):  python3 perfbench/selfcheck.py

Passes when, for every workload in BENCHMARK.json:
  - an untraced run emits every end_to_end metric and a traced run every
    per_layer metric, each with the unit BENCHMARK.json gives it, and the
    output check passes;
  - the count metrics repeat exactly across two traced runs of one seed;
  - the bypass predictions hold: no stream batches on the batch workload and
    no layer builds on the streaming one;
  - an injected throwing operation, and the operations behind an output
    made wrong on purpose (a query, or in stream_refresh every refresh of
    the pass whose final mart is wrong), are counted as failed, by name, and
    are left out of the latency statistics.
Exits 1 and names every violated condition otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "layers.builds", "layers.reuses",
          "stream.batches"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    tagged = {l.split(" ", 1)[0]: json.loads(l.split(" ", 1)[1])
              for l in lines if l.startswith("PERFBENCH_")}
    return json.loads(lines[-1]), tagged


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    def units(result, metrics, label):
        got = result["metrics"]
        for m in metrics:
            expect(m["name"] in got and got[m["name"]]["unit"] == m["unit"],
                   f"{label}: {m['name']} [{m['unit']}] emitted")

    for w in (x["name"] for x in spec["workloads"]):
        res, _ = run(w, 0)
        expect(res["correct"] and res["failed"] == 0, f"{w}: untraced run correct")
        units(res, spec["end_to_end"], f"{w} trace 0")
        t1, _ = run(w, 1)
        t2, _ = run(w, 1)
        units(t1, spec["per_layer"], f"{w} trace 1")
        for c in COUNTS:
            a, b = t1["metrics"][c]["value"], t2["metrics"][c]["value"]
            expect(a == b, f"{w}: {c} repeats ({a} / {b})")
        if w == "stream_refresh":
            expect(t1["metrics"]["layers.builds"]["value"] == 0, f"{w}: no layer builds")
            expect(t1["metrics"]["stream.batches"]["value"] > 0, f"{w}: stream batches seen")
        else:
            expect(t1["metrics"]["stream.batches"]["value"] == 0, f"{w}: no stream batches")
            expect(t1["metrics"]["layers.builds"]["value"] > 0, f"{w}: layer builds seen")
        inj, tags = run(w, 0, "--inject-failure", "--inject-wrong-output")
        summary, failed = tags["PERFBENCH_SUMMARY"], tags["PERFBENCH_FAILED"]
        passes = summary["passes"]["value"]
        wrong = failed["injected_wrong_output"]
        expect("injected_failure" in failed["operations"], f"{w}: injected failure listed by name")
        expect(wrong in failed["reasons"], f"{w}: wrong output {wrong} caught by the check")
        if w == "stream_refresh":
            # the first pass's refreshes all built the wrong mart
            charged = ["refresh_00", "refresh_01"]
            least = passes + len(charged)
        else:
            charged = [wrong]
            least = 2 * passes
        expect(all(c in failed["operations"] for c in charged),
               f"{w}: operations behind the wrong output listed ({', '.join(charged)})")
        expect(inj["failed"] >= least and not inj["correct"],
               f"{w}: injected failures counted ({inj['failed']} >= {least})")
        expect(summary["fail_share"]["value"] == inj["failed"] / inj["attempted"],
               f"{w}: fail_share = failed / attempted")
        expect(summary["operations"]["value"] == inj["attempted"] - inj["failed"],
               f"{w}: failed operation left out of the latency samples")
    print("selfcheck: " + ("PASS" if not problems else f"FAIL ({len(problems)})"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
