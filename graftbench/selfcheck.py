#!/usr/bin/env python3
"""Quick self-check of the benchmark: every workload runs one short unit of
work untraced and traced on a small corpus, and every metric it prints is
checked against BENCHMARK.json by name and unit.

    python3 graftbench/selfcheck.py [--corpus DIR]

`--corpus` runs it on an existing corpus directory instead (the test
corpora of the repository have the same tables); by default a corpus at
a fifth of the benchmark's size is generated under .bench_build/.
"""
import argparse
import json
import math
import os
import sys

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus")
    a = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    corpus = a.corpus or run.prepare_corpus(0.2)
    problems = []
    for w in run.WORKLOADS:
        for trace in (0, 1):
            try:
                result = run.run(w, 1, 0, trace, corpus_src=corpus, setups=1)
                out = run.report(w, trace, result, spec)
            except Exception as e:  # report every workload, then fail
                problems.append(f"{w} trace={trace}: {type(e).__name__}: {e}")
                continue
            want = [x for x in spec["per_layer" if trace else "end_to_end"]
                    if trace or w != "serve" or x["name"] in result["metrics"]]
            if [x["name"] for x in want] != list(out):
                problems.append(f"{w} trace={trace}: metric names differ from BENCHMARK.json")
            for x in want:
                v = out.get(x["name"], {})
                if v.get("unit") != x["unit"] or not math.isfinite(v.get("value", math.nan)):
                    problems.append(f"{w} trace={trace}: {x['name']} = {v}")
            if result["unexpected"]:
                problems.append(f"{w} trace={trace}: {result['unexpected']} unexpected failures")
    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "FAIL" if problems else "PASS")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
