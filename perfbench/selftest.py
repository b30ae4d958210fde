#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny sf0.001 pass with a few operations per
workload. Asserts that
  * every end-to-end metric prints with its unit, as BENCHMARK.json names it;
  * a corrupted expected digest is caught and lowers ok_frac;
  * the traced run reports every per-layer metric and emits spans for every
    layer the harness wraps (construct, plan, execute, sql.execute).

Usage (from the repository root; about four minutes):
    python3 perfbench/selftest.py
"""
import contextlib
import io
import json
import os
import sys

import run

SF = "sf0.001"
SECONDS = "2"


def bench(workload, trace, expected=None):
    args = ["--workload", workload, "--seed", "7", "--seconds", SECONDS,
            "--trace", str(trace), "--sf", SF]
    if expected:
        args += ["--expected", expected]
    else:
        args += ["--expected", os.path.join(run.HERE, "expected", f"{SF}.tsv")]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.main(args)
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def spans(workload, seed=7):
    with open(os.path.join(run.BUILD, f"trace-{workload}-{seed}.jsonl")) as f:
        return {json.loads(l)["name"] for l in f}


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END_UNITS, "BENCHMARK.json and run.py disagree on end_to_end"
    assert layers == run.PER_LAYER_UNITS, "BENCHMARK.json and run.py disagree on per_layer"

    for w in ("interactive", "pipeline", "mutate"):
        out = bench(w, 0)
        assert out["correct"] and out["failed"] == 0, (w, out)
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == e2e, (w, got)
        assert all(v["value"] > 0 for v in out["metrics"].values()), (w, out)

        out = bench(w, 1)
        assert out["correct"], (w, out)
        assert {k: v["unit"] for k, v in out["metrics"].items()} == layers, w
        want = {"op", "sql.execute", "execute"} if w == "mutate" else \
            {"op", "construct", "plan", "execute"}
        assert want <= spans(w), (w, spans(w))
        print(f"selftest: {w}: metrics and spans ok")

    # Flip every digest-checked key's expected digest: every such operation
    # must now count as failed.
    src = os.path.join(run.HERE, "expected", f"{SF}.tsv")
    bad = os.path.join(run.BUILD, "selftest-corrupt.tsv")
    with open(src) as f, open(bad, "w") as g:
        for line in f:
            cells = line.rstrip("\n").split("\t")
            if len(cells) > 3 and cells[3] == "digest":
                cells[2] = "0" * 16 if cells[2] != "0" * 16 else "1" * 16
            g.write("\t".join(cells) + "\n")
    out = bench("interactive", 0, expected=bad)
    assert not out["correct"] and out["failed"] > 0, out
    assert out["metrics"]["ok_frac"]["value"] < 1, out
    print(f"selftest: corrupted digests caught ({out['failed']} of {out['attempted']} failed)")
    print("selftest: ok")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"selftest: FAILED: {e}", file=sys.stderr)
        sys.exit(1)
