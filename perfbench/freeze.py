#!/usr/bin/env python3
"""Freeze the benchmark's key pools and expected results from one ledger run.

Runs every declared query key twice in one JVM at local[4] (pass 0 cold,
pass 1 warm), traced, and dumps each key's result once. Then:
  * expected/<sf>.tsv: each key's row count and result digest, and whether
    the dumped result matches its DuckDB oracle: column names and type
    classes, then the rows as a multiset (tools/check.py's type-tagged
    canonical form for results up to 20,000 rows, an exact EXCEPT ALL in
    DuckDB above that). A key whose digest differs between its two passes
    is checked on row count only.
  * pools/interactive.tsv and pools/pipeline.tsv (only for sf0.1), by the
    rule in RULE below. Timing noise cannot move a key between pools after
    this: only a change to the benchmark may regenerate them.

Usage (from the repository root; about 40 minutes at sf0.1):
    python3 perfbench/freeze.py sf0.1 [--reuse]
    python3 perfbench/freeze.py sf0.001 [--reuse]
"""
import datetime
import importlib.util
import json
import os
import shutil
import sys
import threading

import run

# DuckDB's recursive-CTE oracles for a few graph keys grow super-linearly
# (graph_pagerank_dangling takes minutes already at sf0.001); an oracle that
# outlives this is recorded as "timeout", and the key keeps its own
# digest check.
ORACLE_TIMEOUT_S = 60

RULE = ("interactive: zero jobs during construction on both the cold and the "
        "warm call, warm call under 1 s, no bytes written, and no build-once "
        "index scanned; pipeline: every other key")


def ledger(cp, sf, work, reuse):
    keys_file = os.path.join(work, "keys.json")
    if run.java(cp, "perfbench.Keys", [keys_file], work, 300) != 0:
        run.die("listing keys failed")
    with open(keys_file) as f:
        oracles = json.load(f)
    dump = os.path.join(work, "dump")
    plan = []
    for k in sorted(oracles):
        plan += [("warm", 0, "key", k, ""), ("warm", 0, "dump", k, dump)]
    plan += [("warm", 1, "key", k, "") for k in sorted(oracles)]
    run.write_plan(plan, os.path.join(work, "plan.tsv"))
    if not reuse:
        code = run.java(cp, "perfbench.Harness",
                        [os.path.join(work, "plan.tsv"), os.path.join(run.DATA, sf),
                         os.path.join(work, "out"), "1"], work, 4 * 3600)
        if code != 0:
            run.die(f"ledger run exited with {code}")
    records = run.read_jsonl(os.path.join(work, "out", "ops.jsonl"))
    passes = {}
    for r in records:
        if r["kind"] == "key":
            passes.setdefault(r["name"], {})[r["pass"]] = r
    return oracles, passes, dump


def oracle_check(sf, oracles, dump):
    """{key: "ok" | "none" | "timeout: ..." | "mismatch: ..."} against DuckDB 1.0 on the
    same parquet, in tools/check.py's canonical form."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(run.ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(run.DATA, sf, t + '.parquet')}')")

    def canon(rel):
        cols = rel.columns
        perm = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = sorted("\x1f".join(check.tagged(r[i]) for i in perm) for r in rel.fetchall())
        return [cols[i] for i in perm], rows

    def type_class(t):
        t = str(t).upper()
        for cls, marks in (("i", ("INT",)), ("f", ("DOUBLE", "FLOAT", "REAL")),
                           ("t", ("TIMESTAMP", "DATE", "TIME")), ("s", ("VARCHAR",))):
            if any(m in t for m in marks):
                return cls
        return t

    out = {}
    for k, sql in sorted(oracles.items()):
        if sql is None:
            out[k] = "none"
            continue
        d = os.path.join(dump, k)
        files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")) \
            if os.path.isdir(d) else []
        if not files:
            out[k] = "mismatch: no result dumped"
            continue
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            want = con.sql(sql)
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            wt = sorted(zip(want.columns, map(type_class, want.types)))
            gt = sorted(zip(got.columns, map(type_class, got.types)))
            if wt != gt:
                out[k] = f"mismatch: columns {wt} vs {gt}"
                continue
            con.execute(f"CREATE OR REPLACE TEMP TABLE w AS {sql}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE g AS SELECT * FROM read_parquet({files!r})")
            nw = con.execute("SELECT count(*) FROM w").fetchone()[0]
            ng = con.execute("SELECT count(*) FROM g").fetchone()[0]
            if nw != ng:
                out[k] = f"mismatch: rows {nw} vs {ng}"
            elif nw <= 20000:
                # small results: tools/check.py's type-tagged canonical form
                out[k] = "ok" if canon(con.sql("SELECT * FROM w")) == canon(con.sql("SELECT * FROM g")) \
                    else "mismatch: values"
            else:
                # large results: exact multiset difference, column by name
                cols = ", ".join(f'"{c}"' for c, _ in wt)
                diff = con.execute(f"SELECT count(*) FROM ((SELECT {cols} FROM w EXCEPT ALL "
                                   f"SELECT {cols} FROM g) UNION ALL (SELECT {cols} FROM g "
                                   f"EXCEPT ALL SELECT {cols} FROM w))").fetchone()[0]
                out[k] = "ok" if diff == 0 else f"mismatch: {diff} rows differ"
        except Exception as e:  # an oracle error is recorded, not fatal
            out[k] = f"timeout: oracle over {ORACLE_TIMEOUT_S} s" if not timer.is_alive() \
                else f"mismatch: {str(e).splitlines()[0][:120]}"
        finally:
            timer.cancel()
    return out


def main():
    sf = sys.argv[1]
    # --reuse re-derives the lists from the last ledger run's records
    reuse = sys.argv[2:] == ["--reuse"]
    cp = run.build()
    work = os.path.join(run.BUILD, f"freeze-{sf}")
    if not reuse:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
    oracles, passes, dump = ledger(cp, sf, work, reuse)
    verdict = oracle_check(sf, oracles, dump)
    today = datetime.date.today().isoformat()

    rows = []
    for k in sorted(oracles):
        p = passes.get(k, {})
        cold, warm = p.get(0), p.get(1)
        ok = bool(cold and warm and cold["ok"] and warm["ok"])
        stable = ok and cold["digest"] == warm["digest"] and cold["rows"] == warm["rows"]
        jobs = [r.get("construct.jobs", 0) for r in (cold, warm) if r]
        wrote = sum(r.get(f"{l}.output_bytes", 0) for r in (cold, warm) if r
                    for l in run.LAYER_GROUPS)
        index = sorted(set((cold or {}).get("index", []) + (warm or {}).get("index", [])))
        rows.append(dict(
            key=k, rows=str(warm["rows"]) if ok else "-", digest=warm["digest"] if ok else "-",
            check="digest" if stable else "rows", oracle=verdict[k],
            cold_s=f"{cold['wall_s']:.4f}" if cold else "-",
            warm_s=f"{warm['wall_s']:.4f}" if warm else "999",
            construct_jobs=str(max(jobs) if jobs else -1), bytes_written=str(wrote),
            index=",".join(index) or "-",
            error=((cold or {}).get("error") or (warm or {}).get("error") or "")[:150]
            .replace("\t", " ").replace("\n", " ") or "-",
            interactive=ok and max(jobs) == 0 and warm["wall_s"] < 1.0
            and wrote == 0 and not index))

    os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
    cols = ["key", "rows", "digest", "check", "oracle", "error"]
    with open(os.path.join(run.HERE, "expected", f"{sf}.tsv"), "w") as f:
        f.write(f"# expected results at {sf}, local[{run.CORES}], frozen {today} "
                f"by freeze.py\n" + "\t".join(cols) + "\n")
        for r in rows:
            f.write("\t".join(r[c] for c in cols) + "\n")
    if sf == run.SF:
        cols = ["key", "warm_s", "cold_s", "construct_jobs", "bytes_written", "index"]
        for pool in ("interactive", "pipeline"):
            members = [r for r in rows if r["interactive"] == (pool == "interactive")]
            with open(os.path.join(run.HERE, "pools", f"{pool}.tsv"), "w") as f:
                f.write(f"# {len(members)} keys, frozen {today} from one ledger run "
                        f"(freeze.py, {sf}, local[{run.CORES}])\n# rule: {RULE}\n")
                f.write("\t".join(cols) + "\n")
                for r in members:
                    f.write("\t".join(r[c] for c in cols) + "\n")
    n_bad = sum(r["oracle"].startswith("mismatch") for r in rows)
    n_err = sum(r["rows"] == "-" for r in rows)
    print(f"{len(rows)} keys, {n_err} failed, {n_bad} oracle mismatches, "
          f"{sum(r['check'] == 'rows' for r in rows)} checked on rows only")


if __name__ == "__main__":
    main()
