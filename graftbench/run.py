#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload serve|serve_mutate|batch \
        --seed N --seconds S --trace 0|1

Builds the program from the checkout's sources (build.py), prepares the
deterministic corpus once per checkout (gen_corpus.py), runs the JVM
harness (graftbench.Main) against `local[<cpus>]`, checks the answers,
and prints every metric of the workload by name and unit. The last line
of standard output is one JSON object: the end-to-end metrics listed in
BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).

Everything the run writes stays under `.bench_build/` in the checkout;
the run record (every operation, every failure, the environment) is kept
in `.bench_build/runs/<run>/`. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_corpus  # noqa: E402

WORKLOADS = ("serve", "serve_mutate", "batch")
# Set-ups per run (one in a cold JVM, one in a warm one); set-up time is
# their median. More do not fit the run-time budget (README.md).
SETUPS = 2
# Hard cap on one run; the contract allows 180 s.
RUN_LIMIT_S = 170
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# Known gaps of the program, named in README.md: their failures count in
# error_rate and are listed in the run record, but do not make a run
# incorrect.
KNOWN_GAPS = {
    "combined_no_delete": "the exact scan over ensureCombined has no delete support",
    "posting_no_live_read": "bm25Indexed and phraseSearch have no delete-aware variant",
    "ann_cli_not_live": "SearchCli --nprobe/--pq serve with live = false",
    "bm25_stats_count_folded": "after a compaction, BM25's N and avgdl still count "
                               "the documents it folded out of the postings",
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def prepare_corpus(scale):
    """Generate the corpus once per checkout and verify it by row counts."""
    with open(gen_corpus.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"corpus-{version}-x{scale:g}")
    ready = os.path.join(d, "_READY.json")
    if not os.path.exists(ready):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        gen_corpus.generate(d, scale)
        with open(ready, "w") as f:
            json.dump({"prep_s": time.time() - t0, "scale": scale}, f)
        log(f"corpus prepared in {time.time() - t0:.2f} s (outside set-up time)")
    verify_counts(d, gen_corpus.counts(scale))
    return d


def verify_counts(d, want):
    import pyarrow.dataset as ds
    for t in ("documents", "embeddings", "lineitem", "events", "orders"):
        n = ds.dataset(os.path.join(d, f"{t}.parquet"), format="parquet").count_rows()
        if n != want[t]:
            raise RuntimeError(f"corpus {t}: {n} rows, expected {want[t]}")


def copy_corpus(src, dst):
    """A private copy of the corpus, one directory of part files per table
    (hard links where the filesystem allows: the part files are never
    modified, only added to)."""
    os.makedirs(dst)
    for t in TABLES:
        s = os.path.join(src, f"{t}.parquet")
        o = os.path.join(dst, f"{t}.parquet")
        os.makedirs(o)
        files = [os.path.join(s, f) for f in sorted(os.listdir(s))] if os.path.isdir(s) else [s]
        for i, f in enumerate(x for x in files if x.endswith(".parquet")):
            target = os.path.join(o, f"part-{i:05d}.parquet")
            try:
                os.link(f, target)
            except OSError:
                shutil.copyfile(f, target)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prime(classes):
    """Dump the class-data-sharing archive of a build once, from the set-up
    of a serve_mutate run, so no measured run pays for it."""
    jsa = os.path.join(classes, "classes.jsa")
    if os.path.exists(jsa):
        return
    d = os.path.join(BUILD, "runs", f"prime-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    copy_corpus(prepare_corpus(1.0), os.path.join(d, "corpus"))
    args = ["--workload", "serve_mutate", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--cpus", str(cpus()), "--run-dir", d, "--corpora", os.path.join(d, "corpus"),
            "--setup-only", "1"]
    try:
        run_jvm(classes, args, d, time.time() + RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(classes, args, run_dir, deadline, jvm_flags=None):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cp = (os.path.join(classes, "graftbench.jar") + os.pathsep +
          os.path.join(os.environ["SPARK_HOME"], "jars", "*"))
    # Class-data sharing: runs map the archive prime() dumped instead of
    # loading ~20k Spark classes one by one (seconds of every JVM start).
    jsa = os.path.join(classes, "classes.jsa")
    cmd = ["java", "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           "-Xmx3g", "-Xss4m"]
    cmd += jvm_flags or ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("the JVM harness overran the run's time limit")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.err")) as f:
            tail = [ln for ln in f.read().splitlines() if "Exception" in ln or "Error" in ln]
        raise RuntimeError(f"JVM harness exited {rc}: " + " | ".join(tail[-5:]))
    with open(os.path.join(run_dir, "record.json")) as f:
        return json.load(f)


# ----------------------------------------------------------- oracle checks

def duck(corpus):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(corpus, t + '.parquet')}/*.parquet'")
    return con


def same_frames(exp, got):
    """The DuckDB comparison rules of the repository's parity check: columns
    sorted by name, rows sorted by value, floats equal within 1e-9
    relative, everything else equal as strings."""
    import numpy as np
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows != {len(exp)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            e, g = e.astype(float).values, g.astype(float).values
            if (np.isnan(e) ^ np.isnan(g)).any():
                return f"column {c}: NaN mask differs"
            ok = np.isnan(e) | (np.abs(e - g) <= 1e-9 * np.maximum(np.abs(e), 1e-12))
            if not ok.all():
                return f"column {c} differs"
        elif not e.astype(str).equals(g.astype(str)):
            return f"column {c} differs"
    return None


def check_batch(rec, run_dir, corpus):
    import pandas as pd
    res = os.path.join(run_dir, "results")
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duck(corpus)
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            why = same_frames(con.execute(sql).df(), pd.read_parquet(os.path.join(res, name)))
        except Exception as e:  # a missing result or a failing oracle is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            fails.append({"op": -1, "type": name, "reason": f"oracle: {why}", "gap": None})
    return len(oracle), fails


def check_bm25(rec, corpus):
    """BM25 answers against InvertedIndex.oracleT9For, each over the
    documents its index held when it was read: ids up to the largest
    acknowledged at that point, minus the deletes a compaction had folded.
    The oracle SQL scores with the statistics the program cached (idf per
    needle term, avgdl), so those are first recomputed here over the same
    documents (N, document frequencies, mean length) and compared."""
    con = duck(corpus)
    con.execute("CREATE VIEW all_documents AS SELECT * FROM "
                f"'{os.path.join(corpus, 'documents.parquet')}/*.parquet'")
    fails = []
    for c in rec.get("bm25_checks", []):
        held = f"doc_id <= {c['max_id']}"
        live = f"{held} AND doc_id NOT IN ({','.join(map(str, c['excluded'])) or -1})"
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM all_documents WHERE {live}")
        n, avgdl, df = bm25_stats(con, c, live)
        why = stats_differ(c, n, avgdl, df)
        if why:
            # the known gap: N and avgdl still count documents whose
            # deletes a compaction folded out of the postings
            n_held, avgdl_held, _ = bm25_stats(con, c, held)
            gap = "bm25_stats_count_folded" if c["excluded"] and \
                stats_differ(c, n_held, avgdl_held, df) is None else None
            fails.append({"op": c["op"], "type": "bm25", "reason": f"oracle: {why}", "gap": gap})
        rows = con.execute(c["sql"]).fetchall()
        want = sorted(rows, key=lambda r: (-r[2], r[0]))[:c["k"]]
        got = c["got"]
        if not (len(got) == len(want) and all(
                int(g[0]) == w[0] and int(g[1]) == w[1] and math.isclose(g[2], w[2], rel_tol=1e-9)
                for g, w in zip(got, want))):
            fails.append({"op": c["op"], "type": "bm25", "gap": None,
                          "reason": f"oracle: needle {c['needle']} got {got[:3]} want {want[:3]}"})
    return fails


def bm25_stats(con, c, where):
    """N, avgdl and each needle term's document frequency over the
    documents matching `where`, tokenised as the program tokenises."""
    toks = (f"WITH m AS (SELECT doc_id, {c['tokens_sql']} AS t FROM "
            f"(SELECT * FROM all_documents WHERE {where})) ")
    n, sumdl = con.execute(toks + "SELECT count(*), sum(len(t)) FROM m").fetchone()
    terms = ",".join("'" + t.replace("'", "''") + "'" for t in c["needle"])
    df = dict(con.execute(toks + "SELECT tok, count(DISTINCT doc_id) FROM "
                          f"(SELECT doc_id, unnest(t) AS tok FROM m) WHERE tok IN ({terms}) "
                          "GROUP BY tok").fetchall())
    return n, sumdl / n, df


def stats_differ(c, n, avgdl, df):
    """Why the statistics a read scored with are not these, or None."""
    if not math.isclose(c["avgdl"], avgdl, rel_tol=1e-12):
        return f"stats: avgdl {c['avgdl']}, over N={n} documents it is {avgdl}"
    for t in c["needle"]:
        d = df.get(t, 0)
        want = math.log(1.0 + (n - d + 0.5) / (d + 0.5))
        if not math.isclose(c["idf"][t], want, rel_tol=1e-12):
            return f"stats: idf('{t}') {c['idf'][t]}, with N={n} and df={d} it is {want}"
    return None


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q):
    """Nearest-rank percentile, and how many samples lie above it."""
    if not xs:
        return float("nan"), 0
    s = sorted(xs)
    i = min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))
    return s[i], len(s) - 1 - i


def metrics(w, rec, failures, attempted):
    ops = rec["ops"]
    timed = rec["timed_s"]
    # the operation a user waits on: a read, or a batch query
    waits = [o["ms"] for o in ops if o["kind"] in ("read", "query")]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    m = {
        # CPU seconds of the JVM (all threads), median of the set-ups: on a
        # shared VM, wall time moves with hypervisor steal (README.md)
        "setup_s": (median(rec["setup_cpu_s"]), "s"),
        "setup_wall_s": (median(rec["setup_s"]), "s"),
        "latency_p50_ms": (median(waits), "ms"),
        # per second the program was busy: the checks between operations
        # are the benchmark's time, not the program's
        "ops_per_s": (len(ops) / (sum(o["ms"] for o in ops) / 1000), "1/s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "error_rate": (len(failures) / attempted, "ratio"),
    }
    m.update(cpu_metrics(w, rec))
    if w != "batch":
        p95, above = pct(reads, 95)
        m["read_p95_ms"] = (p95, "ms")
        m["read_p95_samples_above"] = (above, "count")
        m["requests_per_s"] = (len(reads) / timed, "1/s")
        m["ann_recall_at_10"] = (statistics.mean(rec["recall_at_10"]) if rec["recall_at_10"]
                                 else float("nan"), "ratio")
        lay = rec["layout"]
        m["space_amp"] = (sum(lay["bytes"].values()) / lay["corpus_bytes"], "ratio")
    if w == "serve_mutate":
        lay = rec["layout"]
        m["delete_p50_ms"] = (median([o["ms"] for o in ops if o["kind"] == "delete"]), "ms")
        m["append_p50_ms"] = (median([o["ms"] for o in ops if o["kind"] == "append"]), "ms")
        m["write_amp"] = (lay["written_bytes"] / lay["appended_bytes"]
                          if lay["appended_bytes"] else float("nan"), "ratio")
    if w == "batch":
        def pass_s(names):
            return sum(median([o["ms"] / 1000 for o in ops if o["type"] == n]) for n in names)
        m["analytics_s"] = (pass_s(rec["sets"]["analytics"]), "s")
        m["curate_docs_per_s"] = (rec["docs"] / pass_s(rec["sets"]["curate"]), "docs/s")
    return m


def cpu_metrics(w, rec):
    """CPU time of the JVM (all threads: Spark tasks and scheduler, GC,
    compiler) per timed operation, reads and writes apart. A read is a
    serve read, weighted by the read mix's shares (so the estimate does
    not depend on how many reads of each type a run made), or an analytics
    query; a write is a delete, shard append or compaction, or a curate
    pass. serve makes no writes."""
    ops = rec["ops"]
    def mean_cpu(pred):
        xs = [o["cpu_ms"] for o in ops if pred(o)]
        return statistics.mean(xs) if xs else float("nan")
    m = {}
    if w == "batch":
        sets = rec["sets"]
        m["read_cpu_ms"] = (mean_cpu(lambda o: o["type"] in sets["analytics"]), "ms")
        m["write_cpu_ms"] = (mean_cpu(lambda o: o["type"] in sets["curate"]), "ms")
        return m
    shares = rec["read_shares"]
    m["read_cpu_ms"] = (sum(n * mean_cpu(lambda o, t=t: o["kind"] == "read" and o["type"] == t)
                            for t, n in shares.items()) / sum(shares.values()), "ms")
    if w == "serve_mutate":
        m["write_cpu_ms"] = (mean_cpu(lambda o: o["kind"] != "read"), "ms")
        m["read_cpu_frac"] = (sum(o["cpu_ms"] for o in ops if o["kind"] == "read") /
                              sum(o["cpu_ms"] for o in ops), "ratio")
    return m


def run(workload, seed, seconds, trace, corpus_src=None, setups=SETUPS):
    deadline = time.time() + RUN_LIMIT_S
    classes = build.build()
    prime(classes)
    corpus = corpus_src or prepare_corpus(1.0)
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    copies = [os.path.join(run_dir, f"corpus-{i}") for i in range(setups)]
    for c in copies:
        copy_corpus(corpus, c)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus()), "--run-dir", run_dir,
            "--corpora", ",".join(copies)]
    try:
        rec = run_jvm(classes, args, run_dir, deadline)
        failures = list(rec["failures"])
        attempted = len(rec["ops"])
        if workload == "batch":
            n, fails = check_batch(rec, run_dir, copies[-1])
            attempted += n
            failures += fails
        else:
            failures += check_bm25(rec, copies[-1])
        m = metrics(workload, rec, failures, attempted)
        unexpected = [f for f in failures if f.get("gap") not in KNOWN_GAPS]
        result = {"record": rec, "failures": failures, "metrics": m,
                  "attempted": attempted, "unexpected": len(unexpected)}
        with open(os.path.join(run_dir, "result.json"), "w") as f:
            json.dump(result, f)
        return result
    finally:
        for c in copies + [os.path.join(run_dir, d) for d in ("tmp", "spark-local", "results")]:
            shutil.rmtree(c, ignore_errors=True)
        prune_runs()


def prune_runs(keep=40):
    d = os.path.join(BUILD, "runs")
    runs = sorted((os.path.join(d, x) for x in os.listdir(d)), key=os.path.getmtime)
    for r in runs[:-keep]:
        shutil.rmtree(r, ignore_errors=True)


def report(workload, trace, result, spec):
    m = result["metrics"]
    rec = result["record"]
    print(f"# graftbench {workload} seed={rec['seed']} local[{rec['cpus_local']}] "
          f"cpus_detected={rec['cpus_detected']} timed={rec['timed_s']:.2f}s "
          f"ops={len(rec['ops'])} cpu_steal={rec['cpu_steal_frac']:.3f} probe={rec['probe']}")
    for k, (v, unit) in m.items():
        print(f"{k:28s} {v:14.6g} {unit}")
    by_gap = {}
    for f in result["failures"]:
        by_gap[f.get("gap") or "unexpected"] = by_gap.get(f.get("gap") or "unexpected", 0) + 1
    print(f"failures by cause: {by_gap or 'none'}")
    if trace:
        pl = rec.get("per_layer", {})
        names = [x["name"] for x in spec["per_layer"]]
        out = {x["name"]: {"value": float(pl.get(x["name"], 0.0)), "unit": x["unit"]}
               for x in spec["per_layer"]}
        for n in names:
            print(f"  {n:44s} {out[n]['value']:14.6g} {out[n]['unit']}")
    else:
        # serve, which is not in BENCHMARK.json, has no write metric
        out = {x["name"]: {"value": float(m[x["name"]][0]), "unit": x["unit"]}
               for x in spec["end_to_end"] if x["name"] in m}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        result = run(a.workload, a.seed, a.seconds, a.trace)
        out = report(a.workload, a.trace, result, spec)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        log(f"graftbench: {type(e).__name__}: {e}")
        sys.exit(1)
    print(json.dumps({"correct": result["unexpected"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["unexpected"], "metrics": out}))


if __name__ == "__main__":
    main()
