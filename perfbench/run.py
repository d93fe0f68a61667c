#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt compiles graft's sources with the workloads in
perfbench/src). Each run generates its inputs from the seed, runs the
workload in one JVM at local[nproc], checks the outputs outside the timed
window, and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (and
writes the spans to .perfbench/traces/). Every run is also appended to
.perfbench/runs.jsonl. See perfbench/README.md for what is measured.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# class-data-sharing archive of the classes a Spark session start loads:
# halves the JVM's start on a small box (about 14 s -> 7 s here)
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DEADLINE_S = 175  # a run must end within 180 s

WORKLOADS = ("cdc_replay", "tail_mixed", "query_surface")

# query_surface: one query of each of graft's eleven operator modules,
# so every module is timed cold and warm within one run
QUERY_SLICE = [
    "q3_join_broadcast",        # Relational
    "q20_text_tokens",          # TextOps
    "q24_dedup_exact",          # DedupOps
    "q28_knn_brute",            # SimilarityOps
    "q31_sessionize",           # CdcOps
    "q34_multimodal_bytes",     # MultimodalOps
    "q40_stream_window",        # ExtraOps (stages its source in /dev/shm)
    "q48_quick_nn",             # ToleranceOps
    "q54_interp_linear_axis",   # StencilOps
    "q66_flood_union",          # GeomOps
    "q67_griddata",             # ScatterOps
]

# the gated metrics: one wall-clock rate per workload, beside CPU seconds,
# which move less than wall time with the CPU a shared host steals
# (see README.md)
END_TO_END = ["setup_s", "throughput_per_s", "mem.peak_heap_mb", "cpu_s_per_unit", "cold_cpu_s"]
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "mem.peak_heap_mb": "MiB",
         "cpu_s_per_unit": "s", "cold_cpu_s": "s"}
# a run whose host steal exceeds this is flagged in its record and on stderr
HIGH_STEAL_PCT = 10.0

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the workloads unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft's sources (src/main/scala/graft) are not in this checkout")
        sys.exit(2)
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set; the build and the run need $SPARK_HOME/jars")
        sys.exit(2)
    stamp = sources()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building (sbt compile in perfbench/)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        log("build failed")
        sys.exit(2)
    # a jar, because a class-data-sharing archive accepts no directories
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, files in os.walk(CLASSES):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(STATE, "cds-dump")
    os.makedirs(work, exist_ok=True)
    log("dumping the class-data-sharing archive")
    r = subprocess.run(java(["-XX:ArchiveClassesAtExit=" + CDS], work) + ["setup", "-", work, "0", "1"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(CDS):
        log("no class-data-sharing archive; runs start without it")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return stamp


def java(flags, work):
    """The JVM command line up to the main class."""
    cds = ["-XX:SharedArchiveFile=" + CDS] if os.path.exists(CDS) and not flags else []
    return (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={work}"]
            + cds + flags
            + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", JAR + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
               "graftbench.Main"])


# ---- machine ---------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of the memory not already held by /dev/shm data, 2-8 GiB."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    shm_kb = 0
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        shm_kb = (st.f_blocks - st.f_bfree) * st.f_frsize // 1024
    return int(min(8192, max(2048, (total_kb - shm_kb) / 4 / 1024)))


def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before, after):
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0


def shm_leftovers():
    return set(glob.glob("/dev/shm/graft-stream-*"))


# ---- inputs ----------------------------------------------------------------

def plan(workload, seconds):
    """Work per run, fixed by --seconds alone (never by measured speed), so
    both sides of a comparison do the same work."""
    if workload == "cdc_replay":
        return {"segments": max(2, round(seconds / 5)), "events_per_segment": 300_000,
                "warm_events": 50_000}
    if workload == "tail_mixed":
        return {"rounds": max(2, round(seconds / 10)), "segments_per_round": 4,
                "events_per_segment": 10_000, "lookups_per_round": 3}
    # three warm passes or more, so that each query's median drops a pass
    # that a burst of host steal hit
    return {"queries": QUERY_SLICE, "lineitems": 6000, "warm_passes": max(3, round(3 * seconds / 20))}


def make_inputs(workload, seed, p, in_dir):
    import duckdb
    import inputs
    con = duckdb.connect()
    con.execute("SET threads TO %d" % cores())
    if workload == "cdc_replay":
        inputs.change_log(con, seed + 7919, p["warm_events"], 5000, 100)
        inputs.write_segments(con, os.path.join(in_dir, "warm"), 1, typed=False)
        n = p["segments"] * p["events_per_segment"]
        inputs.change_log(con, seed, n, 5000, 100)
        inputs.write_segments(con, os.path.join(in_dir, "log"), p["segments"], typed=False)
    elif workload == "tail_mixed":
        per = p["segments_per_round"]
        inputs.change_log(con, seed + 7919, p["events_per_segment"], 2000, 50)
        inputs.write_segments(con, os.path.join(in_dir, "warm"), 1, typed=True)
        segs = p["rounds"] * per
        inputs.change_log(con, seed, segs * p["events_per_segment"], 2000, 50)
        stage = os.path.join(in_dir, "stage")
        inputs.write_segments(con, stage, segs, typed=True)
        rounds, lookups = [], []
        for r in range(p["rounds"]):
            names = [f"seg-{s:05d}" for s in range(r * per, (r + 1) * per)]
            n = sum(con.execute(f"SELECT count(*) FROM read_parquet('{stage}/{s}/*.parquet')")
                    .fetchone()[0] for s in names)
            rounds.append(f"{r}\t{','.join(names)}\t{n}")
            lookups += [f"{r}\t{k[0]}\t{k[1]}" for k in
                        lookup_keys(con, stage, (r + 1) * per, seed * 1000 + r, p["lookups_per_round"])]
        with open(os.path.join(in_dir, "rounds.tsv"), "w") as fh:
            fh.write("\n".join(rounds) + "\n")
        with open(os.path.join(in_dir, "lookups.tsv"), "w") as fh:
            fh.write("\n".join(lookups) + "\n")
    else:
        inputs.query_tables(os.path.join(in_dir, "q"), seed, p["lineitems"])
        with open(os.path.join(in_dir, "queries.txt"), "w") as fh:
            fh.write("\n".join(p["queries"]) + "\n")
        with open(os.path.join(in_dir, "warm_passes"), "w") as fh:
            fh.write(str(p["warm_passes"]))
    con.close()


def segment_files(stage, n_segments):
    """The parquet files of the first n_segments segments."""
    return [f"{stage}/seg-{s:05d}/part-0.parquet" for s in range(n_segments)]


def lookup_keys(con, stage, n_segments, seed, k):
    """Seeded keys for one round's reader, as of the first n_segments:
    Zipf-hot live keys, cold live keys (touched once) and deleted keys."""
    files = segment_files(stage, n_segments)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE k AS
        SELECT repo, path, count(*) AS n, arg_max(op, lsn) AS op
        FROM read_parquet({files}) GROUP BY repo, path""")
    pick = lambda where, order, m: con.execute(f"""
        SELECT repo, path FROM (SELECT * FROM k WHERE {where} ORDER BY {order} LIMIT 64)
        ORDER BY hash(repo, path, {seed}) LIMIT {m}""").fetchall()
    return (pick("op <> 'D'", "n DESC, repo, path", k - 2 * (k // 3))
            + pick("op <> 'D' AND n = 1", "hash(repo, path, 1), repo", k // 3)
            + pick("op = 'D'", "hash(repo, path, 2), repo", k // 3))


# ---- checks ----------------------------------------------------------------

def check(workload, in_dir, work):
    """Output checks, outside the timed window. Returns a list of failures.
    tail_mixed's segments were renamed into <work>/tail by the run."""
    out_dir = os.path.join(work, "out")
    import duckdb
    import inputs
    con = duckdb.connect()
    bad = []
    if workload in ("cdc_replay", "tail_mixed"):
        log_dir = os.path.join(in_dir, "log") if workload == "cdc_replay" else os.path.join(work, "tail")
        segs = sorted(glob.glob(os.path.join(log_dir, "seg-*", "*.parquet")))
        want = inputs.reference_state(con, segs)
        got = inputs.state_digest(con, os.path.join(out_dir, "state", "*.parquet"))
        if tuple(want) != tuple(got):
            bad.append(f"final state: reference {want} != table {got}")
    if workload == "tail_mixed":
        stage = os.path.join(work, "tail")
        per = len(open(os.path.join(in_dir, "rounds.tsv")).readline().split("\t")[1].split(","))
        for line in open(os.path.join(out_dir, "lookups.tsv")).read().splitlines():
            r, repo, path, n, lsn, sha = line.split("\t")
            files = segment_files(stage, (int(r) + 1) * per)
            row = con.execute(f"""
                SELECT arg_max(op, lsn), max(lsn), arg_max(after.content, lsn)
                FROM read_parquet({files}) WHERE repo = ? AND path = ?""", [repo, path]).fetchone()
            live = row[0] is not None and row[0] != "D"
            exp = (1, str(row[1]), hashlib.sha256(row[2].encode()).hexdigest()) if live else (0, "", "")
            if (int(n), lsn, sha) != exp:
                bad.append(f"lookup {repo}/{path} round {r}: got {(n, lsn, sha)}, want {exp}")
        for line in open(os.path.join(out_dir, "changes.tsv")).read().splitlines():
            r, n = map(int, line.split("\t"))
            segs = [f"{stage}/seg-{s:05d}/part-0.parquet" for s in range(r * per, (r + 1) * per)]
            want = sum(con.execute(
                f"SELECT count(DISTINCT (repo, path)) FROM read_parquet('{s}')").fetchone()[0] for s in segs)
            if n != want:
                bad.append(f"changes round {r}: read {n} rows, reference says {want} keys changed")
    if workload == "query_surface":
        bad += check_queries(con, os.path.join(in_dir, "q"), os.path.join(out_dir, "q"))
    con.close()
    return bad


def check_queries(con, q_dir, res_dir):
    """Each result against its DuckDB oracle (SparkEntry.oracleSql) over the
    same tables; queries without an oracle must return rows."""
    import pandas as pd
    for p in glob.glob(os.path.join(q_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(res_dir, "oracle_sql.json")))
    norm = lambda df: df.reindex(sorted(df.columns), axis=1).pipe(
        lambda d: d.sort_values(by=list(d.columns), ignore_index=True))
    bad = []
    for name in QUERY_SLICE:
        d = os.path.join(res_dir, name)
        if not os.path.isdir(d):
            bad.append(f"{name}: no result")
            continue
        got = pd.read_parquet(d)
        if name not in oracles:
            if len(got) == 0:
                bad.append(f"{name}: empty result (rows-only check)")
            continue
        g, e = norm(got), norm(con.execute(oracles[name]).df())
        if list(g.columns) != list(e.columns) or len(g) != len(e):
            bad.append(f"{name}: shape {list(g.columns)}x{len(g)} != oracle {list(e.columns)}x{len(e)}")
            continue
        for c in g.columns:
            a, b = g[c].astype(str).values, e[c].astype(str).values
            if (a != b).any():
                i = (a != b).argmax()
                bad.append(f"{name}.{c}[{i}]: spark={a[i]!r} duckdb={b[i]!r}")
                break
    return bad


# ---- run -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    stamp = build()
    sys.path.insert(0, HERE)

    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    shm_before = shm_leftovers()
    cpu0 = cpu_times()
    try:
        p = plan(a.workload, a.seconds)
        make_inputs(a.workload, a.seed, p, in_dir)
        n = cores()
        cmd = java([], os.path.join(work, "tmp")) + [a.workload, in_dir, work, str(a.trace), str(n)]
        budget = DEADLINE_S - (time.time() - started)
        try:
            r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=max(10, budget - 15))
        except subprocess.TimeoutExpired:
            log("workload exceeded its time budget")
            sys.exit(1)
        if r.returncode != 0:
            log(f"workload JVM exited with {r.returncode}")
            sys.exit(1)
        res = json.load(open(os.path.join(out_dir, "result.json")))
        failures = check(a.workload, in_dir, work)
        for f in failures:
            log("check failed: " + f)
        m = res["metrics"]
        leaked = shm_leftovers() - shm_before
        steal = steal_pct(cpu0, cpu_times())
        log(f"host steal {steal:.1f}% over the run"
            + (f" (above {HIGH_STEAL_PCT:g}%: wall-clock figures are suspect)" if steal > HIGH_STEAL_PCT else ""))
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "build": stamp, "cores": n, "heap_mb": heap_mb(), "steal_pct": steal,
                  "high_steal": steal > HIGH_STEAL_PCT,
                  "warmup": {"s": m.get("warmup_s"), "what": warmup_note(a.workload)},
                  "plan": p, "correct": not failures, "failures": failures,
                  "attempted": res["attempted"], "failed": res["failed"], "metrics": m}
        if a.trace:
            metrics = per_layer(record, len(leaked))
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            spans = os.path.join(out_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        else:
            metrics = {k: {"value": m[k], "unit": UNITS[k]} for k in END_TO_END}
        with open(os.path.join(STATE, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
    finally:
        # the program's own scratch outside the checkout (counted above)
        for d in shm_leftovers() - shm_before:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def warmup_note(workload):
    return {"cdc_replay": "one 50k-event segment replayed into a separate table",
            "tail_mixed": "one 1-segment Submit tail round on a separate table",
            "query_surface": "none: the cold pass is measured, then the warm passes"}[workload]


def per_layer(record, leaked):
    import layers
    vals = layers.collect(record["workload"], record["metrics"], record, leaked,
                          previous_untraced(record))
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def previous_untraced(traced):
    """throughput_per_s of the latest correct untraced run recorded in this
    checkout with the same workload, seed, --seconds and build as the
    traced run `traced`: the base of the tracing overhead."""
    path = os.path.join(STATE, "runs.jsonl")
    if not os.path.exists(path):
        return None
    same = ("workload", "seed", "seconds", "build")
    last = None
    for line in open(path):
        r = json.loads(line)
        if r["trace"] == 0 and r["correct"] and all(r.get(k) == traced[k] for k in same):
            last = r["metrics"].get("throughput_per_s")
    return last


if __name__ == "__main__":
    main()
