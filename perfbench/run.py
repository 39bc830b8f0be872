#!/usr/bin/env python3
"""Seeded benchmark of the graft engine, one workload per invocation.

    python3 perfbench/run.py --workload qa_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the harness together
with the engine sources (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The last line of standard output is one
JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). A wrong output makes
the exit code non-zero. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target", "pb-build")
WORKLOADS = ["qa_serve", "corpus_curate"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (SRC, os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source digest; return the runtime
    classpath and the digest's directory. The compiled classes are copied
    into a jar under the digest, so a later rebuild never changes the
    classes of a run in progress."""
    import fcntl
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        out = os.path.join(BUILD_DIR, digest[:16])
        cp_file = os.path.join(out, "classpath")
        if os.path.exists(cp_file):
            return open(cp_file).read().strip(), out
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
        if p.returncode != 0:
            log(p.stdout[-4000:])
            raise SystemExit("build failed")
        cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1]
        # the classes go into a jar: class-data sharing archives classes
        # from jars only
        classes = os.path.join(HERE, "target", "scala-2.13", "classes")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        jar = shutil.make_archive(os.path.join(out, "classes"), "zip", classes)
        os.replace(jar, os.path.join(out, "classes.jar"))
        cp = os.pathsep.join(os.path.join(out, "classes.jar") if e == classes else e
                             for e in cp.split(os.pathsep))
        with open(cp_file, "w") as f:
            f.write(cp)
        log(f"built in {time.time() - t0:.1f} s")
        return cp, out


def tree_mb(paths):
    total = 0
    for top in paths:
        for d, _, fs in os.walk(top):
            for f in fs:
                p = os.path.join(d, f)
                if os.path.isfile(p) and not os.path.islink(p):
                    total += os.path.getsize(p)
    return total / 1048576.0


def components_oracle(con, sql):
    """The q39 oracle, with its recursive min-label walk replaced by a
    union-find over the same pair set: the component of each document and
    its smallest member id, as the walk computes them, in a fraction of
    the time."""
    import pandas as pd
    cut = sql.find("ee AS (")
    if cut < 0:  # not the known shape: run the oracle as written
        return con.execute(sql).df()
    pairs = con.execute(sql[:cut].rstrip().rstrip(",") +
                        " SELECT u, v FROM allp").fetchall()
    docs = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return pd.DataFrame({"doc_id": docs, "rep_id": [find(d) for d in docs]})


def oracle_check(rec, work):
    """Compare each curation step's first result with its DuckDB oracle over
    the same generated parquet. Returns a list of (query, ok, detail)."""
    import duckdb
    import numpy as np
    import pandas as pd

    def norm(df):
        df = df[sorted(df.columns)]
        cols = {}
        for c in df.columns:
            col = df[c]
            if col.dtype == object:
                col = col.map(lambda v: tuple(np.asarray(v).tolist())
                              if isinstance(v, (list, np.ndarray)) else v)
            if str(col.dtype).startswith("float"):
                col = col.round(6)
            if str(col.dtype) in ("int8", "int16", "int32", "uint8", "uint16",
                                  "uint32", "uint64", "Int32", "Int64"):
                col = col.astype("int64")
            cols[c] = col
        df = pd.DataFrame(cols)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    con = duckdb.connect()
    d = rec["values"]["input_dir"]
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    out = []
    for q, sql in sorted(rec["values"]["oracle_sql"].items()):
        t0 = time.time()
        try:
            want = norm(components_oracle(con, sql) if q == "q39_dedup_clusters"
                        else con.execute(sql).df())
            got = norm(pd.read_parquet(os.path.join(work, "out", q)))
            ok = (list(want.columns) == list(got.columns) and len(want) == len(got)
                  and want.astype(str).equals(got.astype(str)))
            out.append((q, ok, f"rows {len(got)} vs oracle {len(want)}, "
                               f"{time.time() - t0:.1f} s"))
        except Exception as e:  # a failing oracle comparison is a wrong output
            out.append((q, False, repr(e)[:300]))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory and the raw record")
    args = ap.parse_args()
    if not os.path.isdir(SRC):
        raise SystemExit(f"engine sources not found under {SRC}")
    cp, out = build()
    work = os.path.join(HERE, "target", "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec_path = os.path.join(work, "record.json")
    # class-data sharing: the first run of a workload archives the classes
    # it loaded, later runs map them instead of loading them one by one
    jsa = os.path.join(out, f"{args.workload}.jsa")
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa)
           else [f"-XX:ArchiveClassesAtExit={jsa}.{os.getpid()}"])
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC"] + cds + [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dderby.system.home=" + os.path.join(work, "tmp")]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", rec_path])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        jvm_log, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        jvm_log, _ = proc.communicate()
        log(jvm_log[-3000:])
        raise SystemExit("run exceeded its time limit")
    if os.path.exists(f"{jsa}.{os.getpid()}"):
        os.replace(f"{jsa}.{os.getpid()}", jsa)
    if proc.returncode != 0 or not os.path.exists(rec_path):
        log(jvm_log[-6000:])
        if not os.path.exists(rec_path):
            raise SystemExit(f"harness exited {proc.returncode} without a record")
    log(f"jvm exited after {time.time() - t0:.1f} s")
    rec = json.load(open(rec_path))
    leftover = tree_mb([os.path.join(work, d) for d in ("warehouse", "local", "tmp")])

    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    oracle = oracle_check(rec, work) if "oracle_sql" in rec["values"] else []
    ops = rec["ops"]
    bad_ops = [o for o in ops if not o["extra"].get("ok")]
    oracle_bad = [q for q, ok, _ in oracle if not ok]
    # a wrong oracle result makes every operation that agreed with it wrong
    failed = len(ops) if oracle_bad else len(bad_ops)
    correct = rec["error"] is None and not failed_checks and failed == 0 and len(ops) > 0

    e2e = metrics.end_to_end(rec) if ops else {}
    layer = metrics.per_layer(rec, metrics.layer_files(SRC), leftover) if args.trace else {}
    log(f"workload={args.workload} seed={args.seed} cores={rec['cores']} "
        f"ops={len(ops)} wall={time.time() - t0:.1f}s setups={rec['setups_s']} "
        f"verify={rec['verify_s']:.1f}s jvm={rec['run_s']:.1f}s stop={rec['stop_s']:.1f}s "
        f"session={rec['session_start_s']:.1f}s")
    if ops:
        ms, p, n = metrics.op_tail(rec)
        log(f"op_tail_ms = {ms:.1f} ms: " + (f"p{p} of {n} operations" if p else
            f"the slowest of {n} operations (no ladder percentile has ten beyond)"))
    for c in failed_checks:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")
    for q, ok, detail in oracle:
        log(f"oracle {q}: {'ok' if ok else 'MISMATCH'} ({detail})")
    if rec["error"]:
        log(f"ERROR {rec['error']}")
    units = dict(metrics.END_TO_END) if not args.trace else dict(metrics.per_layer_names())
    values = e2e if not args.trace else layer
    for name, v in values.items():
        print(f"{name} = {v:.6g} {units[name]}")
    if args.keep:
        log(f"kept {work}")
    else:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct), "attempted": max(1, len(ops)), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
