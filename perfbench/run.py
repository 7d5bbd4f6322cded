#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from source, runs
one workload in a fresh JVM, checks every output against an independent
reference, and prints one JSON result line.

    python3 perfbench/run.py --workload <stream-window|batch-mix|corpus-admit>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. `--trace 0` reports the end-to-end metrics of
BENCHMARK.json, `--trace 1` the per-layer ones: a layer the workload never
enters reads 0, and one it enters but did not report fails the run. See
perfbench/README.md for what each workload and metric is.
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
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src" / "main" / "scala"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
BUILD = Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build").resolve() / "perfbench"
WORKLOADS = ("stream-window", "batch-mix", "corpus-admit")
# tables staged before the JVM starts: (scale factor, tables)
STAGED = {"batch-mix": (0.005, gen.TABLES), "corpus-admit": (0.03, ["documents"])}
JVM_TIMEOUT_S = 165
STAGE_ROUNDS = 5  # Main.SetupRounds
# Spark 4 on JDK 17 outside spark-submit; build.sbt here reads the same list
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED"
             for p in (HERE / "jvm-add-opens.txt").read_text().split()]
# The per-layer metrics each workload reports; a traced run that misses one
# fails. The others read 0: a layer the workload never enters.
OWNS = {
    "stream-window": ("api.", "sources.latestOffset_ms", "sources.self_ms", "streaming.",
                      "state.", "sink.", "gen.", "scale.", "jvm.gc_ms"),
    "batch-mix": ("ops.", "sources.input_bytes", "sources.self_ms", "plans.", "functions.",
                  "jvm.gc_ms"),
    "corpus-admit": ("core.", "jvm.gc_ms"),
}
ALWAYS = ("traced.", "run.leftover_bytes")
# host-timed figures every workload reports in the traced run, as
# traced.<name> beside the end-to-end metrics (README: why they are not gated)
HOST_TIMED = ("cpu_s", "wall_s", "latency_p50_ms", "latency_p90_ms")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def scala_sources(root):
    return sorted(root.rglob("*.scala"))


def compile_stage(name, srcs, classpath):
    """Compile `srcs` into BUILD/<name> with the Scala compiler Spark ships,
    unless the sources (and what they compile against) are unchanged.

    Not sbt: sbt keeps its launcher, dependency and compiler caches and a
    server socket under the home directory, and a run may write only inside
    the checkout; its start-up alone also takes tens of seconds per run.
    build.sbt builds the same sources for the benchmark's own tests."""
    h = hashlib.sha256("\n".join(map(str, classpath)).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / name
    stamp = BUILD / f"{name}.stamp"
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return out
    log(f"compiling {len(srcs)} {name} sources")
    t0 = time.time()
    tmp = BUILD / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / f"{name}.sources"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs))
    cp = ":".join(map(str, classpath))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        sys.exit(f"perfbench: {name} compile failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(h.hexdigest())
    log(f"compiled {name} in {time.time() - t0:.1f} s")
    return out


def build():
    """The engine from the repo's sources, then the benchmark against it;
    returns the run classpath."""
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    jars = f"{SPARK_JARS}/*"
    engine = compile_stage("engine", scala_sources(ENGINE_SRC), [jars])
    bench = compile_stage("bench", scala_sources(BENCH_SRC), [engine, jars])
    return f"{bench}:{engine}:{jars}"


def run_jvm(classpath, args, run_dir):
    cmd = ["java", "-Xmx3g", "-Xss8m", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.local.dir={run_dir / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", str(run_dir)]
    (run_dir / "tmp").mkdir(parents=True)
    with open(run_dir / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    lines = (run_dir / "jvm.log").read_text(errors="replace").splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        sys.exit(f"perfbench: JVM exited with {rc}")
    return json.loads((run_dir / "result.json").read_text())


def check_batch_mix(run_dir):
    """Each timed-pass result against DuckDB on the query's oracle SQL over
    the same generated parquet, with local_verify.py's normalisation: columns
    by name, rows sorted, values exact (NaN equal to NaN). An oracle column
    Spark cannot emit (HUGEINT, DECIMAL) is a failure, as there."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from local_verify import TABLES, norm_rows
    con = duckdb.connect()
    for t in TABLES:
        p = run_dir / "data" / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, sql in json.loads((run_dir / "oracle.json").read_text()).items():
        orel = con.sql(sql)
        huge = [c for c, t in zip(orel.columns, orel.types) if "HUGEINT" in str(t) or "DECIMAL" in str(t)]
        if huge:
            bad.append(f"{name}: oracle columns Spark cannot emit: {huge}")
            continue
        out = run_dir / "out" / name
        if not out.exists():
            continue  # the JVM already counted the failure
        want_cols, want = norm_rows(list(orel.columns), orel.fetchall())
        srel = con.sql(f"SELECT * FROM '{out}/*.parquet'")
        got_cols, got = norm_rows(list(srel.columns), srel.fetchall())
        if got_cols != want_cols:
            bad.append(f"{name}: columns {got_cols} vs oracle {want_cols}")
        elif got != want:
            diff = sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))
            bad.append(f"{name}: {diff} of {len(want)} rows differ from the oracle")
    return bad


def check_corpus_admit(run_dir):
    """Every read against the admission oracle (admissionOraclePrefixOver)
    over the corpus prefix its ledger batch, or savepoint, covers."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{run_dir / 'data' / 'documents.parquet'}'")
    oracle = json.loads((run_dir / "oracle_admit.json").read_text())
    con.execute(f"CREATE TABLE admitted AS {oracle['admitted']}")
    want = {}
    bad = []
    for line in (run_dir / "reads.jsonl").read_text().splitlines():
        r = json.loads(line)
        b = str(r["batch"])
        if b not in want:
            sql = (f"WITH a AS (SELECT * FROM admitted WHERE doc_id < {oracle['bounds'][b]})"
                   + oracle["answers"])
            want[b] = sorted(tuple(x) for x in con.sql(sql).fetchall())
        got = sorted(tuple(x) for x in r["rows"])
        if got != want[b]:
            n_got = sum(x[1] for x in got)
            n_want = sum(x[1] for x in want[b])
            bad.append(f"{r['kind']} at batch {b}: n_docs {n_got} vs oracle {n_want}")
    return bad


def dir_bytes(path, skip=()):
    total = 0
    for p in path.rglob("*"):
        if p.is_file() and not p.is_symlink() and not any(p.is_relative_to(s) for s in skip):
            total += p.stat().st_size
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath = build()
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        # staged as often as the JVM sets up; the median joins its set-up time
        staging = 0.0
        if args.workload in STAGED:
            sf, tables = STAGED[args.workload]
            times = []
            for _ in range(STAGE_ROUNDS):
                t0 = time.time()
                gen.stage(run_dir / "data", args.seed, sf, tables)
                times.append(time.time() - t0)
            staging = statistics.median(times)
        t0 = time.time()
        res = run_jvm(classpath, args, run_dir)
        res["metrics"]["setup_s"]["value"] += staging
        t1 = time.time()
        wrong = []
        if args.workload == "batch-mix":
            wrong = check_batch_mix(run_dir)
        elif args.workload == "corpus-admit":
            wrong = check_corpus_admit(run_dir)
        log(f"staging {staging:.1f} s, engine run {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
        for w in wrong:
            log(f"check failed: {w}")
        failed = res["failed"] + len(wrong)
        # what the run left behind besides its inputs and the checked outputs
        keep = [run_dir / d for d in ("data", "out", "drain-in")] + \
            [p for p in run_dir.iterdir() if p.suffix in (".json", ".jsonl", ".log")]
        leftover = dir_bytes(run_dir, keep)
        if leftover:
            log(f"run left {leftover} bytes behind")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    got = res["metrics"]
    if args.trace:
        got["run.leftover_bytes"] = {"value": leftover, "unit": "bytes"}
        for name in [m["name"] for m in spec["end_to_end"]] + list(HOST_TIMED):
            if name in got:
                got[f"traced.{name}"] = got[name]
        want = spec["per_layer"]
    else:
        want = spec["end_to_end"]
    metrics = {}
    for m in want:
        name = m["name"]
        v = got.get(name)
        if v is None:
            owned = not args.trace or name.startswith(OWNS[args.workload] + ALWAYS)
            if owned:
                sys.exit(f"perfbench: {args.workload} did not report {name}")
            v = {"value": 0.0, "unit": m["unit"]}  # a layer this workload never enters
        if v["unit"] != m["unit"]:
            sys.exit(f"perfbench: {name} reported in {v['unit']}, not {m['unit']}")
        if v["value"] is None or not math.isfinite(v["value"]):
            sys.exit(f"perfbench: {name} is not a number: {v['value']}")
        metrics[name] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and bool(res["attempted"]),
                      "attempted": max(1, res["attempted"]), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
