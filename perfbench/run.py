#!/usr/bin/env python3
"""The repo benchmark: times the engine's declared queries from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while no
source changed. Each run then:

1. generates the tables (`datagen.py`, fixed data seed) under `.perfbench/`
   unless they are there; `--seed` fixes the query order of every pass;
2. starts one fresh JVM running `perfbench.Harness` with the workload's
   plan: a warm-up pass on small tables, then timed passes for `--seconds`;
3. checks the outputs: each query's first successful output against its
   DuckDB oracle (`SparkEntry.oracleSql`, compared by the rule of
   `tools/compare.py`), and every other output by fingerprint against it;
4. prints a detail line per failure, one summary line, and as the last
   line the result object. With `--trace 0` its metrics are the end-to-end
   ones, with `--trace 1` the per-layer ones from the span trace.

Run files (results, spans, logs) stay in `.perfbench/run-<workload>/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import report  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 150
# The tables are the same for every run; --seed orders the queries.
DATA_SEED = 42

# Query subsets per family, each a few of the family's operators: a pass
# must stay short enough for several timed passes inside one run.
APPLY = ["o1_apply_vec", "o1_apply_branchy", "k3_small_local"]
STREAM = ["stream_dedup", "stream_resample", "stream_weighted"]
CURATION = ["dedup_jaccard", "dedup_d4", "dedup_semantic", "sim_ivf_topk",
            "text_bm25", "text_quality"]
# Consumers of the trained-codebook memo (Similarity.bookMemo). Its key does
# not include the source files, so after the warm-up pass on the small tables
# they return codebooks trained on those: a known defect, left to show.
TRAINED = ["sim_pq_trained", "sim_ivf_trained"]

WORKLOADS = {
    "apply": {"entries": [(q, s) for s in ("sf0.1", "sf0.01") for q in APPLY],
              "clients": 1},
    "stream": {"entries": [(q, "sf0.1") for q in STREAM], "clients": 1},
    "curation": {"entries": [(q, "sf0.1") for q in CURATION], "clients": 1},
    # Not in BENCHMARK.json, whose workloads must not fail: this one shows
    # the known defects of several clients on one session. Each stream query
    # is queued twice per pass, so two clients can run the same operator at
    # once and collide on its fixed memory-sink name; the trained-codebook
    # consumers run after the warm-up filled their memo from other tables.
    "concurrent": {"entries": [(q, "sf0.1") for q in APPLY + CURATION + TRAINED
                               + STREAM + STREAM], "clients": None},
}
SCALES = {"sf0.1": 0.1, "sf0.01": 0.01, "warm": 0.001}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "--add-opens=java.management/sun.management=ALL-UNNAMED",
    "-XX:+UseTransparentHugePages", "-XX:ParallelGCThreads=4",
    "-XX:MaxGCPauseMillis=1000", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    n = os.cpu_count() or 1
    return max(1, min(n, int(os.environ.get("SPARK_GRAFT_CPUS", n))))


def build():
    """Compiles engine + harness unless a build of the same sources exists;
    returns the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a checkout root")
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        inputs += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["sources"] == h.hexdigest():
            return built["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"sources": h.hexdigest(), "classpath": lines[-1]}, f)
    return lines[-1]


def stage_tables(scales):
    """Generates each needed scale once; returns {scale: dir}."""
    dirs = {}
    for name in scales:
        dirs[name] = os.path.join(WORK, "data", name)
        datagen.write(dirs[name], SCALES[name], DATA_SEED)
    return dirs


def run_harness(classpath, plan_path, run_dir, args, clients):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}"] + JVM_OPTS +
           ["-cp", classpath, "perfbench.Harness", "--plan", plan_path,
            "--out", run_dir, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--clients", str(clients), "--cpus", str(cpus())])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness did not finish within {JVM_TIMEOUT_S}s; see {log.name}")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {code}")


def check_oracle(run_dir, dirs, refs):
    """label -> None when the reference output matches the DuckDB oracle
    exactly or closely (the rule of tools/compare.py), else the first line
    of the mismatch. `refs` maps label -> the reference's fingerprint.
    Verdicts are kept per (tables, oracle SQL, fingerprint), so an output
    already judged is not compared again."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    cache_path = os.path.join(WORK, "oracle-verdicts.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    h = hashlib.sha256()
    for path in (datagen.__file__, os.path.join(ROOT, "tools", "compare.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    verdict = {}
    cons = {}
    for label, fp in sorted(refs.items()):
        query, scale = label.split("@")
        files = sorted(glob.glob(os.path.join(run_dir, "ref", label, "*.parquet")))
        if query not in oracle_sql:
            verdict[label] = "no oracle SQL declared"
            continue
        if not files:
            verdict[label] = "no output"
            continue
        k = h.copy()
        k.update(f"{DATA_SEED}|{scale}|{oracle_sql[query]}".encode())
        known = cache.setdefault(k.hexdigest(), {})
        if fp not in known:
            known[fp] = oracle_verdict(cons, dirs[scale], oracle_sql[query], files)
        verdict[label] = known[fp]
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return verdict


def oracle_verdict(cons, table_dir, sql, files):
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import cmp, norm

    if table_dir not in cons:
        con = cons[table_dir] = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    try:
        ours = pd.concat([pd.read_parquet(f) for f in files])
        exact, close, msg = cmp(norm(ours), norm(cons[table_dir].execute(sql).fetchdf()))
        return None if exact or close else (msg.splitlines()[0] if msg else "mismatch")
    except Exception as e:  # noqa: BLE001 - any failure is a wrong result
        return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    clients = wl["clients"] or min(cpus(), 4)

    classpath = build()
    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    dirs = stage_tables(sorted({s for _, s in wl["entries"]} | {"warm"}))
    plan_path = os.path.join(run_dir, "plan.tsv")
    with open(plan_path, "w") as f:
        for q, scale in wl["entries"]:
            f.write(f"{q}\t{dirs[scale]}\t{dirs['warm']}\n")

    launched = time.time()
    run_harness(classpath, plan_path, run_dir, args, clients)
    harness_s = time.time() - launched
    with open(os.path.join(run_dir, "results.json")) as f:
        res = json.load(f)
    records, passes = res["records"], res["passes"]
    refs = {r["label"]: r["ref_fingerprint"] for r in records if r["ref_fingerprint"]}
    checked = time.time()
    bad = report.judge(records, check_oracle(run_dir, dirs, refs))
    oracle_s = time.time() - checked
    attempted = len(records)
    e2e, detail = report.end_to_end(records, passes)
    e2e["setup_s"] = res["first_timed_epoch_ms"] / 1e3 - launched
    e2e["retained_heap_mb"] = res["retained_heap_mb"]
    detail.update(workload=args.workload, seed=args.seed, clients=clients,
                  attempted=attempted, failed=len(bad),
                  fail_ratio=report.fail_ratio(attempted, len(bad)), harness_s=harness_s,
                  oracle_s=oracle_s, run_dir=run_dir)

    if args.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        layer = report.per_layer(spans, passes)
        metrics = {k: {"value": v, "unit": report.LAYER_UNITS[k]} for k, v in layer.items()}
        detail["spans"] = os.path.join(run_dir, "spans.jsonl")
    else:
        metrics = {k: {"value": v, "unit": report.END_TO_END_UNITS[k]} for k, v in e2e.items()}
    for b in bad:
        print(f"FAILED {b['label']} pass={b['pass']} client={b['client']}: {b['why']}")
    print(json.dumps({"detail": detail, "end_to_end": e2e}))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
