#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload per invocation.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds the engine and the benchmark from source
(perfbench/build.py), makes the workload's inputs from the seed, runs the
benchmark JVM (graft.perfbench.Runner) on local[nproc], checks every output
against a DuckDB replay, and prints one JSON object as the last line of
stdout. With --trace 0 it carries the end-to-end metrics, with --trace 1
the per-layer metrics of the traced passes. Everything it writes stays
under perfbench/.build, perfbench/.work and perfbench/.traces; the run's
working directory in .work is removed at the end unless PERFBENCH_KEEP_WORK
is set.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import sparkify  # noqa: E402

CORPUS = os.path.join(BENCH, "data", "sf0.01")
ORACLE_HASHES = os.path.join(BENCH, "oracle_hashes.json")
DEADLINE_S = 170
SETUP_REPS = 3

WORKLOADS = {
    "etl_sparkify": {},
    "iterative_ops": {"queries": ["q_unigram_stored", "q_bfs"]},
}

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END_UNITS = {"wall_s": "s", "cold_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

# Graft modules whose jobs are reported on their own; jobs of any other
# module count under "other", as do jobs with no graft frame in their call
# site (the execute().count() the benchmark itself starts, for one).
MODULES = ["Tables", "SparkEntry", "sources.ManifestTable", "sources.Sources",
           "etl.SparkifyEtl", "operators.Ngrams", "operators.Graphs", "other"]
ETL_TABLES = ["songs", "artists", "users", "time", "songplays"]
PER_LAYER = (
    ["traced.wall_s", "build.s", "build.jobs", "build.task_s", "plan.s", "plan.analysis_s",
     "plan.optimization_s", "plan.planning_s", "exec.s", "exec.jobs", "stages", "tasks",
     "task_run_s", "task_cpu_s", "gc_s", "parallel_eff", "driver_gap_s", "input_mb",
     "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb", "output_records",
     "opcaches.registered", "storage.peak_mb", "reconcile.err", "trace.overhead_s",
     "etl.infer_s", "etl.files_out", "etl.bytes_out_mb"]
    + [f"etl.{t}.{k}" for t in ETL_TABLES for k in ("write_s", "files")]
    + [f"{m}.{k}" for m in MODULES for k in ("jobs", "job_s")])
RECONCILE_LIMIT = 0.05


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def canonical(con, relation):
    """(row count, sorted column names, order-independent hash) of a
    relation: columns sorted by name, each value rendered as text with a
    NULL sentinel, per-row hashes summed mod 2^64. DECIMAL is compared by
    value and NaN counts as NULL, as the repo's oracle check does."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    exprs = []
    for name, typ, *_ in sorted(desc, key=lambda d: d[0]):
        c = '"' + name.replace('"', '""') + '"'
        if typ.startswith("DECIMAL"):
            c = f"CAST({c} AS DOUBLE)"
        if typ in ("DOUBLE", "FLOAT") or typ.startswith("DECIMAL"):
            c = f"CASE WHEN isnan({c}) THEN NULL ELSE {c} + 0.0 END"
        exprs.append(f"COALESCE(CAST({c} AS VARCHAR), chr(0) || 'NULL')")
    n, s = con.execute(
        f"SELECT count(*), sum(hash(concat_ws(chr(1), {', '.join(exprs)}))) FROM ({relation})"
    ).fetchone()
    return n, sorted(d[0] for d in desc), f"{int(s or 0) % (1 << 64):016x}"


def compare(label, got, want, problems):
    if got != want:
        problems.append(f"{label}: spark rows={got[0]} hash={got[2]} cols={got[1]} "
                        f"oracle rows={want[0]} hash={want[2]} cols={want[1]}")


def canonical_or_problem(con, label, relation, problems):
    try:
        return canonical(con, relation)
    except Exception as e:  # a relation that does not even load is a mismatch
        problems.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
        return None


def sql_digest(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def check_queries(check_dir, queries):
    """Spark's output of each query against its oracle SQL in DuckDB: the
    minted hash while the oracle SQL is unchanged, a live replay otherwise."""
    con = sparkify.connect(CORPUS)
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    minted = json.load(open(ORACLE_HASHES)) if os.path.exists(ORACLE_HASHES) else {}
    problems = []
    for q in queries:
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        if not files:
            problems.append(f"{q}: no output")
            continue
        got = canonical_or_problem(con, q, f"SELECT * FROM read_parquet({files!r})", problems)
        m = minted.get(q)
        if m and m["sql_sha256"] == sql_digest(oracle[q]):
            want = (m["rows"], m["cols"], m["hash"])
        else:
            want = canonical_or_problem(con, q, oracle[q], problems)
        if got and want:
            compare(q, got, want, problems)
    return problems


def check_etl(out_dir, input_dir):
    con = sparkify.connect(CORPUS)
    sparkify.register_oracle(con, input_dir)
    problems = []
    for t in ["songs", "artists", "users", "time", "songplays"]:
        pattern = os.path.join(out_dir, t, "**", "*.parquet")
        rel = f"SELECT * FROM read_parquet('{pattern}', hive_partitioning = true)"
        # Spark writes a NULL partition value as this directory name
        text = [d[0] for d in con.execute(f"DESCRIBE {rel}").fetchall() if d[1] == "VARCHAR"]
        if text:
            fix = ", ".join(f"NULLIF(\"{c}\", '__HIVE_DEFAULT_PARTITION__') AS \"{c}\"" for c in text)
            rel = f"SELECT * REPLACE ({fix}) FROM ({rel})"
        got = canonical_or_problem(con, t, rel, problems)
        want = canonical_or_problem(con, t, f"SELECT * FROM oracle_{t}", problems)
        if got and want:
            compare(t, got, want, problems)
    return problems


def java_cmd(classpath, work, args):
    cp = os.pathsep.join(classpath)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "graft.perfbench.Runner"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        run_all(args)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repo root: src/main/scala not found")
    if not glob.glob(os.path.join(CORPUS, "*.parquet")):
        fail(f"corpus missing under {CORPUS}")
    classpath = build.build(root)
    started = time.monotonic()  # the deadline covers the run, not the build

    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(BENCH, ".traces")
    os.makedirs(traces, exist_ok=True)
    spec = WORKLOADS[args.workload]
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", CORPUS, "--work", work, "--setup-reps", str(SETUP_REPS),
             "--result", os.path.join(work, "result.json"),
             "--spans", os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")]
    gen_times = []
    if args.workload == "etl_sparkify":
        input_dir = os.path.join(work, "input")
        for _ in range(SETUP_REPS):
            t = time.monotonic()
            inputs = sparkify.generate(CORPUS, input_dir, args.seed)
            gen_times.append(time.monotonic() - t)
        sys.stderr.write(f"perfbench: inputs {inputs}\n")
        # write the generated files back now, not during the cold pass
        os.sync()
        jargs += ["--songs", sparkify.song_glob(input_dir), "--logs", sparkify.log_glob(input_dir)]
    else:
        jargs += ["--queries", ",".join(spec["queries"])]

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        proc = subprocess.Popen(java_cmd(classpath, work, jargs), stdout=out, stderr=err,
                                env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM exceeded its deadline")
    if code != 0:
        tail = open(os.path.join(work, "jvm.err")).read()[-3000:]
        fail(f"benchmark JVM exited with {code}\n{tail}")
    res = json.load(open(os.path.join(work, "result.json")))

    if args.workload == "etl_sparkify":
        problems = check_etl(res["check_dir"], input_dir)
    else:
        problems = check_queries(res["check_dir"], spec["queries"])
    if args.trace:
        layers = per_layer(res["layers"])
        if layers["reconcile.err"] > RECONCILE_LIMIT:
            problems.append(f"build + plan + exec is off pass wall by {layers['reconcile.err']:.1%}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        setup = statistics.median(res["setup_session_s"]) + (
            statistics.median(gen_times) if gen_times else 0.0)
        values = {"wall_s": res["wall_s"], "cold_s": res["cold_s"],
                  "setup_s": setup, "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    if not os.environ.get("PERFBENCH_KEEP_WORK"):
        shutil.rmtree(work, ignore_errors=True)
    for p in problems + res["errors"]:
        sys.stderr.write(f"perfbench: {p}\n")
    sys.stderr.write(f"perfbench: untraced warm passes {res['warm_s']}\n")
    for k, m in metrics.items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    correct = not problems and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def run_all(args):
    """Runs every workload in turn, each in its own process, and prints
    their metrics prefixed by workload name."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode not in (0, 1) or not lines:
            fail(f"{w} produced no result")
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    sys.exit(0 if total["correct"] else 1)


def per_layer(raw):
    """The runner's layer values as the fixed PER_LAYER set: modules outside
    MODULES fold into other.*, and a layer a workload never touches is 0."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    for k, v in raw.items():
        if k not in out and (k.endswith(".jobs") or k.endswith(".job_s")):
            k = "other." + k.rsplit(".", 1)[1]
        if k in out:
            out[k] += v
    return out


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("parallel_eff", "reconcile.err"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
