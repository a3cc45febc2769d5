#!/usr/bin/env python3
"""graft benchmark: builds the engine from this checkout, runs one
workload in a fresh JVM, checks every output, prints metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: aspep_etl, registry_mix (see perfbench/README.md). The
last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics; --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones. A traced run reports the gap
between its pass CPU and that of an untraced run of the same workload
as the tracing overhead: the last untraced run in this checkout if it
ran the same build with the same --seconds, else one it makes first
with the same seed. Earlier lines carry the host facts and every
failure with its reason.

Build outputs go to perfbench/target and perfbench/.build, run files
to perfbench/work/<workload>, span traces to perfbench/traces.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main"
BUILD = BENCH / ".build"
# the engine's sf0.001 test corpus (10 tables); registry_mix scales it 10x
CORPUS = BENCH / "data" / "sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORKLOADS = ("aspep_etl", "registry_mix")
HEAP = ["-Xms3g", "-Xmx3g"]  # fixed heap: the peak RSS does not follow heap resizing
RUN_LIMIT_S = 170  # every run must end within 180 s of its start (build excluded)

# operator modules of the registry_mix sample (graftbench.Main.registrySample)
MODULES = ("Ann", "Cdc", "Composite", "Dedup", "MultiDim", "Relational", "Sketch",
           "StarJoin", "Temporal", "TextAnalysis", "VectorOps")

END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("rss_peak_mb", "MB")]
PER_LAYER = (
    [("etl.read_s", "s")]
    + [(f"etl.{st}_{ph}_s", "s") for st in ("combine", "derive", "extended")
       for ph in ("build", "plan", "exec")]
    + [("etl.json_write_s", "s"), ("etl.json_mb", "MB"),
       ("etl.json_write_jobs", "count"), ("etl.json_write_stages", "count"),
       ("etl.parquet_write_s", "s"),
       ("operators.build_s", "s"), ("operators.plan_s", "s"),
       ("operators.exec_s", "s"), ("operators.cleanup_s", "s"),
       ("operators.leftover_mb", "MB")]
    + [(f"operators.{m}.{ph}_s", "s") for m in MODULES for ph in ("build", "exec")]
    + [("scaleup.build_s", "s")]
    + [(f"spark.{k}", u) for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"), ("input_mb", "MB"), ("output_mb", "MB"),
        ("result_mb", "MB"), ("peak_exec_mem_mb", "MB"),
        ("slot_idle_frac", "fraction"))]
    + [("bench.trace_overhead_frac", "fraction"), ("bench.calib_s", "s")]
)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# pass number of the registry's untimed warm-up pass, which writes the
# results for the strict compare (graftbench.Main.WarmupPass)
WARMUP_PASS = -2

# same rules as tools/check_oracle.py (strict mode)
BAD_TYPES = ("HUGEINT", "UHUGEINT", "TIMESTAMP", "TIMESTAMP_NS",
             "TIMESTAMP WITH TIME ZONE", "TIMESTAMP_S", "TIMESTAMP_MS")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, env, timeout, out):
    """Run cmd in its own process group; kill the group on timeout and
    wait until it has ended. Returns the exit code (None on timeout)."""
    with open(out, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE_SRC, BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt once per source state; returns
    the runtime classpath."""
    stamp = source_stamp()
    cp_file = BUILD / "classpath.txt"
    if (BUILD / "stamp").exists() and cp_file.exists() \
            and (BUILD / "stamp").read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("[perfbench] building engine and benchmark with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if "scala-library" in l and os.pathsep in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        log("\n".join(lines[-40:]))
        raise SystemExit("[perfbench] build failed")
    cp_file.write_text(cps[-1])
    (BUILD / "stamp").write_text(stamp)
    return cps[-1]


# --------------------------------------------------------------- oracle

def null_like(x):
    if x is None:
        return True
    try:
        return x != x
    except Exception:
        return False


def cells_equal(a, b):
    if null_like(a) and null_like(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    try:
        return bool(a == b)
    except Exception:
        return repr(a) == repr(b)


def norm(df):
    df = df[sorted(df.columns)]
    try:
        return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    except TypeError:  # unorderable cells (arrays): order by their text
        key = df.astype(str)
        return df.loc[key.sort_values(by=list(key.columns)).index].reset_index(drop=True)


def frames_equal(exp, got):
    if list(exp.columns) != list(got.columns):
        return f"columns oracle={list(exp.columns)} spark={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows oracle={len(exp)} spark={len(got)}"
    for c in exp.columns:
        a, b = exp[c].tolist(), got[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if not cells_equal(x, y):
                return f"row {i} col {c}: oracle={x!r} spark={y!r}"
    return None


class Oracle:
    """DuckDB over the corpus the run generated."""

    def __init__(self, corpus_dir, tmp):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '3GB'")
        self.con.execute(f"SET temp_directory = '{tmp}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet/*.parquet')")

    def result(self, sql):
        rel = self.con.sql(sql)
        bad = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
               if str(t).upper() in BAD_TYPES]
        if bad:
            raise ValueError(f"oracle type(s) that do not compare losslessly: {bad}")
        return rel.df()

    def spark_output(self, path):
        return self.con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def verify_queries(work, res, failures):
    """Row count of every operation against the oracle, and a strict
    full compare of the results the warm-up pass wrote. Returns
    failed op keys."""
    oracle_sql = json.loads((work / "check" / "oracle_sql.json").read_text())
    db = Oracle(work / "corpus", work / "tmp")
    expected_rows, bad = {}, set()
    for name in sorted({o["name"] for o in res["ops"]}):
        if name not in oracle_sql:
            continue
        try:
            exp = db.result(oracle_sql[name])
        except Exception as e:  # noqa: BLE001 - the reason is reported
            failures.append((name, WARMUP_PASS, f"oracle: {type(e).__name__}: {e}"))
            bad.add((name, WARMUP_PASS))
            continue
        expected_rows[name] = len(exp)
        out = work / "check" / name
        if out.is_dir():
            diff = frames_equal(norm(exp), norm(db.spark_output(out)))
            if diff:
                failures.append((name, WARMUP_PASS, f"strict compare: {diff}"))
                bad.add((name, WARMUP_PASS))
    check_rows = {o["name"]: o["rows"] for o in res["ops"]
                  if o["pass"] == WARMUP_PASS and not o["error"]}
    for o in res["ops"]:
        want = expected_rows.get(o["name"], check_rows.get(o["name"]))
        if not o["error"] and want is not None and o["rows"] != want:
            failures.append((o["name"], o["pass"], f"row count {o['rows']}, expected {want}"))
            bad.add((o["name"], o["pass"]))
    return bad


# -------------------------------------------------------------- metrics

def pass_cpu_s(res):
    """Median over the timed passes of the CPU the JVM spent in a pass,
    less that of its JIT compiler threads: compilation is most of a cold
    pass's CPU and varies from run to run with the host's load."""
    return statistics.median(p["cpu_s"] - p["jit_cpu_s"] for p in res["passes"])


def metrics(res, trace, untraced=None):
    """Metric table of one run; a traced run's overhead is its pass CPU
    against that of the untraced run made just before it."""
    if not trace:
        vals = {
            "setup_s": res["session_s"] + statistics.median(res["setup_s"]),
            "pass_cpu_s": pass_cpu_s(res),
            "rss_peak_mb": res["rss_peak_mb"],
        }
        table = END_TO_END
    else:
        vals = dict(res["layers"])
        vals["scaleup.build_s"] = statistics.median(res["scaleup_s"] or [0.0])
        vals["bench.calib_s"] = res["host"]["calib_s"]
        base = pass_cpu_s(untraced)
        vals["bench.trace_overhead_frac"] = (pass_cpu_s(res) - base) / base
        table = PER_LAYER
    return {name: {"value": float(vals.get(name, 0.0)), "unit": unit} for name, unit in table}


# ----------------------------------------------------------------- main

def run_jvm(args, cp, trace, work, deadline):
    """One benchmark JVM in `work`; returns its result document, or None
    if it failed (its log tail goes to stderr)."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + HEAP + [
        "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        # a fixed set of JIT compiler threads: none exits, so the CPU
        # they used can be taken out of the pass CPU (Main.jitCpuS)
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--corpus", str(CORPUS), "--out", "result.json"]
    # every scratch file of the run stays under its work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    rc = run_bounded(cmd, work, env, deadline - time.monotonic(), work / "jvm.log")
    if rc != 0 or not (work / "result.json").exists():
        log((work / "jvm.log").read_text()[-4000:])
        log(f"[perfbench] benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
        return None
    return json.loads((work / "result.json").read_text())


def evaluate(workload, work, res):
    """Failures of one run as (operation, pass, reason), and the set of
    failed (operation, pass) keys."""
    failures = [(o["name"], o["pass"], o["error"]) for o in res["ops"] if o["error"]]
    bad = {(o["name"], o["pass"]) for o in res["ops"] if o["error"]}
    for c in res["checks"]:
        if not c["ok"]:
            failures.append((c["op"], c["pass"], f"check {c['name']}: {c['detail']}"))
            bad.add((c["op"], c["pass"]))
    if workload != "aspep_etl":
        bad |= verify_queries(work, res, failures)
    return failures, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in (ENGINE_SRC / "scala" / "graft" / "SparkEntry.scala", CORPUS / "lineitem.parquet")
               if not p.is_file()]
    if missing:
        log(f"[perfbench] not found: {', '.join(map(str, missing))}")
        return 2
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S - 15

    # an untraced run leaves its result with this key; a traced run may
    # pair with it instead of making its own
    key = f"{source_stamp()} {args.seconds}"
    plain = BENCH / "work" / args.workload
    paired = None
    if args.trace and (plain / "done").is_file() and (plain / "done").read_text() == key:
        paired = json.loads((plain / "result.json").read_text())

    runs = []  # (work dir, result) of each JVM this invocation starts
    for trace in (0, 1) if args.trace and paired is None else (args.trace,):
        work = plain.with_name(args.workload + "_traced") if trace else plain
        res = run_jvm(args, cp, trace, work, deadline)
        if res is None:
            return 1
        if not trace:
            (work / "done").write_text(key)
        runs.append((work, res))
    work, res = runs[-1]
    if args.trace and paired is None:
        paired = runs[0][1]

    failures, bad, attempted = [], set(), 0
    for i, (w, r) in enumerate(runs):
        f, b = evaluate(args.workload, w, r)
        failures += f
        bad |= {(i,) + k for k in b}
        attempted += len(r["ops"])

    trace_file = work / f"trace_{args.workload}_{args.seed}.json"
    if trace_file.exists():
        (BENCH / "traces").mkdir(exist_ok=True)
        shutil.copy(trace_file, BENCH / "traces" / trace_file.name)

    print(json.dumps({"host": res["host"], "workload": args.workload, "seed": args.seed,
                      "pass_wall_s": [[p["s"] for p in r["passes"]] for _, r in runs],
                      "pass_all_cpu_s": [[p["cpu_s"] for p in r["passes"]] for _, r in runs],
                      "pass_jit_cpu_s": [[p["jit_cpu_s"] for p in r["passes"]] for _, r in runs],
                      "pass_cpu_s": [pass_cpu_s(r) for _, r in runs],
                      "untraced_pass_cpu_s": pass_cpu_s(paired) if paired else None,
                      "warmup_s": res["warmup_s"]}))
    for name, pass_no, why in failures:
        print(json.dumps({"failure": name, "pass": pass_no, "reason": why}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(bad),
                      "metrics": metrics(res, args.trace, paired)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
