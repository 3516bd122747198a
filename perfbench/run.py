#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <cdc_drain|star_queries|curate_turns|all> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into perfbench/target; later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
(perfbench/gen.py) under perfbench/.work, the workload runs in one JVM on the
engine's local session, and every output is checked. The last line of stdout
is {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced pass with --trace 1. `all` runs
the three workloads in turn, one result line each.

    python3 perfbench/run.py --self-test

feeds each correctness check a deliberately corrupted result and exits
non-zero unless every check rejects it, and generates each workload's
inputs twice to show that the same seed gives byte-identical files. Every
run also makes the corrupted-result checks of its own workload.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("cdc_drain", "star_queries", "curate_turns")
DEADLINE_S = 170
BUILD_DIR = os.path.join(HERE, "target")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --------------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def spark_home():
    """The Spark distribution to compile against: $SPARK_HOME, else the first
    spark-submit on PATH that sits in a distribution (has jars/spark-core_*)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark distribution: set SPARK_HOME or put its bin/ on PATH")


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft: "
             "run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    stamp = os.path.join(BUILD_DIR, "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["key"] == key and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()  # the build compiles against its jars/
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building the engine and the harness (sbt, offline)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln.endswith(".jar") or "classes" in ln]
    if not lines:
        fail("build printed no classpath")
    classpath = [e for e in lines[-1].strip().split(os.pathsep) if e]
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"key": key, "classpath": classpath}, fh)
    log(f"built in {time.time() - t:.0f} s")
    return classpath


# --------------------------------------------------------------------- setup

def tree_digest(path):
    h = hashlib.sha256()
    for d, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(d, n)
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, seconds, work):
    """Generates the inputs; returns (input dir, seconds taken)."""
    out = os.path.join(work, "inputs")
    t = time.perf_counter()
    gen.generate(workload, seed, seconds, out)
    return out, time.perf_counter() - t


# ------------------------------------------------------------------- checks

def oracle_check(sf_dir, results, report=True):
    """Runs the repository's DuckDB oracle compare; True when every query passes."""
    if not os.path.exists(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("tools/check_oracle.py is missing: run from a full checkout of the repository")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        sf_dir, results], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    tail = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 and report:
        log("\n".join(ln for ln in p.stdout.splitlines() if ln.startswith(("FAIL", "  "))))
    return p.returncode == 0, tail


def corrupt_star_result(results, bad):
    """Copies one query's result with one value changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    name = sorted(oracle)[0]
    table = pq.read_table(os.path.join(results, name))
    col = next(i for i, f in enumerate(table.schema)
               if pa.types.is_integer(f.type) or pa.types.is_floating(f.type))
    values = table.column(col).to_pylist()
    values[0] = (values[0] or 0) + 1
    table = table.set_column(col, table.schema.field(col), pa.array(values, table.schema.field(col).type))
    os.makedirs(os.path.join(bad, name))
    pq.write_table(table, os.path.join(bad, name, "part-0.parquet"))
    with open(os.path.join(bad, "oracle_sql.json"), "w") as fh:
        json.dump({name: oracle[name]}, fh)


# the star schema each workload's contract queries read
STAR_DIRS = {"star_queries": "star", "cdc_drain": "cdc_star"}


def star_checks(workload, inputs, work):
    if workload not in STAR_DIRS:
        return []
    sf_dir = os.path.join(inputs, STAR_DIRS[workload])
    results = os.path.join(work, "results")
    ok, tail = oracle_check(sf_dir, results)
    bad = os.path.join(work, "corrupted")
    corrupt_star_result(results, bad)
    bad_ok, _ = oracle_check(sf_dir, bad, report=False)
    return [{"name": "oracle", "ok": ok, "detail": tail},
            {"name": "oracle.self_test", "ok": not bad_ok,
             "detail": "a result with one value changed must fail the oracle compare"}]


# ---------------------------------------------------------------------- run

def run_jvm(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", os.pathsep.join(classpath),
              "graftbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("the workload ran past its deadline", 1)
    if proc.returncode != 0:
        fail(f"the workload JVM exited with {proc.returncode}", 1)
    lines = [ln for ln in out.splitlines() if ln.startswith("GRAFTBENCH_RESULT ")]
    if not lines:
        fail("the workload printed no result", 1)
    return json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])


def tail_percentile(n):
    """The highest whole percentile with at least 10 ops beyond it; a run
    with fewer than 40 ops keeps a quarter of them (at least one) beyond."""
    beyond = max(1, min(10, n // 4))
    return math.floor(100 * (n - beyond) / n) if n > 1 else 100


def nearest_rank(values, p):
    s = sorted(values)
    return s[max(math.ceil(p / 100 * len(s)) - 1, 0)]


def per_layer_units():
    """Name → unit of every per-layer metric `BENCHMARK.json` lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    return max(run(w, a.seed, a.seconds, a.trace) for w in workloads)


def run(workload, seed, seconds, trace):
    """One workload, one seed: prints the result line, returns the exit code."""
    start = time.time()
    classpath = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, gen_s = generate(workload, seed, seconds, work)
    r = run_jvm(classpath, ["--workload", workload, "--trace", str(trace),
                            "--inputs", inputs, "--work", work], work, deadline)
    checks = (r["checks"] + r.get("traced", {}).get("checks", [])
              + star_checks(workload, inputs, work))
    correct = all(c["ok"] for c in checks)
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    ops = r["ops_ms"]
    attempted = len(ops) + int(r.get("traced", {}).get("ops", 0))
    failed = int(r["failed_ops"]) + int(r.get("traced", {}).get("failed_ops", 0))
    if not correct:
        failed = attempted
    if trace:
        values = r["traced"]["metrics"]
        units = per_layer_units()
        missing = [n for n in units if n not in values]
        if missing:
            fail(f"the traced pass did not report {missing}", 1)
        metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
        log(f"spans: {os.path.relpath(os.path.join(work, 'spans.json'), ROOT)}; "
            f"tracing overhead {values['trace.overhead_ratio']:.3f}x")
    else:
        p = tail_percentile(len(ops))
        setup = gen_s + r["session_s"] + r["prepare_s"] + r["warmup_s"]
        metrics = {
            "setup_s": {"value": setup, "unit": "s"},
            "wall_s": {"value": r["wall_s"], "unit": "s"},
            "op_ms_p50": {"value": statistics.median(ops), "unit": "ms"},
            "op_ms_tail": {"value": nearest_rank(ops, p), "unit": "ms"},
            "stored_bytes_per_row": {"value": r["metrics"]["stored_bytes_per_row"],
                                     "unit": "B/row"},
        }
        print(f"{workload}: op_ms_tail is p{p} over n={len(ops)} ops; "
              f"failed_ops_ratio {failed / max(attempted, 1):.4f}; "
              f"setup = generate {gen_s:.2f} s + session {r['session_s']:.2f} s "
              f"+ prepare {r['prepare_s']:.2f} s + warm-up {r['warmup_s']:.2f} s; "
              f"peak RSS {r['rss_peak_mb']:.0f} MB")
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    # the inputs and table state are large; keep the result and the spans
    for d in os.listdir(work):
        if d not in ("spans.json",):
            path = os.path.join(work, d)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh)
    log(f"done in {time.time() - start:.1f} s")
    print(json.dumps(result))
    return 0 if correct else 1


def self_test():
    """Every check must reject a corrupted result, and the generator must
    give byte-identical inputs for the same seed. The checks of each
    workload run against corrupted results inside every run; this runs one
    short run per workload and reports those self-tests."""
    classpath = build()
    ok = True
    for w in WORKLOADS:
        work = os.path.join(HERE, ".work", f"self-test-{w}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        inputs, _ = generate(w, 1, 4, work)
        again = os.path.join(work, "inputs-again")
        gen.generate(w, 1, 4, again)
        same = tree_digest(inputs) == tree_digest(again)
        shutil.rmtree(again)
        log(f"{w}: generator: {'byte-identical' if same else 'DIFFERENT'} inputs for one seed")
        ok &= same
        r = run_jvm(classpath, ["--workload", w, "--trace", "0", "--inputs", inputs,
                                "--work", work], work, time.time() + DEADLINE_S)
        checks = r["checks"] + star_checks(w, inputs, work)
        for c in checks:
            if c["name"].endswith(".self_test"):
                log(f"{w}: {c['name']}: {'rejected' if c['ok'] else 'ACCEPTED'} — {c['detail']}")
                ok &= c["ok"]
        shutil.rmtree(work)
    log("every check rejects its corrupted result" if ok else "a check accepted a corrupted result")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
