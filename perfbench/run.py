#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload load_hourly --seed 1 --seconds 30 --trace 0

It builds the program and the benchmark driver with sbt (once per source
state), generates the seeded inputs, runs the JVM driver, checks every
measured pass's output with DuckDB, and prints the metrics. The last line
of standard output is the result object; the line before it is a report
with the figures that are not part of the result (sample count, tail
percentile, failed share, files written, drift).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import checks, gen, metrics, workloads  # noqa: E402

DEADLINE_S = 170
# input generation is repeated and its median reported
GENERATE_ROUNDS = 3
# task slots: at most four, and one core fewer than the box has, so the
# driver thread, the JIT compiler and the garbage collector do not queue
# behind the tasks for a core
CORES = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
# a fixed, pre-touched heap: garbage collection and page faults do not vary
# with heap resizing from run to run. The heap the program uses is read from
# GC notifications (heap_mb), not from the resident set.
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint(root):
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
            os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root, state_dir, deadline):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_path = os.path.join(state_dir, "build.stamp")
    cp_path = os.path.join(state_dir, "classpath.txt")
    stamp = source_fingerprint(root)
    if os.path.exists(cp_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(1, deadline - time.time()))
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith(os.sep) and "perfbench" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    with open(cp_path, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(classpath, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("JVM driver timed out")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM driver exited with {code}")


def corrupt(out_dir):
    """Self-test: drop one data file from a pass's output."""
    for d, _, fs in sorted(os.walk(out_dir)):
        for f in sorted(fs):
            if f.endswith(".parquet"):
                os.remove(os.path.join(d, f))
                return


def check_passes(workload, result, data_dir, work, corrupt_outputs):
    """Mark each measured pass failed or not; return (failed, problems)."""
    con = checks.connect()
    problems = []
    failed = 0
    if workload == "query_mix":
        checks.register_tables(con, data_dir)
        first = {q["name"]: q["hash"]
                 for q in (result["passes"][0]["queries"]
                           if result["passes"] else [])}
        wrong = set()
        for name, sql in sorted(result["oracle"].items()):
            qdir = os.path.join(work, "qres", name)
            if corrupt_outputs:
                corrupt(qdir)
            bad = checks.check_query(con, qdir, sql)
            if bad:
                wrong.add(name)
                problems.append(f"{name}: {bad[0]}")
        for p in result["passes"]:
            names = {q["name"] for q in p["queries"]}
            drifted = [q["name"] for q in p["queries"]
                       if q["hash"] != first.get(q["name"])]
            if (p["error"] or drifted or names & wrong
                    or names != set(workloads.QUERY_MIX)):
                failed += 1
                if p["error"] or drifted:
                    problems.append(f"pass {p['pass']}: "
                                    f"{p['error'] or 'hash drift ' + str(drifted)}")
    else:
        expected = checks.expected_digest(con, workload, data_dir)
        for p in result["passes"]:
            if corrupt_outputs:
                corrupt(p["out_dir"])
            bad = ([p["error"]] if p["error"] else
                   checks.check_load(con, workload, p["out_dir"], expected))
            if bad:
                failed += 1
                problems.append(f"pass {p['pass']}: {bad[0]}")
            shutil.rmtree(p["out_dir"], ignore_errors=True)
    con.close()
    return failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-test: damage every output before the checks")
    a = ap.parse_args()
    started = time.time()
    deadline = started + DEADLINE_S

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala not found)")
    if not os.path.isdir(gen.BASE_DIR):
        fail(f"seed tables not found at {gen.BASE_DIR}")

    state_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state_dir, exist_ok=True)
    classpath = build(root, state_dir, started + 850)
    deadline = max(deadline, time.time() + DEADLINE_S - 20)

    base = os.path.join(state_dir, a.workload)
    shutil.rmtree(base, ignore_errors=True)
    data_dir, work = os.path.join(base, "data"), os.path.join(base, "work")
    os.makedirs(work)

    generate_s = []
    for _ in range(GENERATE_ROUNDS):
        t0 = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed, data_dir)
        generate_s.append(time.perf_counter() - t0)
    tables = manifest["tables"]
    input_table = workloads.INPUT_TABLE[a.workload]
    counted = [input_table] if input_table else list(tables)
    input_rows = sum(tables[t]["rows"] for t in counted)
    input_bytes = sum(tables[t]["bytes"] for t in counted)

    jvm_args = ["--workload", a.workload, "--data", data_dir,
                "--work", work, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(CORES),
                "--out", os.path.join(work, "result.json")]
    if a.workload == "query_mix":
        jvm_args += ["--queries", ",".join(workloads.QUERY_MIX),
                     "--oracle", ",".join(workloads.ORACLE_CHECKED)]
    else:
        cfg = os.path.join(work, "config.json")
        with open(cfg, "w") as f:
            f.write(workloads.config_json(a.workload, data_dir))
        jvm_args += ["--config", cfg]
    run_jvm(classpath, work, jvm_args, deadline)
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)

    failed, problems = check_passes(a.workload, result, data_dir, work,
                                    a.corrupt == 1)
    figures, report = metrics.end_to_end(result, generate_s, input_rows,
                                         input_bytes, failed)
    if a.trace:
        values = metrics.per_layer(result, generate_s, input_rows,
                                   input_bytes, failed)
        units = dict(metrics.PER_LAYER)
    else:
        values, units = figures, dict(metrics.END_TO_END)
    report.update({"workload": a.workload, "seed": a.seed,
                   "input_rows": input_rows, "input_bytes": input_bytes,
                   "knobs": manifest["knobs"], "problems": problems[:10]})
    if a.trace:
        report.update(figures)
    for d in ("data", "work/out", "work/qres", "work/spark-local",
              "work/tmp", "work/warehouse"):
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(result["passes"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
