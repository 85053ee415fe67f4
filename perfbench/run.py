#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload lake_sync|query_mix \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the benchmark JVM
(perfbench/build.sbt compiles graft's sources with the harness); later
runs reuse the build while the sources are unchanged. The run generates
its inputs from the seed under perfbench/out/, launches one JVM with
`local[nproc]`, and prints notes followed by one JSON result line.
With --trace 0 the result holds the end-to-end metrics, with --trace 1
the per-layer ones, and the spans go to perfbench/out/spans-*.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
TARGET = os.path.join(BENCH, "target")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("lake_sync", "query_mix")
TABLE_SF = 0.001      # query tables: the shapes of the sf0.001 test tables
LAKE_OBJECTS = 600    # lake_sync: objects in the initial lake
SETUPS = 3            # set-ups per run; setup_s is their median
JVM_HEAP = "2g"
RUN_LIMIT_S = 170     # a run, build excluded, ends within this


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def remove(path):
    shutil.rmtree(path, ignore_errors=True)


def workdir(name):
    path = os.path.join(OUT, f"work-{name}-{os.getpid()}")
    remove(path)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def _sources():
    for top in (GRAFT_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def _run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile graft and the harness with sbt, offline; return the classpath."""
    h = hashlib.sha256()
    for path in _sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # graft's own build names the directory of Spark's jars
        with open(os.path.join(ROOT, "build.sbt")) as f:
            jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        if jars:
            env["SPARK_HOME"] = os.path.dirname(jars.group(1))
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the benchmark JVM with sbt")
    with open(os.path.join(OUT, "build.log"), "w") as out:
        rc = _run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          840, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"build failed (rc={rc}); see {os.path.join(OUT, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
    "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
    "sun.security.action sun.util.calendar").split()]


def java(classpath, work, args, timeout, log_name):
    """Run graft.perfbench.Main with all scratch space inside `work`."""
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = ["java", f"-Xmx{JVM_HEAP}", *JDK17_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", classpath, "graft.perfbench.Main", *args]
    with open(os.path.join(OUT, log_name), "w") as err:
        rc = _run_bounded(cmd, timeout, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.exit(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
                 f"see {os.path.join(OUT, log_name)}")


def oracle_sql(classpath, work):
    """{key: DuckDB SQL} for every query_mix key."""
    path = os.path.join(work, "keys.json")
    java(classpath, work, ["keys", path], 120, "keys.log")
    with open(path) as f:
        return json.load(f)["oracle_sql"]


def query_inputs(classpath, work):
    """Write the tables and their expected digests; return the JVM's args."""
    import gen_tables
    import oracle
    tables = gen_tables.build(TABLE_SF)
    tables_dir = os.path.join(work, "tables")
    os.makedirs(tables_dir)
    gen_tables.write(tables, tables_dir)
    fp = gen_tables.fingerprint(tables)
    with open(os.path.join(BENCH, "expected.json")) as f:
        expected = json.load(f)
    if expected["fingerprint"] != fp:
        cached = os.path.join(OUT, f"expected-{fp[:16]}.json")
        if not os.path.exists(cached):
            log("generated tables differ from expected.json's; recomputing the oracle")
            digests = oracle.compute(tables_dir, oracle_sql(classpath, work), gen_tables.TABLES)
            with open(cached, "w") as f:
                json.dump({"fingerprint": fp, "digests": digests}, f, indent=1, sort_keys=True)
        with open(cached) as f:
            expected = json.load(f)
    digests = os.path.join(work, "expected.tsv")
    with open(digests, "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in sorted(expected["digests"].items()))
    return ["--tables", tables_dir, "--expected", digests]


def lake_inputs(work, seed, seconds):
    """Generate the lake SETUPS times; return its dirs, plan and median time."""
    import gen_lake
    lake_dir = os.path.join(work, "lake")
    times = []
    for _ in range(SETUPS):
        remove(lake_dir)
        t0 = time.perf_counter()
        lake = gen_lake.Lake(seed, LAKE_OBJECTS)
        gen_lake.write_files(lake, lake_dir)
        times.append(time.perf_counter() - t0)
    # enough cycles for the warm-up and a traced run's double window at
    # four cycles a second
    lake.plan_cycles(10 + 8 * seconds)
    plan = os.path.join(work, "plan.tsv")
    gen_lake.write_plan(lake, plan)
    return ["--lake", lake_dir, "--state", os.path.join(work, "state"), "--plan", plan,
            "--gen-setup-s", repr(statistics.median(times))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        sys.exit(f"graft sources not found under {GRAFT_SRC}; run from a graft checkout")
    sys.path.insert(0, BENCH)
    classpath = build()
    started = time.monotonic()
    work = workdir(f"{a.workload}-{a.seed}")
    try:
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", os.path.join(work, "result.txt"),
                "--spans", os.path.join(OUT, f"spans-{tag}.json")]
        if a.workload == "lake_sync":
            args += lake_inputs(work, a.seed, a.seconds)
        else:
            args += query_inputs(classpath, work)
        budget = RUN_LIMIT_S - (time.monotonic() - started)
        java(classpath, work, args, budget, f"jvm-{tag}.log")
        with open(os.path.join(work, "result.txt")) as f:
            lines = f.read().splitlines()
    finally:
        remove(work)
    for line in lines[:-1]:
        print(line.lstrip("# "))
    if a.trace:
        print(f"spans: {os.path.relpath(os.path.join(OUT, f'spans-{tag}.json'), ROOT)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
