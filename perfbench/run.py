#!/usr/bin/env python3
"""The benchmark's one command. See perfbench/README.md.

  python3 perfbench/run.py --workload interactive|corpus|ingest \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
one JVM with `local[nproc]`, and prints one JSON object as the last line of
standard output. Everything the run writes goes under one temp root inside
the checkout, deleted at the end; the per-request trace of a traced run
goes to .bench_out/.

  python3 perfbench/run.py --selftest   the benchmark's own tests
  python3 perfbench/run.py --record     re-record expected digests; they
                                        are kept only if the DuckDB oracle
                                        (scripts/oracle_check.py) passes

Env: PERFBENCH_DATA  fixture directory (default: the sf0.1 directory that
                     TESTDATA.md names)
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
EXPECTED = os.path.join(HERE, "expected.json")
# what the benchmark itself leaves in a checkout; the tree check skips it
OWN = {".bench_build", ".bench_tmp", ".bench_out", ".git"}
JVM_TIMEOUT_S = 165

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def data_dir():
    """The sf0.1 fixtures: PERFBENCH_DATA, else the directory TESTDATA.md lists."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: TESTDATA.md names no sf0.1 directory; set PERFBENCH_DATA")
    return m.group(1).rstrip("/")


def tree_state():
    state = {}
    for d, dirs, files in os.walk(ROOT):
        if d == ROOT:
            dirs[:] = [x for x in dirs if x not in OWN]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            state[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return state


def jvm(classpath, tmp, main, args, timeout):
    """Run one benchmark JVM with its cwd and every temp dir under tmp."""
    for sub in ("java", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    cmd = ["java", *OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}/java", f"-Dspark.local.dir={tmp}/local",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false",
           "-cp", classpath, main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    return subprocess.run(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True, timeout=timeout)


def run(a, classpath, data):
    if not os.path.isdir(data):
        raise SystemExit(f"perfbench: fixture directory {data} is missing")
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out", f"trace-{a.workload}-seed{a.seed}.json")
    before = tree_state()
    try:
        p = jvm(classpath, tmp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--tmp", tmp,
            "--expected", EXPECTED, "--out", out], JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = p.stdout.splitlines()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line, file=sys.stderr)
    results = [x for x in lines if x.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not results:
        raise SystemExit(f"perfbench: run failed (exit {p.returncode})")
    result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    after = tree_state()
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    if changed:
        print(f"perfbench: the run changed the working tree: {changed[:10]}", file=sys.stderr)
        result["correct"] = False
    if a.trace:
        print(f"perfbench: per-request trace in {os.path.relpath(out, ROOT)}", file=sys.stderr)
    print(json.dumps(result))


def record(classpath, data):
    tmp = os.path.join(ROOT, ".bench_tmp", f"record-{os.getpid()}")
    try:
        dump = os.path.join(tmp, "dump")
        p = jvm(classpath, tmp, "perfbench.Record", ["--data", data, "--out", dump], 1800)
        if p.returncode != 0:
            raise SystemExit("perfbench: recording failed")
        oracle = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
                                 data, dump])
        if oracle.returncode != 0:
            raise SystemExit("perfbench: the DuckDB oracle rejected the answers; digests not kept")
        shutil.copyfile(os.path.join(dump, "expected.json"), EXPECTED)
        print(f"perfbench: wrote {os.path.relpath(EXPECTED, ROOT)}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["interactive", "corpus", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    classpath = build.build()
    if a.selftest:
        r = subprocess.run(["java", "-cp", classpath, "perfbench.SelfTest"])
        sys.exit(r.returncode)
    if a.record:
        record(classpath, data_dir())
        return
    if not a.workload:
        ap.error("--workload is required")
    run(a, classpath, data_dir())
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    if os.path.isdir(tmp_root) and not os.listdir(tmp_root):
        os.rmdir(tmp_root)


if __name__ == "__main__":
    main()
