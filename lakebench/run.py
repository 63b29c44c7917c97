#!/usr/bin/env python3
"""Benchmark of record: builds the harness from source, runs one workload, checks it.

Run from the root of a checkout:

    python3 lakebench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: catalog_read, catalog_commit, sql_lakehouse, llm_operators.
The first run in a checkout compiles the repository's main sources together
with the harness (sbt, offline) into $CARGO_TARGET_DIR/lakebench (default
.bench_build/lakebench); later runs reuse that build while the sources are
unchanged. The last line of standard output is the result object; the line
before it is a summary under 2000 characters. Detail goes to lakebench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "lakebench"
WORKLOADS = ["catalog_read", "catalog_commit", "sql_lakehouse", "llm_operators"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[lakebench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input to the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, BENCH, "src"),
            os.path.join(root, BENCH, "build.sbt"), os.path.join(root, BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles once per source state; returns the runtime classpath."""
    target = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), BENCH)
    stamp_file = os.path.join(target, "stamp")
    cp_file = os.path.join(target, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    os.makedirs(target, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dlakebench.target={target}",
           "compile", "export Runtime/fullClasspath"]
    print("[lakebench] building (sbt compile) ...", file=sys.stderr)
    # offline resolution from the local caches, as the root build runs
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=os.path.join(root, BENCH), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
                          timeout=BUILD_TIMEOUT_S, env=env)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[") and ".jar" in ln]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[lakebench] built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_one(root, cp, args, workload):
    """Runs one workload in its own JVM; returns (summary line, result object)."""
    bench = os.path.join(root, BENCH)
    work = os.path.join(bench, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # no hsperfdata file: the run writes nothing outside the checkout
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j.configurationFile={os.path.join(bench, 'log4j2.properties')}",
        "-cp", cp, "lakebench.Main",
        "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", os.path.join(bench, "out"),
        "--expected", os.path.join(bench, "expected.json"), "--nproc", str(nproc()),
        "--tiny", "1" if args.tiny else "0", "--corrupt", "1" if args.corrupt else "0",
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-2000:])
        fail(f"{workload} exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"{workload} printed no result: {lines[-1][:200]}")
    summary = next((ln for ln in reversed(lines) if ln.startswith("LAKEBENCH ")), "")
    return summary, result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--corrupt", action="store_true", help="perturb one checked result (smoke test)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a repository checkout: src/main/scala/graft is missing")
    cp = build(root)

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        summary, result = run_one(root, cp, args, w)
        if len(workloads) > 1 or summary:
            print(summary)
        results[w] = result
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
