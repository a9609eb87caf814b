#!/usr/bin/env python3
"""The graft benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt, offline, and runs the self-test once
to archive the classes it loads; later runs reuse that build while no
source file changed. The JVM prints a human-readable summary,
writes one run record under perfbench/.work/records/, and prints the
result as its last stdout line, which this script relays last. The exit
code is nonzero when the build fails, the run fails, or an output check
fails.
"""
import argparse
import hashlib
import json
import os
import signal
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
WORKLOADS = ("retention_delta", "registry_queries")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The module opens that Spark's own launcher passes to JDK 17; a bare
# `java` launch needs them too.
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no program sources here (build.sbt, src/main): nothing to build")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest.hexdigest():
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    # Offline only: the build resolves from the local caches and never
    # from the network.
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts + ["-Xmx2g", "-XX:-UsePerfData"]))
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}")
    lines = log.read_text().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    # Class-data sharing needs every classpath entry to be a jar.
    jars, dirs = [], []
    for entry in cps[-1].split(os.pathsep):
        (jars if entry.endswith(".jar") else dirs).append(entry)
    bench_jar = WORK / "perfbench.jar"
    with zipfile.ZipFile(bench_jar, "w") as z:
        for d in dirs:
            for f in sorted(Path(d).rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(d).as_posix())
    cp = os.pathsep.join(jars + [str(bench_jar)])
    # JVM class-data sharing: one self-test archives the classes it
    # loads, and every run after the build starts from that archive
    # instead of loading thousands of Spark classes one by one. The
    # self-test's verdict does not matter here; each run checks its own
    # outputs.
    archive = WORK / "classes.jsa"
    archive.unlink(missing_ok=True)
    launch(cp, ["--selftest", "1"], "archive", [f"-XX:ArchiveClassesAtExit={archive}"])
    cp_file.write_text(cp)
    stamp.write_text(digest.hexdigest())
    return cp


def heap():
    """The heap rule of the repository's test command: half of physical memory, within 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def launch(cp, args, tag, jvm_opts=None):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    archive = WORK / "classes.jsa"
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else []
    cmd = (["java"] + OPENS + jvm_opts + [
        "-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:-UsePerfData",
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.heap={heap()}",
        "-cp", cp, "graft.perfbench.Main", "--work", str(WORK),
        "--bench", str(BENCH), "--cpus", str(len(os.sched_getaffinity(0)))] + args)
    err_path = logs / f"{tag}.stderr"
    with open(err_path, "w") as err:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped; see {err_path}", 3)
    return proc.returncode, out, err_path


def record_expected(cp):
    """Records the query outputs, then stamps each with the verdict of
    the DuckDB oracle (the program's tools/check.py) on the same fixture."""
    out = WORK / "oracle_out"
    rc, text, err_path = launch(cp, ["--record-expected", str(out)], "record_expected")
    sys.stdout.write(text)
    if rc != 0:
        fail(f"recording failed (exit {rc}); see {err_path}", rc)
    check = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"),
                            str(BENCH / "fixture" / "sf0.01"), str(out)],
                           capture_output=True, text=True)
    sys.stdout.write(check.stdout)
    verdicts = {}
    for line in check.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name, _, why = rest.partition(":")
            verdicts[name.split(" ")[0]] = "pass" if word == "PASS" else "fail:" + why.strip()[:200]
    path = BENCH / "expected" / "queries.json"
    expected = json.loads(path.read_text())
    for q in expected["queries"].values():
        q["oracle"] = verdicts.get(q["oracle_query"], "not checked")
    path.write_text(json.dumps(expected, indent=1) + "\n")
    bad = [n for n, q in expected["queries"].items() if q["oracle"] != "pass"]
    print(f"oracle: {len(expected['queries']) - len(bad)}/{len(expected['queries'])} agree"
          + (f"; disagree: {', '.join(bad)}" if bad else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-expected", action="store_true",
                    help="re-record expected/queries.json and cross-check it with tools/check.py")
    args = ap.parse_args()
    if not (args.selftest or args.record_expected) and args.workload is None:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    WORK.mkdir(parents=True, exist_ok=True)
    cp = build()
    if args.record_expected:
        record_expected(cp)
        return
    if args.selftest:
        rc, out, err_path = launch(cp, ["--selftest", "1"], "selftest")
        sys.stdout.write(out)
        if rc != 0:
            fail(f"self-test failed (exit {rc}); see {err_path}", rc or 1)
        return
    tag = f"{args.workload}_s{args.seed}_t{args.trace}_{int(time.time())}"
    rc, out, err_path = launch(cp, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)], tag)
    lines = out.splitlines()
    result, at = None, -1
    for i, line in enumerate(lines):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            result, at = obj, i
    if result is None:
        sys.stdout.write(out)
        fail(f"the run printed no result (exit {rc}); see {err_path}", rc or 4)
    sys.stdout.write("\n".join(lines[:at] + lines[at + 1:] + [lines[at]]) + "\n")
    if rc != 0 or not result["correct"]:
        fail(f"output checks failed: {result['failed']} of {result['attempted']} "
             f"operations; see {err_path}", rc or 1)


if __name__ == "__main__":
    main()
