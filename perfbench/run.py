#!/usr/bin/env python3
"""Lifecycle benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload etl_delta_cycle --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles `src/main/scala`
and `perfbench/src` with the Scala compiler that ships in Spark's jars
into `.bench_build/perfbench/`; later runs reuse that build while the
sources are unchanged. The last line of standard output is the result
JSON; the lines before it name every metric with its unit. The full
measurement record (per-layer spans, iteration samples, checks) is
written to `.bench_build/perfbench/profiles/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        die("java not found: set JAVA_HOME or put java on PATH")
    return str(exe)


def sources(*dirs):
    out = []
    for d in dirs:
        if not d.is_dir():
            die(f"source directory {d.relative_to(ROOT)} is missing")
        out += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return out


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group past `limit` seconds."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{Path(cmd[0]).name} exceeded {limit} s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def compile_scala(name, srcs, classpath, jars):
    """Compile `srcs` into BUILD/<name>-<digest> unless already built."""
    h = hashlib.sha256()
    for p in srcs + [Path(c) for c in classpath]:
        h.update(str(p.relative_to(ROOT) if ROOT in p.parents else p).encode())
        if p.is_file():
            h.update(p.read_bytes())
    out = BUILD / f"{name}-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    for old in BUILD.glob(f"{name}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{name}.", dir=BUILD))
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    classes = tmp / "classes"
    classes.mkdir()
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    print(f"perfbench: compiling {len(srcs)} Scala files ({name})", file=sys.stderr)
    t0 = time.time()
    code = run_bounded([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
                       BUILD_LIMIT_S, stdout=sys.stderr)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compilation of {name} failed")
    classes.rename(out)
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def jvm(main, args, classpath, jars, limit, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(c) for c in classpath] + [str(jars / "*")])
    cmd = [java(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", *opens, "-cp", cp, main, *args]
    return run_bounded(cmd, limit, stdout=sys.stderr, cwd=str(work))


def main():
    ap = argparse.ArgumentParser(description="Lifecycle benchmark")
    ap.add_argument("--workload", help="etl_delta_cycle, curation_chain or etl_full_reload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check the generators and the expected-master model")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    bench = compile_scala("classes", sources(ROOT / "src" / "main" / "scala", HERE / "src"), [], jars)
    started = time.time()  # a first run may also build; the run limit starts after it
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    BUILD.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="work.", dir=BUILD))
    try:
        if a.self_test:
            tests = compile_scala("test-classes", sources(HERE / "test"), [bench], jars)
            code = jvm("perfbench.SelfTest", [], [tests, bench], jars, RUN_LIMIT_S, work)
            sys.exit(code)
        result = work / "result.json"
        profiles = BUILD / "profiles"
        profiles.mkdir(exist_ok=True)
        profile = profiles / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        limit = max(10, RUN_LIMIT_S - (time.time() - started))
        code = jvm("perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
                    "--result", str(result), "--profile", str(profile)],
                   [bench], jars, limit, work)
        if code != 0 or not result.is_file():
            die(f"benchmark JVM exited with code {code}")
        line = json.loads(result.read_text())
        prof = json.loads(profile.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, m in sorted(line["metrics"].items()):
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    if a.trace == 0:
        print(f"{a.workload} fail_frac = {prof['fail_frac']:.6g} ratio")
    else:
        o = prof["trace_overhead"]
        if not o["resolved"]:
            print(f"{a.workload} trace.overhead_s unresolved: {o['s']:.3g} s is within the plain "
                  f"iterations' interquartile range of {o['plain_iqr_s']:.3g} s")
    print(f"{a.workload} profile: {profile.relative_to(ROOT)}")
    print(json.dumps(line, sort_keys=True))


if __name__ == "__main__":
    main()
