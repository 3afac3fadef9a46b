#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark's own code (perfbench/src) with the Scala
compiler in the Spark installation's jars; later runs reuse the build while
the sources are unchanged. It then starts one JVM (Spark local[nproc], heap sized from
MemTotal), relays its output and ends with the JSON result as the
last line of stdout. Extra flags (--scale tiny, --corrupt 1) are passed
through to perfbench.Main.

The Spark jars come from $SPARK_HOME/jars; without SPARK_HOME, from the
directory the root build.sbt names in its unmanagedBase, else from the
installation whose spark-submit is on PATH. Java is $JAVA_HOME/bin/java,
else the java on PATH.
"""
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def heap():
    """Half of MemTotal in whole GiB, clamped to [2, 8] (the Tier-1 sizing)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    candidates = [os.environ.get("SPARK_HOME", "")]
    root_build = ROOT / "build.sbt"
    if root_build.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', root_build.read_text())
        if m:
            candidates.append(str(Path(m.group(1)).parent))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(str(Path(submit).resolve().parent.parent))
    for c in candidates:
        if c and (Path(c) / "jars").is_dir():
            return c
    fail("no Spark installation found: set SPARK_HOME")


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = []
    for r in roots:
        files += sorted(p for p in r.rglob("*.scala") if p.is_file())
    return files


def stamp(jars):
    h = hashlib.sha256(str(jars).encode())
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME", "")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    if shutil.which("java") is None:
        fail("java not found: set JAVA_HOME or put java on PATH")
    return "java"


def build():
    """Compile when the sources changed; return the run classpath.

    The engine and the benchmark are compiled together with the Scala
    compiler that ships in the Spark installation's jars (the Scala the
    engine runs on), so a build needs only the JDK and Spark: no sbt, no
    dependency cache and nothing outside the checkout.
    """
    jars = Path(spark_home()) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"no scala-compiler jar in {jars}")
    classes, stamp_file = TARGET / "classes", TARGET / "build.stamp"
    cp = f"{classes}{os.pathsep}{jars / '*'}"
    want = stamp(jars)
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp
    stamp_file.unlink(missing_ok=True)
    out, tmp = TARGET / "classes-new", TARGET / "build-tmp"
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("".join(f'"{p}"\n' for p in sources()))
    proc = subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-usejavacp",
         "-d", str(out), f"@{args}"],
        cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (scalac exit {proc.returncode})", 3)
    shutil.rmtree(classes, ignore_errors=True)
    out.rename(classes)
    shutil.rmtree(tmp, ignore_errors=True)
    stamp_file.write_text(want)
    return cp


def main(argv):
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src'}: run from a full checkout")
    flags = dict(zip(argv[0::2], argv[1::2]))
    for k in ("--workload", "--seed", "--seconds", "--trace"):
        if k not in flags:
            fail(f"{k} is required")
    cp = build()
    work = TARGET / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    mem = heap()
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", f"-Xms{mem}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop'}",
            "-cp", cp, "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)

    def stop():
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    except BaseException:
        stop()
        raise
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
