"""Build file of the benchmark: compiles graft (`src/main/scala`) and the
benchmark harness (`perfbench/harness`) with scalac into the build
directory, and reuses the classes while no source file has changed.

graft's build (`build.sbt`) compiles against the Spark jar directory it
names as `unmanagedBase`, which also holds the matching Scala compiler;
this script reads that directory from `build.sbt` and calls the compiler
directly, so a build writes only inside the build directory. Set
SPARK_JARS to point elsewhere.

Usage: python3 perfbench/build.py [build_dir]   (default: $CARGO_TARGET_DIR
or .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars() -> str:
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt; set SPARK_JARS")
    return m.group(1)


def build_dir() -> str:
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def _sources(top: str) -> list:
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _stamp(paths: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(srcs: list, out: str, classpath: str, log: str) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: compilation failed (log: {log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(bdir: str = None) -> str:
    """Compiles what changed; returns the runtime classpath."""
    bdir = bdir or build_dir()
    os.makedirs(bdir, exist_ok=True)
    jars = f"{spark_jars()}/*"
    graft_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(graft_src, "scala")):
        raise SystemExit(f"perfbench: no graft sources under {graft_src}")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"perfbench: Spark jars not found at {spark_jars()}")
    graft_out = os.path.join(bdir, "graft-classes")
    harness_out = os.path.join(bdir, "harness-classes")
    graft_srcs = _sources(graft_src)
    harness_srcs = _sources(os.path.join(HERE, "harness"))
    g_stamp = _stamp(graft_srcs, "graft")
    h_stamp = _stamp(harness_srcs, "harness" + g_stamp)
    for srcs, out, stamp, cp in (
            (graft_srcs, graft_out, g_stamp, jars),
            (harness_srcs, harness_out, h_stamp, f"{graft_out}:{jars}")):
        sfile = out + ".stamp"
        if os.path.isdir(out) and os.path.exists(sfile) and open(sfile).read() == stamp:
            continue
        _scalac(srcs, out, cp, out + ".log")
        with open(sfile, "w") as f:
            f.write(stamp)
    return f"{harness_out}:{graft_out}:{jars}"


if __name__ == "__main__":
    print(ensure(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
