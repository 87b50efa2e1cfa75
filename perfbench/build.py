#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/harness) with the Scala compiler that ships in
the Spark jar directory named by build.sbt, straight into the build
directory.

    python3 perfbench/build.py            # prints the run classpath

Run from the repository root. Outputs go to `<build dir>/perfbench/<key>`,
where the key hashes every source file, so an unchanged tree is never
rebuilt and a changed one never reuses stale classes. The build
directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HARNESS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness")
MAIN_SRC = os.path.join("src", "main", "scala")
# JVM options, then the compiler's main class and its options; the
# compiler reads its classpath from the JVM's (-usejavacp)
SCALAC = ["-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "scala.tools.nsc.Main",
          "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4"]


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("no Spark jar directory: build.sbt must set "
                         "unmanagedBase to an existing directory")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def tree_key(files):
    h = hashlib.sha256(" ".join(SCALAC).encode())
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(classpath, out, files, log):
    os.makedirs(out)
    cmd = ["java", "-cp", ":".join(classpath)] + SCALAC + ["-d", out] + files
    with open(log, "ab") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log, "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        raise SystemExit(f"scalac failed ({r.returncode}) for {out}")


def build():
    """Compile if needed; return the JVM classpath for the harness."""
    main = sources(MAIN_SRC)
    if not main:
        raise SystemExit(f"no engine sources under {MAIN_SRC}: run from the "
                         "repository root")
    jars = spark_jars()
    harness = sources(HARNESS)
    dest = os.path.join(build_dir(), "perfbench", tree_key(main + harness))
    main_out, harness_out = os.path.join(dest, "main"), os.path.join(dest, "harness")
    if not os.path.isdir(dest):
        tmp = f"{dest}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        log = f"{tmp}.log"
        spark = os.path.join(jars, "*")
        scalac([spark], os.path.join(tmp, "main"), main, log)
        scalac([spark, os.path.join(tmp, "main")], os.path.join(tmp, "harness"),
               harness, log)
        try:
            os.rename(tmp, dest)
        except OSError:  # a concurrent build finished first
            shutil.rmtree(tmp, ignore_errors=True)
        os.remove(log)
    return [main_out, harness_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(":".join(build()))
