"""Build file of the benchmark package: compiles the repo's main sources
and the harness under perfbench/src with scalac, straight into
<build_dir>/classes. No sbt, so nothing is written outside the build
directory. Skips the compile when no source changed since the last one.

Usage: build.py [build_dir]      (default: .bench_build)
Env:   SPARK_JARS_DIR            Spark + Scala jars (default: build.sbt's
                                 unmanagedBase, the jars the sbt build uses)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def jars() -> list:
    d = os.environ.get("SPARK_JARS_DIR")
    if not d:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("build: set SPARK_JARS_DIR; build.sbt names no unmanagedBase")
        d = m.group(1)
    found = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not found:
        raise SystemExit(f"build: no jars in {d}")
    return found


def sources() -> list:
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: {main} not found; run from a checkout of the repo")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir: str) -> str:
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    cp = jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", ":".join(cp)] + srcs) + "\n")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", ":".join(cp), "scala.tools.nsc.Main", "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(d, exist_ok=True)
    print(build(d))
