"""Build file of the CDC benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala 2.13 compiler that
ships in the Spark jar directory (the engine's build.sbt `unmanagedBase`),
into <build dir>/classes.

The build is skipped when a stamp over every source file, the compiler jars
and the JDK version is unchanged, so only the first run in a checkout pays it.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import re
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars(root):
    """The jar directory the engine's own build compiles against."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: no Spark jar directory named in build.sbt")
    return m.group(1)


def build_dir(root):
    # CARGO_TARGET_DIR, when set, names where build products go; honour it
    # so every build product of a checkout lands in one ignored place.
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def sources(root):
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {top}")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def classpath(root):
    return os.pathsep.join([
        os.path.join(build_dir(root), "classes"),
        os.path.join(root, ENGINE_RES),
        os.path.join(spark_jars(root), "*"),
    ])


def stamp(root, srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for name in sorted(os.listdir(spark_jars(root))):
        if name.startswith("scala-"):
            h.update(name.encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                            capture_output=True)
             .stderr)
    return h.hexdigest()


def build(root):
    jars = os.path.join(spark_jars(root), "*")
    srcs = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(root, srcs)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", str(min(os.cpu_count(), 8)),
           "-d", classes, "-classpath", jars,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build(os.getcwd())
