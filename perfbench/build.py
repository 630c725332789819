"""Build file of the ETL-run benchmark.

Compiles the engine (src/main/scala plus src/main/resources) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships among the Spark jars, on the Spark jar classpath, into the build
directory ($CARGO_TARGET_DIR, default .bench_build). Outputs are keyed by a
hash of their sources, so an unchanged tree is not compiled again.

Usage: python3 perfbench/build.py      (prints the runtime classpath)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repo's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources(root, suffix):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_scala(jars, classpath, files, out, resources=(), res_root=""):
    """Compile `files` into `out`, copying `resources` (relative to
    `res_root`) next to the classes; `out` appears only when complete."""
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-2\.13[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala 2.13 compiler jars not found among the Spark jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(classpath), "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    for res in resources:
        dst = os.path.join(tmp, os.path.relpath(res, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(res, dst)
    os.replace(tmp, out)


def cached(kind, key, make):
    """Build `kind` into build_dir()/kind-key unless it is there; drop
    other keys of the same kind."""
    base = build_dir()
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, f"{kind}-{key}")
    if not os.path.isdir(out):
        for old in glob.glob(os.path.join(base, f"{kind}-*")):
            shutil.rmtree(old, ignore_errors=True)
        make(out)
    return out


def build():
    """Compile what changed; return (classpath list, source-tree digest)."""
    engine_files = sources(ENGINE_SRC, ".scala")
    bench_files = sources(BENCH_SRC, ".scala")
    if not engine_files:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    if not bench_files:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    resources = sources(ENGINE_RES, "")
    engine_key = digest(engine_files + resources)

    engine = cached("engine", engine_key, lambda out: compile_scala(
        jars, jars, engine_files, out, resources, ENGINE_RES))
    bench_key = digest(bench_files, engine_key)
    bench = cached("bench", bench_key,
                   lambda out: compile_scala(jars, [engine] + jars, bench_files, out))
    return [bench, engine, os.path.join(spark_jars_dir(), "*")], bench_key


if __name__ == "__main__":
    try:
        cp, _ = build()
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(cp))
