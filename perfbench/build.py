"""Build file of the benchmark. The engine is compiled by the repository's
own sbt build (`sbt compile`, offline, `build.sbt` as it is); the
benchmark's sources (perfbench/scala) are compiled against sbt's runtime
classpath with the Scala compiler on that classpath.

    python3 perfbench/build.py        # from the repository root

Outputs go to .bench_build/classes-<key>/, where the key hashes the build
definition and every source file, so an edited tree is rebuilt and an
unchanged one is reused. sbt keeps its own state (launcher, global base,
temp files) under .bench_build/sbt/ and its compile output in ./target.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "scala")
BUILD_DEF = ["build.sbt", os.path.join("project", "build.properties")]


def sources(root, rel):
    out = []
    for d, _, files in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def source_key(root, engine_only=False):
    h = hashlib.sha256()
    files = [os.path.join(root, p) for p in BUILD_DEF if os.path.isfile(os.path.join(root, p))]
    files += sources(root, ENGINE_SRC) + ([] if engine_only else sources(root, BENCH_SRC))
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def classes_dir(bb, key):
    return os.path.join(bb, f"classes-{key}")


def is_built(root, bb):
    return os.path.isfile(os.path.join(classes_dir(bb, source_key(root)), "classpath"))


def sbt_compile(root, bb, log):
    """`sbt compile`; returns sbt's runtime classpath entries."""
    state = os.path.join(bb, "sbt")
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # every JVM the sbt script starts, its version probe too, keeps its
    # perf data out of the system temp directory
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]))
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={os.path.join(state, 'global')}",
        f"-Dsbt.boot.directory={os.path.join(state, 'boot')}", f"-Djava.io.tmpdir={tmp}"]))
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=root, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"sbt compile failed (rc={r.returncode}); see {log.name}")
    return lines[-1].strip().split(os.pathsep)


def scalac(out, classpath, srcs, log):
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", classpath, "-nowarn", "-d", out]
    r = subprocess.run(cmd + srcs, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {len(srcs)} sources; see {log.name}")


def build(root, bb):
    """Returns (runtime classpath, source key), compiling when needed. The
    engine's classes are copied out of ./target so that a later sbt
    command in the tree does not change what a run loads."""
    key = source_key(root)
    out = classes_dir(bb, key)
    cp_file = os.path.join(out, "classpath")
    if not os.path.isfile(cp_file):
        if not sources(root, ENGINE_SRC):
            raise RuntimeError(f"no engine sources under {ENGINE_SRC}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        engine, bench = os.path.join(out, "engine"), os.path.join(out, "bench")
        with open(os.path.join(out, "build.log"), "w") as log:
            entries = sbt_compile(root, bb, log)
            target = os.path.join(root, "target")
            classes = [e for e in entries if os.path.isdir(e)
                       and os.path.abspath(e).startswith(target + os.sep)]
            if len(classes) != 1:
                raise RuntimeError(f"no single engine class directory in {entries[:3]}...")
            shutil.copytree(classes[0], engine)
            deps = [e for e in entries if e != classes[0]]
            scalac(bench, os.pathsep.join([engine] + deps), sources(root, BENCH_SRC), log)
        with open(cp_file + ".tmp", "w") as f:
            f.write(os.pathsep.join([bench, engine] + deps))
        os.replace(cp_file + ".tmp", cp_file)
    with open(cp_file) as f:
        return f.read(), key


if __name__ == "__main__":
    os.makedirs(".bench_build", exist_ok=True)
    try:
        print(build(os.getcwd(), os.path.abspath(".bench_build"))[0])
    except RuntimeError as e:
        sys.exit(f"build: {e}")
