"""Build step of the benchmark: compiles graft's main sources and the
benchmark's JVM runner with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/` at the root of the checkout.

A build is keyed by the content of every source file it compiles, so a
checkout is built once and rebuilt only when a source changes. Run it
alone with `python3 perfbench/build.py`; it prints the class path.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build"
MAIN_SRC = ROOT / "src" / "main" / "scala"
RUNNER_SRC = HERE / "src"


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jar directory (set SPARK_HOME)")


def sources():
    main = sorted(MAIN_SRC.rglob("*.scala")) if MAIN_SRC.is_dir() else []
    runner = sorted(RUNNER_SRC.glob("*.scala"))
    if not main:
        raise BuildError(f"no graft sources under {MAIN_SRC}")
    if not runner:
        raise BuildError(f"no runner sources under {RUNNER_SRC}")
    return main, runner


def scalac(jars, classpath, out, files):
    compiler = [jars / f"{n}-{v}.jar" for n, v in scala_jars(jars)]
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-classpath", os.pathsep.join(map(str, classpath)),
           "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError(f"scalac failed:\n{r.stdout[-4000:]}")


def scala_jars(jars):
    """(name, version) of the compiler, library and reflect jars."""
    found = {}
    for p in jars.glob("scala-*-2.*.jar"):
        m = re.fullmatch(r"(scala-(?:compiler|library|reflect))-([\d.]+)\.jar",
                         p.name)
        if m:
            found[m.group(1)] = m.group(2)
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    if set(found) != set(names):
        raise BuildError(f"Scala compiler jars missing from {jars}")
    return [(n, found[n]) for n in names]


def build():
    """Compile if needed; return the runtime class path as a list."""
    jars = spark_jars()
    main, runner = sources()
    h = hashlib.sha256()
    for f in main + runner:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(repr(scala_jars(jars)).encode())
    key = h.hexdigest()[:16]
    out = BUILD_DIR / f"classes-{key}"
    graft, bench = out / "graft", out / "runner"
    runtime = [graft, bench, jars / "*"]
    if (out / "ok").is_file():
        return runtime
    if BUILD_DIR.is_dir():
        for old in BUILD_DIR.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
    deps = sorted(jars.glob("*.jar"))
    scalac(jars, deps, graft, main)
    scalac(jars, [graft] + deps, bench, runner)
    (out / "ok").write_text(key + "\n")
    return runtime


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
