#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) and then the benchmark (sybilbench/src) with the Scala compiler
that ships among Spark's jars, into .bench_build/sybilbench/. A build is
skipped when the hash of its sources and compiler has not changed.

The Spark jar directory is $SPARK_HOME/jars when SPARK_HOME is set, else
the `unmanagedBase` that the program's own build.sbt names; the Scala
version is the program's `scalaVersion`.

    python3 sybilbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "sybilbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def _build_sbt():
    p = ROOT / "build.sbt"
    if not p.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: the program's sources are missing")
    return p.read_text()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        d = pathlib.Path(home) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        d = pathlib.Path(m.group(1))
    jars = sorted(d.glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars in {d}")
    return jars


def scala_compiler(jars):
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', _build_sbt())
    if not m:
        raise BuildError("build.sbt names no scalaVersion")
    v = m.group(1)
    want = [f"scala-{k}-{v}.jar" for k in ("compiler", "library", "reflect")]
    found = {j.name: j for j in jars}
    missing = [w for w in want if w not in found]
    if missing:
        raise BuildError(f"Scala {v} compiler jars not found: {missing}")
    return [found[w] for w in want]


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(files, extra):
    h = hashlib.sha256()
    for e in extra:
        h.update(str(e).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name, srcs, classpath, compiler, resources=None, after=""):
    """Compile `srcs` into OUT/name unless its stamp matches; return the dir
    and the stamp. `after` is the stamp of the build this one compiles
    against, so a rebuilt program rebuilds the benchmark too."""
    dest = OUT / name
    stamp = _stamp(srcs + (sorted(p for p in resources.rglob("*") if p.is_file())
                           if resources and resources.is_dir() else []),
                   [c.name for c in compiler] + [str(c) for c in classpath] + [after])
    stamp_file = OUT / f"{name}.stamp"
    if dest.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return dest, stamp
    if not srcs:
        raise BuildError(f"no Scala sources for {name}")
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = OUT / f"{name}.args"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(map(str, classpath)),
           "-d", str(tmp), "@" + str(args_file)]
    print(f"[sybilbench] compiling {name}: {len(srcs)} files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed (exit {r.returncode})")
    if resources and resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp_file.write_text(stamp)
    return dest, stamp


def build():
    """Build program and benchmark; return the runtime classpath."""
    jars = spark_jars()
    compiler = scala_compiler(jars)
    OUT.mkdir(parents=True, exist_ok=True)
    program, stamp = _compile("program", _sources(PROGRAM_SRC), jars, compiler, PROGRAM_RES)
    bench, _ = _compile("bench", _sources(BENCH_SRC), [program] + jars, compiler, after=stamp)
    return [bench, program] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        print(f"[sybilbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
