#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src, perfbench/test) from source.

    python3 perfbench/build.py

It uses the Scala compiler that ships among the Spark jars the engine's
build.sbt names as `unmanagedBase` (or $SPARK_HOME/jars when set), so no
dependency resolution and no sbt state outside the checkout is involved.
Output goes to $CARGO_TARGET_DIR (default `.bench_build`) under the
checkout: `classes/` for the engine, `bench-classes/` for the benchmark.
A build is skipped when a stamp of its sources is unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


class BuildError(Exception):
    pass


def out_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """Directory of the Spark (and Scala) jars the engine builds against."""
    if os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        if not sbt.is_file():
            raise BuildError(f"no build.sbt at {ROOT}: not an engine checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        d = Path(m.group(1))
    if not d.is_dir():
        raise BuildError(f"Spark jar directory {d} not found; set SPARK_HOME")
    return d


def scala_jar(jars, name):
    found = sorted(jars.glob(f"{name}-2.13.*.jar"))
    if not found:
        raise BuildError(f"{name} 2.13 jar not found in {jars}")
    return found[-1]


def sources(*dirs):
    files = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"source directory {d} not found")
        files += sorted(d.rglob("*.scala"))
    if not files:
        raise BuildError(f"no Scala sources under {', '.join(map(str, dirs))}")
    return files


def stamp(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, files, dest, log):
    """Compile `files` into `dest` (replaced only on success)."""
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler_cp = os.pathsep.join(str(scala_jar(jars, n))
                                  for n in ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = tmp.with_suffix(".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    argfile.unlink()
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {dest.name}; see {log}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def build(quiet=False):
    """Build what changed; return (spark jar dir, engine classes, bench classes)."""
    jars = spark_jars()
    out = out_dir()
    out.mkdir(parents=True, exist_ok=True)
    spark_cp = str(jars / "*")
    engine_src = sources(ROOT / "src" / "main" / "scala")
    bench_src = sources(BENCH_DIR / "src", BENCH_DIR / "test")
    steps = [
        ("classes", engine_src, spark_cp, stamp(engine_src)),
        ("bench-classes", bench_src, os.pathsep.join([str(out / "classes"), spark_cp]),
         stamp(bench_src, stamp(engine_src))),
    ]
    for name, files, cp, st in steps:
        dest, stamp_file = out / name, out / f"{name}.stamp"
        if dest.is_dir() and stamp_file.is_file() and stamp_file.read_text() == st:
            continue
        if not quiet:
            print(f"[build] compiling {len(files)} files into {dest}", file=sys.stderr)
        stamp_file.unlink(missing_ok=True)
        scalac(jars, cp, files, dest, out / f"{name}.log")
        stamp_file.write_text(st)
    return jars, out / "classes", out / "bench-classes"


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
