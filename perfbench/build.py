#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala files, using the Scala compiler that ships in
Spark's jars directory: `$SPARK_HOME/jars` if set, else the `unmanagedBase`
directory of the repo's build.sbt (the jars the repo itself builds against).

Classes go to `<build dir>/classes-<source hash>`, where the build dir is
`$CARGO_TARGET_DIR` if set, else `.bench_build` at the repo root; a tree
that is already built is reused.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH_SCALA = ROOT / "perfbench" / "scala"
GRAFT_SCALA = ROOT / "src" / "main" / "scala"


class CompileError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not found:
        raise CompileError("set SPARK_HOME: build.sbt names no unmanagedBase jars directory")
    return pathlib.Path(found.group(1))


def build_dir():
    d = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    graft = sorted(GRAFT_SCALA.rglob("*.scala"))
    if not graft:
        raise CompileError(f"no graft sources under {GRAFT_SCALA}")
    return graft + sorted(BENCH_SCALA.rglob("*.scala"))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def ensure_built(log=sys.stderr):
    """Compile if needed; returns (class dir, source hash)."""
    files = sources()
    digest = source_hash(files)
    out = build_dir() / f"classes-{digest}"
    if (out / "BUILD_OK").exists():
        return out, digest
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise CompileError(f"no Scala compiler in {jars}")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        log.write(proc.stdout[-4000:])
        raise CompileError(f"scalac failed with exit code {proc.returncode}")
    argfile.unlink()
    # classes of older sources are never used again
    for old in build_dir().glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    (out / "BUILD_OK").write_text(digest + "\n")
    return out, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except CompileError as e:
        sys.exit(f"build: {e}")
