#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

The program's sources (src/main/scala, src/main/resources) and the
harness's (perfbench/src) are compiled with the Scala compiler that ships
in the Spark distribution, against the Spark jars, into the build
directory. A stamp of the sources' hash skips the build when nothing
changed.

    python3 perfbench/build.py          # build if needed, print class path

The build directory is $CARGO_TARGET_DIR when set (relative to the
checkout root), else .bench_build. Spark is found at $SPARK_HOME, else
/opt/spark.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"build: Spark jars not found at {jars}")
    return jars


def sources(base, suffix=".scala"):
    return sorted(p for p in base.rglob("*") if p.is_file() and p.name.endswith(suffix))


def source_hash(groups):
    h = hashlib.sha256()
    for base, files in groups:
        for p in files:
            h.update(str(p.relative_to(base)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def scalac(out, classpath, files):
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-cp", classpath]
    cmd += [str(f) for f in files]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {out.name}")


def build():
    """Compiles what changed and returns the run class path."""
    main_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    bench_src = BENCH / "src"
    main_files = sources(main_src) if main_src.is_dir() else []
    if not main_files:
        raise SystemExit(f"build: no program sources under {main_src}")
    bench_files = sources(bench_src)
    res_files = sources(resources, "") if resources.is_dir() else []
    digest = source_hash([(main_src, main_files), (resources, res_files), (bench_src, bench_files)])

    out = build_dir() / "classes"
    stamp = out / "STAMP"
    jars = f"{spark_jars()}/*"
    classpath = f"{out / 'bench'}:{out / 'main'}:{jars}"
    if stamp.exists() and stamp.read_text() == digest:
        return classpath
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(tmp / "main", jars, main_files)
    for f in res_files:
        dest = tmp / "main" / f.relative_to(resources)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    scalac(tmp / "bench", f"{tmp / 'main'}:{jars}", bench_files)
    (tmp / "STAMP").write_text(digest)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return classpath


if __name__ == "__main__":
    print(build())
