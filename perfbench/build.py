#!/usr/bin/env python3
"""Builds the program and the benchmark harness with plain scalac.

The program is every `src/main/scala/**/*.scala` of the repository; the
harness is `perfbench/harness/*.scala`, compiled against the program. Both
use the Scala compiler and Spark jars of the directory that build.sbt's
`unmanagedBase` names (`$SPARK_HOME/jars` when SPARK_HOME is set), so no
build tool or network is needed. Class files go to `.bench_build/perfbench/`;
a build is reused while the hash of its sources is unchanged.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        if not m:
            raise BuildError("no Spark jars: set SPARK_HOME")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def sources(path):
    return sorted(p for p in path.rglob("*.scala") if p.is_file())


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(srcs, dest, classpath, log):
    """Compiles `srcs` into `dest`, replacing it only when scalac succeeds."""
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        args += ["-classpath", classpath]
    with open(log, "ab") as out:
        rc = subprocess.run(args + [str(s) for s in srcs], stdout=out,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed for {dest.name}; see {log}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def build():
    """Returns the runtime classpath, compiling what changed."""
    main_src = sources(ROOT / "src" / "main" / "scala")
    harness_src = sources(ROOT / "perfbench" / "harness")
    if not main_src or not harness_src:
        raise BuildError(f"program or harness sources missing under {ROOT}")
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    main_dir, harness_dir = OUT / "main", OUT / "harness"
    main_stamp = digest(main_src)
    harness_stamp = main_stamp + digest(harness_src)
    for dest, srcs, cp, stamp in (
            (main_dir, main_src, None, main_stamp),
            (harness_dir, harness_src, str(main_dir), harness_stamp)):
        stamp_file = dest.with_name(dest.name + ".stamp")
        if stamp_file.exists() and stamp_file.read_text() == stamp and dest.is_dir():
            continue
        scalac(srcs, dest, cp, log)
        stamp_file.write_text(stamp)
    return f"{harness_dir}:{main_dir}:{spark_jars()}/*"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
