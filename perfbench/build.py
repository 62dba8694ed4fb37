#!/usr/bin/env python3
"""Build the benchmark: the engine (src/main/scala) and the benchmark
program (perfbench/src) compiled into one class directory by the Scala
compiler the Spark distribution ships, against the Spark jars the repo's
build.sbt compiles against (its `unmanagedBase`). A build whose sources
have not changed is reused.

    python3 perfbench/build.py [OUT_DIR]     # from the root of a checkout

OUT_DIR defaults to .bench_build; classes land in OUT_DIR/classes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

def spark_jars(root):
    """The jar directory build.sbt names as its unmanagedBase."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def jars(root, prefix=""):
    return sorted(spark_jars(root).glob(prefix + "*.jar"))


def classpath(root, classes):
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def build(root, out):
    """Compile if needed; return the class directory."""
    engine = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not engine.is_dir() or not bench.is_dir() or not (root / "build.sbt").is_file():
        sys.stderr.write(f"build: no engine sources under {root}\n")
        raise SystemExit(2)
    compiler = (jars(root, "scala-compiler-") + jars(root, "scala-reflect-")
                + jars(root, "scala-library-"))
    if len(compiler) != 3:
        raise SystemExit(f"build: no Scala compiler among {spark_jars(root)}")
    sources = sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    resources = root / "src" / "main" / "resources"
    inputs = sources + (sorted(p for p in resources.rglob("*") if p.is_file())
                        if resources.is_dir() else [])
    h = hashlib.sha256(" ".join(p.name for p in compiler).encode())
    for p in inputs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp, classes = out / "classes.stamp", out / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-d", str(classes), "-classpath",
         os.pathsep.join(str(j) for j in jars(root))] + [str(s) for s in sources]))
    log = out / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
             os.pathsep.join(str(j) for j in compiler),
             "scala.tools.nsc.Main", "@" + str(argfile)],
            stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"build: scalac failed ({rc}), see {log}")
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    stamp.write_text(h.hexdigest())
    return classes


if __name__ == "__main__":
    out = Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build").resolve()
    out.mkdir(parents=True, exist_ok=True)
    print(build(Path.cwd(), out))
