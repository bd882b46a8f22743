#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (src/main/scala) and the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's
jars directory, into .bench_build/ at the checkout root. Each half is
rebuilt only when a hash over its sources changes, so runs after the
first start the JVM directly.

    python3 perfbench/build.py          # build if stale, print classpath

Spark is located through SPARK_HOME, else through `spark-submit` on
PATH. The build writes nothing outside .bench_build/.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
GRAFT_SRC = ROOT / "src" / "main" / "scala"
GRAFT_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources(d: Path) -> list:
    if not d.is_dir():
        raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    files = sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    if not files:
        raise BuildError(f"no sources under {d.relative_to(ROOT)}")
    return files


def digest(files, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_to(name: str, files, classpath: str, stamp_extra: str) -> Path:
    dest = OUT / name
    stamp = OUT / f"{name}.stamp"
    want = digest(files, stamp_extra)
    if dest.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath] + [str(f) for f in files]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {name}:\n{proc.stdout[-4000:]}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp.write_text(want)
    return dest


def build() -> str:
    """Build both halves if stale and return the run classpath."""
    jars = spark_jars()
    OUT.mkdir(exist_ok=True)
    graft = compile_to("graft-classes", sources(GRAFT_SRC), f"{jars}/*", "")
    # the bench half is stamped with graft's stamp too: it links against it
    bench = compile_to("bench-classes", sources(BENCH_SRC), f"{graft}:{jars}/*",
                       (OUT / "graft-classes.stamp").read_text())
    return os.pathsep.join([str(bench), str(graft), str(GRAFT_RES), f"{jars}/*"])


def main() -> int:
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
