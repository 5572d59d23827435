"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/harness) into one class directory with the Scala
compiler that ships in Spark's jar directory, so no build tool and no
dependency resolution is needed.

Usage: python3 perfbench/build.py      (prints the class directory)

The output lands in .bench_build/classes-<hash of every source>, so an
unchanged tree is compiled once and a changed one never reuses stale
classes.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources():
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    srcs += sorted((ROOT / "perfbench" / "harness").glob("*.scala"))
    return srcs


def build():
    srcs = sources()
    if not any(p.is_relative_to(ROOT / "src") for p in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha1()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / ".done").exists():
            return out
        tmp = out.with_suffix(".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        cp = f"{SPARK_JARS}/*"
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("build: scalac failed\n" + r.stdout[-4000:])
        (tmp / ".done").touch()
        tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
    sys.exit(0)
