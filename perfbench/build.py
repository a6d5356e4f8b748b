"""Build file of the benchmark: compiles the engine and the benchmark's
JVM helpers from source, without sbt.

The engine (`src/main/scala`) is compiled with the Scala compiler that
ships in the Spark jar directory `build.sbt` names as `unmanagedBase`;
the helpers (`perfbench/jvm`) with `javac` against the result. A stamp
over every input file skips the work when nothing changed.

    python3 perfbench/build.py     # build into $CARGO_TARGET_DIR/perfbench
"""
from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir() -> str:
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(os.path.abspath(os.path.join(ROOT, base)), "perfbench")


def _sbt_setting(pattern: str) -> str:
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise SystemExit("perfbench: build.sbt not found; run from a checkout of the repository")
    m = re.search(pattern, open(path).read(), re.S)
    if not m:
        raise SystemExit(f"perfbench: build.sbt has no match for {pattern!r}")
    return m.group(1)


def jar_dir() -> str:
    return _sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def add_opens() -> list[str]:
    """The `--add-opens` set of build.sbt's `jdk17AddOpens`."""
    body = _sbt_setting(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap")
    return [a for p in re.findall(r'"([^"]+)"', body)
            for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _inputs() -> list[str]:
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not scala:
        raise SystemExit("perfbench: no sources under src/main/scala")
    java = sorted(glob.glob(os.path.join(HERE, "jvm/**/*.java"), recursive=True))
    return scala + java + [os.path.join(ROOT, "build.sbt"), __file__]


def build(log=sys.stderr) -> str:
    """Compile if any input changed; return the runtime classpath."""
    out = build_dir()
    files = _inputs()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    jars = os.path.join(jar_dir(), "*")
    cp = os.pathsep.join([os.path.join(out, "helpers"), os.path.join(out, "classes"), jars])
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    for d in ("classes", "helpers"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
        os.makedirs(os.path.join(out, d))
    scala = [f for f in files if f.endswith(".scala")]
    java = [f for f in files if f.endswith(".java")]
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    print(f"perfbench: compiling {len(scala)} Scala files", file=log, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", os.path.join(out, "classes"), "-classpath", jars,
                    "@" + argfile], check=True, stdout=log, stderr=log)
    subprocess.run(["javac", "-nowarn", "-cp",
                    os.pathsep.join([os.path.join(out, "classes"), jars]),
                    "-d", os.path.join(out, "helpers")] + java,
                   check=True, stdout=log, stderr=log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
