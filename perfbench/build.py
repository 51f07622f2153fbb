"""Build step of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/src`) into
`.bench_build/classes` with the Scala compiler that ships in Spark's jar
directory, so no build tool or network is needed. A content stamp skips
the compile when no source changed since the last build.

    python3 perfbench/build.py            # program + harness
    python3 perfbench/build.py --tests    # ... plus perfbench/tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the one the program's
    build.sbt declares as its unmanaged base."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler; set SPARK_HOME")


def _sources(dirs):
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def _stamp(files, salt: str) -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(files, out: Path, classpath: str, salt: str = "") -> str:
    stamp = _stamp(files, salt)
    stamp_file = out / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return stamp
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"{out.name}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return stamp


def build(tests: bool = False) -> str:
    """Compiles what changed and returns the runtime classpath."""
    program = ROOT / "src" / "main" / "scala"
    files = _sources([program, BENCH / "src"])
    if not any(f.is_relative_to(program) for f in files):
        raise BuildError(f"program sources not found under {program}")
    OUT.mkdir(exist_ok=True)
    jars = f"{spark_jars()}/*"
    classes = OUT / "classes"
    stamp = _compile(files, classes, jars)
    cp = f"{classes}{os.pathsep}{jars}"
    if tests:
        test_classes = OUT / "test-classes"
        _compile(_sources([BENCH / "tests"]), test_classes, cp, salt=stamp)
        cp = f"{test_classes}{os.pathsep}{cp}"
    return cp


if __name__ == "__main__":
    try:
        print(build(tests="--tests" in sys.argv[1:]))
    except BuildError as e:
        sys.exit(f"build: {e}")
