"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own sources (perfbench/src) with the Scala
compiler that ships in the Spark distribution, so no sbt and no dependency
resolution is needed.

Output goes to <checkout>/.bench_build/perfbench/classes-<key>, where <key>
hashes every compiled source; an up-to-date tree is reused. Run it directly
(`python3 perfbench/build.py`) or let run.py call it.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
WORK = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if list(jars.glob("scala-compiler-2.13.*.jar")):
            return jars
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution "
                     "(its jars/ must hold the Scala 2.13 compiler)")


def sources() -> list:
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit("perfbench: engine sources (src/main/scala) or benchmark sources "
                         "(perfbench/src) are missing; run from a full checkout")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources found")
    return files


def source_key(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> tuple:
    """Return (classes dir, source key), compiling when the sources changed."""
    jars = spark_jars()
    files = sources()
    key = source_key(files)
    out = WORK / f"classes-{key}"
    if (out / ".complete").is_file():
        return out, key
    WORK.mkdir(parents=True, exist_ok=True)
    for stale in WORK.glob("classes-*"):
        shutil.rmtree(stale, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = WORK / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(out), "-nowarn", f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources -> {out}", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    (out / ".complete").write_text(key + "\n")
    return out, key


if __name__ == "__main__":
    d, k = build()
    print(d)
