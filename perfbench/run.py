"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (build.py) when the sources changed,
holds a lock file so two runs in one checkout never overlap, runs the
workload in one JVM at local[nproc], and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The full run record
(provenance, every metric, the other mode's figures) and, for a traced run,
the spans are kept under .bench_build/perfbench/records/.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("rag_serve", "kb_ingest", "sql_lifecycle")
HEAP = "3g"
RUN_LIMIT_S = 170          # a run must end within 180 s (build excluded)
LOCK_WAIT_S = 120

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test-only knobs, used by perfbench/test_bench.py
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help=argparse.SUPPRESS)
    p.add_argument("--inject-wrong", type=int, default=0, help=argparse.SUPPRESS)
    return p.parse_args()


def commit() -> str:
    if not (build.ROOT / ".git").exists():
        return "none"
    try:
        r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def acquire_lock(path: Path):
    """Exclusive lock for the whole run; returns (file, seconds waited)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    f = open(path, "w")
    t0 = time.monotonic()
    while True:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            f.write(f"{os.getpid()}\n")
            f.flush()
            return f, time.monotonic() - t0
        except BlockingIOError:
            if time.monotonic() - t0 > LOCK_WAIT_S:
                raise SystemExit(f"perfbench: another run holds {path}")
            time.sleep(0.5)


def main():
    a = parse_args()
    if not build.ENGINE_SRC.is_dir() or not build.BENCH_SRC.is_dir():
        sys.exit("perfbench: engine or benchmark sources missing; run from a full checkout")
    lock, waited = acquire_lock(build.WORK / "run.lock")
    try:
        classes, key = build.build()
        tmp = build.WORK / "tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # a run starts from an empty work dir
        tmp.mkdir(parents=True)
        records = build.WORK / "records"
        records.mkdir(parents=True, exist_ok=True)
        stem = f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{a.workload}-s{a.seed}-t{a.trace}"
        record = records / f"{stem}.json"
        nproc = len(os.sched_getaffinity(0))
        load_start = os.getloadavg()
        env = dict(os.environ, GRAFT_TMP_DIR=str(tmp / "graft"),
                   SPARK_LOCAL_DIRS=str(tmp / "spark"))
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}"]
               + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cores", str(nproc), "--work", str(tmp / "run"),
                  "--record", str(record), "--spans", str(records / f"{stem}.spans.jsonl"),
                  "--scale", a.scale, "--inject-wrong", str(a.inject_wrong)])
        # SIGTERM unwinds through the finally below, so the JVM never outlives us
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM killed after {RUN_LIMIT_S} s", file=sys.stderr)
        finally:
            if proc.poll() is None:
                proc.kill()
            rc = proc.wait()
        load_end = os.getloadavg()
        if not record.is_file():
            sys.exit(f"perfbench: JVM exited {rc} without a run record")
        rec = json.loads(record.read_text())
        rec["provenance"].update({
            "commit": commit(), "source_key": key, "nproc": nproc, "heap": HEAP,
            "loadavg_start": list(load_start), "loadavg_end": list(load_end),
            "lock_wait_s": round(waited, 3), "jvm_exit": rc})
        record.write_text(json.dumps(rec, indent=1) + "\n")
    finally:
        lock.close()
    metrics = rec["layers"] if a.trace else rec["e2e"]
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
