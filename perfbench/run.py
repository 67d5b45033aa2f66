"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark on first use (see build.py), starts one
Spark driver JVM on local[N] with N = the usable cores, and relays its
report. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the exit code is 0 only when
every output check passed. Scratch data lives in perfbench/.work/ for the
duration of the run; result and trace files go to perfbench/.out/.

    --record <file>   append the outputs seen in this run to <file> as goldens
"""

import argparse
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

BENCH = build.BENCH
ROOT = build.ROOT
WORKLOADS = ("load_codecs", "pipeline_sf001")
RUN_LIMIT_S = 170
HEAP = "2g"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record")
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = BENCH / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, cp, work: Path) -> int:
    out = BENCH / ".out"
    out.mkdir(exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + build.ADD_OPENS + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        "-cp", build.classpath(cp), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work), "--out", str(out),
        "--goldens", str(BENCH / "goldens.tsv"), "--cores", str(cores)]
        + (["--record", str(Path(a.record).resolve())] if a.record else []))

    err_log = work / "stderr.log"
    result = None
    code = 3
    with open(err_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        deadline = time.monotonic() + RUN_LIMIT_S

        def kill():
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)

        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    result = line[len("PERFBENCH_RESULT "):].strip()
                else:
                    print(line, end="", flush=True)
                if time.monotonic() > deadline:
                    print("perfbench: run exceeded its time limit", file=sys.stderr)
                    kill()
                    break
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            kill()
            proc.wait()
            result = None
        finally:
            kill()
            proc.wait()

    if result is not None:
        try:
            obj = json.loads(result)
            assert set(obj) == {"correct", "attempted", "failed", "metrics"}
        except (ValueError, AssertionError):
            result = None
    if result is None or code not in (0, 1):
        sys.stderr.write("perfbench: no result; last lines of the JVM's stderr:\n")
        sys.stderr.write("".join(err_log.read_text(errors="replace").splitlines(True)[-40:]))
        return code if code not in (0, 1) else 3
    print(result, flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
