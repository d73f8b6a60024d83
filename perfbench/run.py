"""Medallion-job benchmark: builds the program from source, runs one
workload in a fresh JVM, checks its outputs and prints the result as the
last line of standard output.

Run from the root of a checkout:

  python3 perfbench/run.py --workload job_small --seed 1 --seconds 1 --trace 0
  python3 perfbench/run.py --self-check

Everything the run writes stays under the build directory (CARGO_TARGET_DIR
if set, else .bench_build): the classes, the JVM's java.io.tmpdir and
Spark's local dir (both emptied at start), and the lakes the jobs write.
See perfbench/NOTES.md for the workloads and metrics.
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

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("job_small", "job_wide")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def loadavg() -> float:
    return os.getloadavg()[0]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def fresh_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


def run_jvm(classes: Path, out: Path, workload: str, seed: int, seconds: int,
            trace: int, self_check: bool) -> tuple[list[str], dict]:
    """One workload run in a fresh JVM; returns (detail lines, result)."""
    tmp = fresh_dir(out / "tmp")
    work = fresh_dir(out / "work")
    # -XX:-UsePerfData: else the JVM writes its counters to the system temp dir
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(build.spark_jars(), classes), "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", str(work),
           "--self-check", "1" if self_check else "0"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != RESULT_KEYS:
        sys.exit(f"perfbench: malformed result line: {lines[-1]}")
    return lines[:-1], result


def self_check(classes: Path, out: Path) -> None:
    """Tiny fixture, one cycle: every named metric prints with its unit, all
    outputs check, no operation fails. Both workloads share the code path
    and differ only in size, so one workload covers them."""
    spec = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    problems = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        _, result = run_jvm(classes, out, WORKLOADS[0], 1, 1, trace, self_check=True)
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = result["metrics"]
        if set(got) != set(want):
            problems.append(f"trace {trace}: metric names differ: "
                            f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
        for name, m in got.items():
            if name in want and (m.get("unit") != want[name]
                                 or not isinstance(m.get("value"), (int, float))):
                problems.append(f"trace {trace}: {name} = {m}, want unit {want[name]}")
        if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
            problems.append(f"trace {trace}: correct={result['correct']} "
                            f"attempted={result['attempted']} failed={result['failed']}")
    for p in problems:
        print(f"self-check: {p}", file=sys.stderr)
    print("self-check " + ("FAILED" if problems else "ok"))
    sys.exit(1 if problems else 0)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not args.self_check and args.workload is None:
        ap.error("--workload is required")

    root = Path.cwd()
    out = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    out.mkdir(parents=True, exist_ok=True)
    classes = build.build(root, out)
    if args.self_check:
        self_check(classes, out)

    stamps = {"nproc": nproc(), "load_start": loadavg(), "seed": args.seed,
              "workload": args.workload, "trace": args.trace, "seconds": args.seconds}
    t0 = time.monotonic()
    detail, result = run_jvm(classes, out, args.workload, args.seed, args.seconds,
                             args.trace, self_check=False)
    stamps.update(load_end=loadavg(), run_wall_s=time.monotonic() - t0)
    for line in detail:
        print(line)
    print(json.dumps({"stamps": stamps}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
