"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (see build.py), runs
the workload in one JVM with a fixed heap, and prints the JVM's result:
the last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. Exits non-zero when the build
fails, the run fails or times out, or an output check fails.

Extra flags, for the smoke test and for maintenance:
  --toy                      shrink the crawl workloads to a few hosts
  --plant-wrong-expectation  perturb every expected answer by one row
  --pin-ops                  record the ops_sweep answers in perfbench/expected
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["crawl_wide", "ops_sweep"]
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--plant-wrong-expectation", action="store_true")
    ap.add_argument("--pin-ops", action="store_true")
    args = ap.parse_args()

    root = Path.cwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = root / build.BUILD_DIR
    scratch = work / f"run-{os.getpid()}"
    trace_out = work / "trace" / f"{args.workload}-{args.seed}.json"
    trace_out.parent.mkdir(parents=True, exist_ok=True)
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={scratch / 'tmp'}",
        "-Dspark.callstack.depth=200",
        f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", str(scratch), "--trace-out", str(trace_out),
    ]
    cmd += [f"--{f}" for f in ("toy", "plant-wrong-expectation", "pin-ops")
            if getattr(args, f.replace("-", "_"))]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        code = proc.returncode
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {args.workload} did not finish within {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.splitlines()
    if code == 0 or (lines and lines[-1].startswith("{")):
        sys.stdout.write(out)
    else:
        sys.stderr.write(out)
    return code


if __name__ == "__main__":
    sys.exit(main())
