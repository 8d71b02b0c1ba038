"""Runs one benchmark workload and prints its result object last.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: anonymize_batch, curate_rights (see BENCHMARK.json), or
`all`, which runs both in one session and returns each workload's own
named metrics. `--tiny` shrinks every input (the smoke test).

Run from the root of a checkout. The library and the benchmark are
compiled on the first run (perfbench/build.py); all files the run writes
stay under `.bench_build/`. The JVM's stdout is passed through; its log
goes to `.bench_build/logs/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# the JVM's time limit: this much per workload it runs, plus --seconds
WORKLOAD_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--tiny", action="store_true")
    return p.parse_args(argv)


def jvm_command(classpath, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}", "-XX:-UsePerfData", *opens,
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    if args.tiny:
        cmd.append("--tiny")
    return cmd


def main(argv):
    args = parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, f"work-{os.getpid()}")
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    env = dict(os.environ, LC_ALL="C.utf8")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        n_workloads = len(json.load(f)["workloads"]) if args.workload == "all" else 1
    timeout = WORKLOAD_TIMEOUT_S * n_workloads + args.seconds
    result = None
    timed_out = threading.Event()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm_command(classpath, args, work), stdout=subprocess.PIPE,
                                    stderr=log, text=True, env=env, cwd=work,
                                    start_new_session=True)

            def kill():
                timed_out.set()
                os.killpg(proc.pid, signal.SIGKILL)

            watchdog = threading.Timer(timeout, kill)
            watchdog.start()
            try:
                for line in proc.stdout:
                    if line.startswith("RESULT "):
                        result = json.loads(line[len("RESULT "):])
                    else:
                        sys.stdout.write(line)
                        sys.stdout.flush()
                code = proc.wait()
            finally:
                watchdog.cancel()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        print(f"perfbench: the run exceeded {timeout:g} s", file=sys.stderr)
        return 3
    if code != 0 or result is None or set(result) != RESULT_KEYS:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: the JVM exited with {code} and no result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
