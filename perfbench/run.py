"""Benchmark of the six OpenOA analyses and the graph ANN index.

    python3 perfbench/run.py --workload <plant_uq|ann_index> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the checkout root. Builds the program and the harness from source
on first use (perfbench/build.py), generates the seeded inputs, and runs
the harness in one JVM on local[4]. The last line of standard output is
the JSON result: the end-to-end metrics BENCHMARK.json lists with --trace 0,
its per-layer metrics with --trace 1. The line before it records the run
conditions.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

TIMEOUT_S = 170
SELFCHECK_TIMEOUT_S = 900
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit_id():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def expected_metrics(trace):
    """Metric names BENCHMARK.json lists for the mode, in order."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")

    classes, sha, jars = build.build()
    work = build.out_dir()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--work", work, "--commit", commit_id(), "--source-sha", sha]
    if a.selfcheck:
        cmd += ["--selfcheck"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    try:
        timeout = SELFCHECK_TIMEOUT_S if a.selfcheck else TIMEOUT_S
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("run: harness exceeded %d s" % timeout)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines) + "\n")
        sys.exit("run: harness exited with code %d" % proc.returncode)
    if a.selfcheck:
        print("\n".join(lines))
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines) + "\n")
        sys.exit("run: harness printed no result line")
    want = expected_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        sys.exit("run: harness metrics differ from BENCHMARK.json: missing %s, extra %s" % (
            sorted(set(want) - set(result["metrics"])), sorted(set(result["metrics"]) - set(want))))
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
