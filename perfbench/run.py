"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), then runs the workload in one JVM on
four cores (`local[4]`, four shuffle partitions). Every metric is printed
with its unit; the last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`, where `metrics` holds the
`end_to_end` metrics of BENCHMARK.json (`--trace 0`) or its `per_layer`
metrics (`--trace 1`). Traced runs also write their spans as JSONL under
`.bench_build/traces/`. See perfbench/README.md for the workloads.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# layers a workload never calls: their per-layer metrics are 0 on it
IDLE_LAYERS = {
    "daily_backfill": ("ops.",),
    "query_board": ("jobs.", "verify.", "streaming."),
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"run: unknown workload {args.workload}")

    classes = build.build()
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([os.path.abspath(classes), jars]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(work, "run"),
              "--expected", os.path.abspath("perfbench/expected_rows.tsv"),
              "--trace-out", os.path.abspath(os.path.join(build.BUILD_DIR, "traces"))])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run: workload did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out)
        raise SystemExit(f"run: benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    measured = result["metrics"]
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        if m["name"] in measured:
            metrics[m["name"]] = measured[m["name"]]
        elif args.trace and m["name"].startswith(IDLE_LAYERS[args.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            raise SystemExit(f"run: metric {m['name']} was not measured")
    if result["attempted"] < 1:
        raise SystemExit("run: no operation was attempted")
    print("\n".join(lines[:-1]))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
