"""graft's benchmark: one workload, one fresh JVM, one JSON result.

    python3 perfbench/run.py --workload tape_vcr --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), then
runs graft.perfbench.Main in a JVM on local[4] with 4 shuffle
partitions and AQE on, launched like tools/run_main.sh (plain class
path, no class-data-sharing archive). The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Span records of a traced run go to
<build dir>/traces/<workload>-seed<seed>.jsonl. Exits non-zero when the
build or the run fails, or when a correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("tape_vcr", "curate_ann_serve")
# the JVM starts, sets up and warms up in well under this, then measures
# for --seconds
STARTUP_ALLOWANCE_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def declared(key):
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[key]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    jar = build.build()
    jars = build.spark_jars()
    timeout = a.seconds + STARTUP_ALLOWANCE_S
    base = build.build_dir()
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = base / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    log = base / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{jar}:{jars}/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--trace-out", str(trace_out)]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise SystemExit(f"perfbench: run timed out after {timeout}s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: run failed (exit {proc.returncode}); see {log}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    key, got = ("per_layer", res["layers"]) if a.trace else ("end_to_end", res["e2e"])
    want = declared(key)
    have = {n: m["unit"] for n, m in got.items()}
    if have != want:
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json {key}: "
                         f"missing {sorted(set(want) - set(have))}, "
                         f"extra {sorted(set(have) - set(want))}")
    correct = res["failed"] == 0 and res["attempted"] >= 1
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": got}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
