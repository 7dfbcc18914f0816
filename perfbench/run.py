"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 20 --trace 0

Run from the root of a repository checkout. The first run compiles the
engine and the benchmark (perfbench/build.py) into .bench_build/. Each run
uses a fresh scratch directory under .bench_build/ and deletes it at the
end. Earlier stdout lines are a per-workload report for a reader; the last
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run. The exit code is non-zero when the run
could not be made or a correctness check failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_nightly", "analytic_read")
# the sf0.1 TPC-H-shaped parquet tables (TESTDATA.md) analytic_read loads;
# the same variable graft.Bench reads
DATA = os.environ.get("SPARK_GRAFT_SF_DIR",
                      os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload != "etl_nightly" and not os.path.exists(
            os.path.join(DATA, "lineitem.parquet")):
        fail(f"no TPC-H parquet tables under {DATA} (set SPARK_GRAFT_SF_DIR)")
    build.build()

    tmp = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "record.json")
    log = os.path.join(tmp, "jvm.log")
    cmd = (["java", "-Xmx3g", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA,
            "--tmp", tmp, "--out", out])
    env = dict(os.environ, LC_ALL="C.utf8", LANG="C.utf8")
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    env=env)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            fail(f"benchmark JVM ended with {rc}")
        with open(out) as fh:
            raw = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)

    checks_ok = all(c["ok"] for c in raw["checks"])
    for c in raw["checks"]:
        if not c["ok"]:
            sys.stderr.write(f"perfbench: check {c['name']} FAILED: {c['detail']}\n")
    attempted = len(raw["samples"])
    failed = sum(not s["ok"] for s in raw["samples"])
    correct = checks_ok and failed == 0 and attempted > 0

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={raw['cores']} "
          f"checks={sum(c['ok'] for c in raw['checks'])}/{len(raw['checks'])}")
    for name, (value, unit) in metrics.detail(raw).items():
        print(f"#   {name:<24} {value:>14.4f} {unit}")
    if args.trace:
        values = metrics.per_layer(raw)
        result = {n: {"value": v, "unit": metrics.unit_of(n)} for n, v in values.items()}
    else:
        values = metrics.end_to_end(raw)
        units = dict(metrics.END_TO_END)
        result = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
