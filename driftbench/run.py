"""Drift-diff benchmark: `graft run` end to end.

    python3 driftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source
(build.py), generates the workload's two sides from the seed in this
process (fixtures.py, outside the timed JVM), then starts one JVM that sets
up, compares in a closed loop and checks every compare against the
generator's ground truth (scala/DriftBench.scala).

The last stdout line is one compact JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. See README.md for what each workload and metric is for.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixtures  # noqa: E402

HEAP = "4g"
SETUPS = 5       # set-ups per process; setup_s is their median
WARMUP = 10      # warm compares discarded before measuring diff_s
KEEP_FIXTURES = 6
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within 180 s

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def fixture(workload, seed):
    """Fixture directory for (workload, seed), generated once and cached
    under the generator's own hash, so a changed generator never reuses it."""
    root = os.path.join(BUILD, "fixtures")
    with open(fixtures.__file__, "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(root, f"{workload}-{seed}-{gen}")
    if not os.path.isfile(os.path.join(d, "truth.json")):
        os.makedirs(root, exist_ok=True)
        old = sorted((os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime)
        for stale in old[:max(0, len(old) - KEEP_FIXTURES + 1)]:
            shutil.rmtree(stale, ignore_errors=True)
        fixtures.generate(workload, seed, d)
    os.utime(d)
    return d


def run_jvm(classes, fx, work, seconds, trace, timeout):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.SPARK_JARS}/*", "driftbench.DriftBench",
              "--fixture", fx, "--work", work, "--seconds", str(seconds),
              "--trace", str(trace), "--warmup", str(WARMUP), "--setups", str(SETUPS),
              "--result", os.path.join(work, "result.json")])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM did not finish within {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=fixtures.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build(ROOT, BUILD)
    start = time.monotonic()
    fx = fixture(a.workload, a.seed)
    with open(os.path.join(fx, "truth.json")) as fh:
        truth = json.load(fh)
    work = os.path.join(BUILD, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    code = run_jvm(classes, fx, work, a.seconds, a.trace,
                   RUN_LIMIT_S - (time.monotonic() - start))
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with code {code}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    metrics = res["metrics"]
    attempted, failed = res["attempted"], res["failed"]
    if not a.trace:
        metrics["pass_frac"] = {"value": (attempted - failed) / attempted, "unit": "ratio"}
        metrics["out_bytes_per_in_byte"] = {
            "value": dir_bytes(os.path.join(work, "out")) / truth["input_bytes"], "unit": "ratio"}
    print(f"workload {a.workload} seed {a.seed}: {truth['input_rows']['db1']} + "
          f"{truth['input_rows']['db2']} input rows, {truth['input_bytes']} input bytes; "
          f"{attempted} compares, fail_frac {failed / attempted:.4f}")
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")
    line = json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics}, separators=(",", ":"))
    if len(line) > 2000:
        print(f"warning: result line has {len(line)} characters, more than a 2000-character "
              "log tail keeps", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
