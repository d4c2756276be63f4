"""Benchmark command: one seeded workload against the engine, its outputs
checked, its metrics printed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source on first use (perfbench/build.py), writes the workload's inputs
with perfbench/gen.py, runs the Scala harness (perfbench/src) in one JVM
with Spark as local[<cores>], then checks the outputs and prints one
`metric <name> <value> <unit>` line per metric and, as the last line,
the JSON result. `--trace 0` reports the end-to-end metrics; `--trace 1`
records spans around every call into a layer and reports the per-layer
metrics, and leaves the span tree under .bench_build/perfbench/traces/.
Exit status 0 means the run completed and every check passed.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 170
# a fixed, pre-touched heap keeps peak RSS from following the collector's
# resizing and from how much of the heap a short run happens to touch
JVM_OPTS = ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_steal_s():
    """CPU time the host took from this machine so far (all CPUs), in
    seconds; 0 where /proc/stat has no steal column."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(cp, args, scratch):
    """Run the harness and wait for it; a timeout kills it and waits too."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Djava.io.tmpdir=" + tmp] + JVM_OPTS + ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness failed (%s):\n%s" % (code, tail))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    cp = build.ensure(root)
    work = os.path.join(root, build.OUT, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs, scratch = os.path.join(work, "input"), os.path.join(work, "scratch")
    try:
        expect = gen.generate(a.workload, a.seed, a.seconds, inputs)
        steal0 = cpu_steal_s()
        run_jvm(cp, ["--workload", a.workload, "--input", inputs, "--scratch", scratch,
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--cores", str(cores())], scratch)
        with open(os.path.join(scratch, "raw.json")) as f:
            raw = json.load(f)
        e2e, layer, checks, attempted, failed = metrics.evaluate(a.workload, raw, expect, inputs)
        layer["host.cpu_steal_s"] = cpu_steal_s() - steal0
        for op in raw.get("reader", []) + raw.get("writer", []):
            for err in op["errors"]:
                print("perfbench: %s failed: %s" % (op["kind"], err[:400]), file=sys.stderr)
        if a.trace:
            traces = os.path.join(root, build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump({k: raw[k] for k in raw if k in ("trace", "progress")}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    table = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    shown = metrics.render(layer if a.trace else e2e, table)
    for name, ok, detail in checks:
        print("check %-36s %s  %s" % (name, "ok" if ok else "FAILED", detail))
    for name, m in shown.items():
        print("metric %-44s %.6g %s" % (name, m["value"], m["unit"]))
    correct = all(ok for _, ok, _ in checks)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        code = main(sys.argv[1:])
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        code = 2
    sys.exit(code)
