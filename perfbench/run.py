#!/usr/bin/env python3
"""graft benchmark: four seeded workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), starts one JVM with Spark in local mode on `nproc`
worker threads, and runs the workload as a closed loop with one caller.
Outputs are checked (perfbench/check.py) after the timed region. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run (see README.md). Everything the run
writes goes under $CARGO_TARGET_DIR (default .bench_build)/perfbench.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Input size per workload: scenes, documents, documents, events. Chosen so
# one steady execution takes a few seconds on 4 cores and a whole run,
# with two JVM starts, stays inside its time budget.
SIZES = {
    "landsat_pipeline": 40,
    "text_dedup": 2000,
    "posting_store": 20000,
    "events_timeseries": 200000,
}
WORKLOADS = list(SIZES)
# The traced run probes every workload's layers, over these smaller inputs.
PROBE_SIZES = {
    "landsat_pipeline": 40,
    "text_dedup": 1000,
    "posting_store": 2000,
    "events_timeseries": 20000,
}
# setup_s is the median of two JVM starts, one at each end of the run: the
# harness JVM's own and a set-up probe's after it. On a shared VM set-up
# time drifts with the load of other tenants over minutes, so starts within
# one run move together and a third start would hardly steady the figure;
# it would cost 7 s a run, and the 4 + 22 runs per workload of one pass
# must fit in 3,420 s.
JVM_TIMEOUT_S = 150
HEAP = "3g"

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def generate(workload, seed, size, root, kind="data"):
    """Generates (or reuses, when seed, size and generator match) one input set."""
    out = os.path.join(root, kind, workload)
    with open(gen.__file__, "rb") as f:
        key = f"{workload} {seed} {size} {hashlib.sha256(f.read()).hexdigest()}"
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.isdir(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    gen.generate(workload, seed, size, out)
    with open(stamp, "w") as f:
        f.write(key)
    return out


class Jvm:
    """The harness JVM; `ready_s` is the time from its start to a ready session."""

    def __init__(self, classpath, work, args):
        self.work = work
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/spark-local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main"] + args
        self.stderr_path = os.path.join(work, "jvm.log")
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env,
                                     stderr=open(self.stderr_path, "w"), text=True,
                                     start_new_session=True)
        self.ready_s = None
        for line in self.proc.stdout:
            if line.strip() == "PERFBENCH READY":
                self.ready_s = time.monotonic() - self.t0
                break
        if self.ready_s is None:
            self.fail("the JVM exited before its session was ready")

    def wait(self):
        try:
            self.proc.stdout.read()
            rc = self.proc.wait(timeout=max(1, JVM_TIMEOUT_S - (time.monotonic() - self.t0)))
        except subprocess.TimeoutExpired:
            self.kill()
            self.fail(f"the JVM ran past {JVM_TIMEOUT_S} s")
        if rc != 0:
            self.fail(f"the JVM exited with {rc}")

    def kill(self):
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()

    def fail(self, why):
        self.kill()
        with open(self.stderr_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        log(why)
        sys.exit(1)


def setup_probe(classpath, work):
    """Starts a JVM that creates the session and stops; returns its set-up
    time. Its scratch directories are removed."""
    j = Jvm(classpath, work, ["setup"])
    j.kill()
    shutil.rmtree(work, ignore_errors=True)
    return j.ready_s


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.abspath(build.default_out())
    os.makedirs(root, exist_ok=True)
    classpath = build.build(root)
    data = generate(a.workload, a.seed, SIZES[a.workload], root)
    probes = []
    if a.trace:
        # The traced run measures every layer, whichever workload it times.
        probes = [(w, generate(w, a.seed, PROBE_SIZES[w], root, "probe")) for w in WORKLOADS]

    work = os.path.join(root, "work")
    shutil.rmtree(work, ignore_errors=True)
    args = ["run", "--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    for w, d in probes:
        args += ["--probe", f"{w}={d}"]
    j = Jvm(classpath, work, args)
    j.wait()
    # The traced run reports no setup_s, so it starts no set-up probe.
    setups = [] if a.trace else [j.ready_s, setup_probe(classpath, work + "-setup")]
    with open(os.path.join(work, "result.json")) as f:
        r = json.load(f)

    problems = check.check_workload(a.workload, data, os.path.join(work, "check"))
    for p in problems:
        log(f"CHECK FAILED {a.workload}: {p}")

    if a.trace:
        values = dict(r["layers"])
        values.update(check.d2_metrics(probes[WORKLOADS.index("text_dedup")][1],
                                       os.path.join(work, "trace", "text_dedup", "d2_pairs")))
    else:
        values = {
            "setup_s": median(setups),
            "cpu_s": median(r["thread_cpu_s"]),
            "shuffle_mb": median(r["shuffle_mb"]),
            "heap_live_mb": r["heap_live_mb"],
        }
    # Printed for reference only: from run to run on a shared VM the wall
    # times spread by more than any bound BENCHMARK.json may set (README.md).
    reference = {} if a.trace else {"cold_s": (r["cold_s"], "s"),
                                    "wall_s": (median(r["wall_s"]), "s")}
    if r["store_mb"]:
        reference["store_mb"] = (median(r["store_mb"]), "MB")
    # Names and units come from BENCHMARK.json; a metric it names that the
    # run did not produce is an error.
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        log(f"the run produced no value for {missing}")
        sys.exit(1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    for k, m in metrics.items():
        print(f"{a.workload}/{k} {m['value']:.6g} {m['unit']}")
    for k, (v, unit) in reference.items():
        print(f"{a.workload}/{k} {v:.6g} {unit} (reference)")
    print(f"{a.workload}/operations attempted={r['attempted']} failed={r['failed']}"
          f" steady_executions={len(r['wall_s'])}")
    print(json.dumps({"correct": not problems, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
