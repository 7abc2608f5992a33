#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_report --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the engine and the harness
(perfbench/build.py), runs the workload over the fixture tables in
perfbench/fixtures in a fresh perfbench.Harness JVM on local[n] (n is
half the box's processors) and checks every query's full result against
its DuckDB oracle (SparkEntry.oracleSql). Human-readable lines come first; the
last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are the end-to-end
ones of BENCHMARK.json, with --trace 1 the per-layer ones. The exit
code is non-zero when any execution failed or any result differs from
its oracle, after the metrics are printed.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

# BENCHMARK.json runs graph_fixpoint and etl_report; the other two stay
# runnable by hand (see README.md for why they are not in it).
WORKLOADS = ("graph_fixpoint", "etl_report", "stream_drain", "corpus_curation")
# The engine's own fixture tables (FIXTURES.md section A): a copy of the
# deterministic sf0.001 set its tests and smoke runs read. Per-query fixed costs (planning,
# codegen, job scheduling) dominate even here; README.md says why the
# larger sets do not fit the benchmark's time budget.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.001")
# A run's JVM may take --seconds plus this much for setup, a pass that
# overruns the budget and the verify writes before it is stopped; with
# BENCHMARK.json's run_seconds a stopped run still ends within 180 s.
JVM_ALLOWANCE_S = 125
# The heap the engine's own launcher (scripts/run.sh) gives it.
HEAP = ["-Xmx8g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_DIR = ".bench_run"


def processors():
    """The processors the JVM is told it has: half of this box's, at least
    two. Spark runs local[n] on them with n shuffle partitions, and the
    JVM sizes its JIT and GC thread pools by them; the passes run on that
    many processors of the box (measured_cpus)."""
    return max(2, len(os.sched_getaffinity(0)) // 2)


def measured_cpus():
    """The processors the passes run on: the last processors() of this
    box's (all of them on a box of two or fewer). The JVM keeps them busy,
    so they seldom sit idle, and a wake-up of one of its threads seldom
    waits for the host to reschedule an idle processor, which on a shared
    host costs far more than the time the host reports as stolen
    (README.md, Steadiness)."""
    return set(sorted(os.sched_getaffinity(0))[-processors():])


def move_threads(pid, cpus):
    """Moves every thread of process pid onto cpus. Threads it starts
    later inherit the set from the thread that starts them; a sweep
    repeats until it finds no thread it has not moved."""
    moved = set()
    while True:
        try:
            tids = set(os.listdir(f"/proc/{pid}/task")) - moved
        except FileNotFoundError:
            return
        if not tids:
            return
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread has ended
                pass
        moved |= tids


def settled(warm):
    """The later half of the warm passes (at least one). The first warm
    passes of a fixpoint workload still run faster pass by pass while the
    JIT catches up (README.md, Steadiness); the warm figures are taken
    once that has settled."""
    return warm[len(warm) // 2:]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        cols = [int(x) for x in f.readline().split()[1:]]
    return (cols[7] if len(cols) > 7 else 0), sum(cols)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def java(classes, tmp):
    """The java command line of a Harness JVM whose scratch files go to tmp."""
    cmd = ["java"] + HEAP + [f"-XX:ActiveProcessorCount={processors()}",
           f"-Dperfbench.verifyThreads={2 * len(os.sched_getaffinity(0))}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = os.path.join(build.spark_jars(), "*")
    return cmd + ["-cp", f"{os.path.abspath(classes)}:{jars}", "perfbench.Harness"]


def harness(classes, workload, seed, seconds, trace, data, out):
    """Runs one Harness JVM to completion and returns its result.json."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.abspath(os.path.join(out, "tmp"))
    os.makedirs(tmp)
    cmd = java(classes, tmp) + ["run", workload, str(seed), str(seconds), str(trace),
                                os.path.abspath(data), os.path.abspath(out),
                                str(int(time.time() * 1000))]
    # The JVM announces each phase with a file in out and waits for the
    # acknowledgement: setup runs on all processors, the passes only on
    # measured_cpus() (README.md, Steadiness), the verify writes on all.
    phases = {"passes": measured_cpus(), "verify": os.sched_getaffinity(0)}
    deadline = time.monotonic() + seconds + JVM_ALLOWANCE_S
    with open(os.path.join(out, "stderr.log"), "wb") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=err, start_new_session=True)
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                for name in [n for n in phases if os.path.exists(f"{out}/phase-{n}")]:
                    move_threads(proc.pid, phases.pop(name))
                    open(f"{out}/phase-{name}.ack", "w").close()
                time.sleep(0.005)
            why = (f"exited with code {proc.returncode}" if proc.poll() is not None
                   else f"was stopped after {seconds + JVM_ALLOWANCE_S:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.isfile(result):
        sys.exit(f"harness {why}; see {out}/stderr.log")
    with open(result) as f:
        return json.load(f)


def quantile(xs, q):
    """Nearest-rank quantile."""
    v = sorted(xs)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def main(argv):
    # a terminated run still stops its JVM (harness() kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default=None,
                    help="perturb this query's expected result (self-test of the oracle check)")
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        sys.exit(f"unknown workload {a.workload!r}; choose one of {', '.join(WORKLOADS)}")
    if a.seconds <= 0:
        sys.exit("--seconds must be positive")

    classes = build.ensure_built(".")
    missing = [t for t in oracle.TABLES if not os.path.isfile(f"{FIXTURES}/{t}.parquet")]
    if missing:
        sys.exit(f"no fixture tables {', '.join(missing)} under {FIXTURES}")

    steal0, total0 = cpu_jiffies()
    out = os.path.join(RUN_DIR, "out", f"{a.workload}_s{a.seed}_t{a.trace}")
    res = harness(classes, a.workload, a.seed, a.seconds, a.trace, FIXTURES, out)
    steal1, total1 = cpu_jiffies()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)

    passes = res["passes"]
    # in a traced run the end-to-end figures come from its untraced passes
    warm = [p for p in passes[1:] if not p["traced"]]
    warm_samples = [s for p in settled(warm) for s in p["samples"]]
    executions = [s for p in passes for s in p["samples"]] + res["verify"]
    errors = [(s["name"], s["error"]) for s in executions if s["error"]]
    mismatches = oracle.check(FIXTURES, out + "/results", res["oracles"],
                              [s["name"] for s in res["verify"] if not s["error"]],
                              a.corrupt)
    attempted = len(executions)
    failed = len(errors) + len(mismatches)
    ok_times = [s["wall_s"] for s in warm_samples if not s["error"]]

    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in settled(warm)), "s"),
        "query_p50_s": (quantile(ok_times, 0.5) if ok_times else 0.0, "s"),
    }
    print(f"workload {a.workload}: {len(passes[0]['samples'])} queries, seed {a.seed}, "
          f"fixtures {os.path.basename(FIXTURES)}, {res['cores']} cores, {len(warm)} warm passes "
          f"(the last {len(settled(warm))} measured)")
    print(f"order of pass 0: {' '.join(passes[0]['order'])}")
    print(f"passes ran on processors {res['pass_cpus']}")
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:12.4f} {u}")
    print(f"  query_p50_s samples: {len(ok_times)}")
    print(f"  peak_rss_mb    {res['peak_rss_mb']:12.4f} MB")
    if len(ok_times) >= 100:
        print(f"  query_p90_s    {quantile(ok_times, 0.9):12.4f} s  ({len(ok_times)} samples)")
    else:
        print(f"  query_p90_s    not reported: {len(ok_times)} samples < 100")
    print(f"  failed_frac    {failed / attempted:12.4f}  ({failed} of {attempted})")
    print(f"  steal_pct      {steal_pct:12.2f} %   loadavg {' '.join(map(str, loadavg()))}")
    for name, msg in errors:
        print(f"  FAILED {name}: {msg}")
    for name, msg in mismatches:
        print(f"  MISMATCH {name}: {msg}")

    if a.trace:
        layers = dict(res["layers"])
        layers["SessionEnv.session_s"] = res["session_s"]
        layers["SessionEnv.warmup_s"] = res["warmup_s"]
        layers["functions.shingle_minhash_s"] = res["kernels"]["shingle_minhash_s"]
        layers["functions.qdot_s"] = res["kernels"]["qdot_s"]
        traced_warm = statistics.median(
            p["wall_s"] for p in settled([p for p in passes[1:] if p["traced"]]))
        untraced_warm = e2e["warm_pass_s"][0]
        layers["trace.untraced_warm_pass_s"] = untraced_warm
        layers["trace.traced_warm_pass_s"] = traced_warm
        layers["trace.overhead_s"] = traced_warm - untraced_warm
        layers["run.steal_pct"] = steal_pct
        layers["run.peak_rss_mb"] = res["peak_rss_mb"]
        layers["run.loadavg_1m"] = loadavg()[0]
        if not (layers["streaming.triggers"] or layers["cold.streaming.triggers"]):
            # no drains in this workload: its streaming layer is not measured
            layers = {k: v for k, v in layers.items() if "streaming." not in k}
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        print(f"  tracing overhead {traced_warm - untraced_warm:+.4f} s per warm pass "
              f"(traced {traced_warm:.4f} s, untraced {untraced_warm:.4f} s); "
              f"spans in {out}/spans.jsonl")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_pct", "%"),
                         ("_frac", "ratio"), ("_1m", "load")):
        if leaf.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
