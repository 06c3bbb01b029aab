#!/usr/bin/env python3
"""End-to-end benchmark of the shipped consume job and the near-dup dedup job.

    python3 perfbench/run.py --workload consume_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline) into `.bench_build/`; later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, runs the job in fresh JVMs on local[4], checks every call's written
outputs against the program's DuckDB oracle, and prints one JSON object as
its last line. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"
# a fixed young generation: with G1 sizing it adaptively, the after-GC heap
# occupancy of a run depended on early sizing decisions, not on the job
YOUNG = "512m"
JVM_TIMEOUT_S = 170
# warm calls per run at least, whatever --seconds
MIN_WARM = 2
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need}); run from a full checkout")
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log("perfbench: building program and harness (sbt, offline) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        log(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------- JVM runs

def warm_calls(wl, seconds):
    """The run's repeated calls after the cold one: `seconds` over the
    workload's nominal warm-call time, leaving at least MIN_WARM timed
    calls after the workload's untimed JIT warm-up calls. The count does
    not depend on the host's speed, so a slow period makes a run longer,
    not its calls fewer and less warmed up."""
    return max(wl["warmup"] + MIN_WARM, round(seconds / wl["warm_call_s"]))


def cpu_ticks():
    """The VM's (busy, steal) CPU ticks, as PerfMain.cpuTicks reads them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return 0, 0
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def unstolen(wall, busy, steal):
    """`wall` less the CPU time the hypervisor withheld from the VM.

    Steal ticks count time a virtual CPU had work but ran another guest, so
    the VM received busy / (busy + steal) of the CPU time its threads
    asked for. This is the set-up's correction, over the whole set-up; the
    JVM integrates the same share over 100 ms intervals for each call
    (PerfMain.StealClock). On a host with no steal this is `wall` itself."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def jvm(cp, mode, wl, in_dir, out_dir, record, warm=0):
    """Run one PerfMain JVM to completion; return its record (or None)."""
    args = ["--mode", mode, "--in", in_dir, "--out", out_dir, "--record", record,
            "--cores", str(CORES), "--warm", str(warm),
            "--warmup", str(wl["warmup"] if warm else 0)] + wl["jvm_args"]
    tmp = os.path.join(os.path.dirname(record), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["graft.perfbench.PerfMain"] + args)
    launch = cpu_ticks()
    with open(record + ".log", "w") as logf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(record + ".log") as f:
            log(f.read()[-3000:])
        log(f"perfbench: {mode} JVM failed ({rc})")
        return None
    with open(record) as f:
        rec = json.load(f)
    rec["setup_busy_ticks"] -= launch[0]
    rec["setup_steal_ticks"] -= launch[1]
    with open(record + ".sql") as f:
        rec["oracle_sql"] = f.read()
    return rec


def expected_output(con, wl, oracle_sql):
    sql = (check.corpus_oracle_sql(oracle_sql) if wl["kind"] == "corpus"
           else check.consume_oracle_sql(oracle_sql, wl))
    return con.execute(sql).df()


def check_call(con, wl, expected, out):
    if wl["kind"] == "corpus":
        return check.check_corpus(con, expected, out)
    return check.check_consume(con, expected, out, wl)


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def describe(xs):
    """Median plus the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return "no samples"
    tail = [(p, xs[min(n - 1, int(p / 100 * n))]) for p in (99, 90) if n * (1 - p / 100) >= 10]
    hi = f"p{tail[0][0]} {tail[0][1]:.4f}" if tail else f"max {xs[-1]:.4f}"
    return f"median {median(xs):.4f}, {hi} (n={n})"


# ---------------------------------------------------------------- modes

def run_untraced(cp, wl, work, in_dir, warm, con):
    """One JVM with the cold call and the repeated calls; returns
    (its record, each call checked, and the expected output)."""
    d = os.path.join(work, "job")
    os.makedirs(d)
    rec = jvm(cp, "untraced", wl, in_dir, os.path.join(d, "out"),
              os.path.join(d, "record.json"), warm)
    if rec is None:
        fail("benchmark JVM did not complete")
    t0 = time.time()
    expected = expected_output(con, wl, rec["oracle_sql"])
    t1 = time.time()
    for c in rec["calls"]:
        c["problems"] = [c["error"]] if c["error"] else check_call(
            con, wl, expected, os.path.join(d, "out", c["name"]))
    log(f"perfbench: oracle {t1 - t0:.1f} s, output checks {time.time() - t1:.1f} s")
    return rec, expected


def untraced(cp, wl, work, in_dir, props, seconds, con):
    rec, _ = run_untraced(cp, wl, work, in_dir, warm_calls(wl, seconds), con)
    calls = rec["calls"]
    failed = sum(1 for c in calls if c["problems"])
    setup = unstolen(rec["setup_s"], rec["setup_busy_ticks"], rec["setup_steal_ticks"])
    cold = [c["host_s"] for c in calls if c["kind"] == "cold"]
    warm = [c["host_s"] for c in calls if c["kind"] == "warm"]
    heap = [c["peak_heap_mb"] for c in calls]
    for c in calls:
        share = ratio(c["steal_ticks"], c["busy_ticks"] + c["steal_ticks"])
        print(f"call {c['name']:>8} wall {c['wall_s']:.4f} s  steal {share:.3f}  "
              f"less steal {c['host_s']:.4f} s  peak heap {c['peak_heap_mb']:.1f} MB  "
              f"calib {c['calib_s']:.3f} s  load1 {c['load1']:.2f}  "
              f"{'; '.join(c['problems']) or 'ok'}")
    print(f"setup_s      {setup:.4f} s (wall {rec['setup_s']:.4f} s)")
    print(f"job_cold_s   {describe(cold)} s")
    print(f"job_warm_s   {describe(warm)} s")
    print(f"peak_heap_mb max {max(heap):.4f} MB over the run's calls")
    print(f"error_rate   {failed}/{len(calls)} = {failed / len(calls):.4f}  "
          f"output check: {'PASS' if not failed else 'FAIL'}")
    m = {
        "setup_s": (setup, "s"),
        "job_cold_s": (median(cold), "s"),
        "job_warm_s": (median(warm), "s"),
        "rows_per_s": (props["rows"] / median(warm), "1/s"),
        "peak_heap_mb": (max(heap), "MB"),
    }
    for k, (v, u) in m.items():
        print(f"metric {k} = {v:.4f} {u}")
    return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}


def traced(cp, wl, work, in_dir, props, con):
    """One untraced cold call and one traced cold call, each in a fresh JVM."""
    rec, expected = run_untraced(cp, wl, work, in_dir, 0, con)
    calls = rec["calls"]
    d = os.path.join(work, "traced")
    os.makedirs(d)
    rec = jvm(cp, "traced", wl, in_dir, os.path.join(d, "out"), os.path.join(d, "record.json"))
    if rec is None:
        fail("traced JVM did not complete")
    tcall = rec["calls"][0]
    traced_out = os.path.join(d, "out", "traced")
    problems = [tcall["error"]] if tcall["error"] else check_call(con, wl, expected, traced_out)
    if not problems:
        same = check.same_rows(con, traced_out, os.path.join(work, "job", "out", "cold"),
                               wl["kind"] == "consume")
        problems = [same] if same else []
    tcall["problems"] = problems
    calls.append(tcall)
    failed = sum(1 for c in calls if c["problems"])
    for c in calls:
        print(f"call {c['name']:>6} wall {c['wall_s']:.4f} s  {'; '.join(c['problems']) or 'ok'}")

    t = rec["trace"]
    wall = tcall["wall_s"]
    layers = layer_metrics(t, wl, props, traced_out)
    self_times = [v for k, (v, _) in layers.items() if k in SELF_TIME_KEYS]
    layers["unattributed_s"] = (wall - sum(self_times), "s")
    layers["trace_overhead_s"] = (wall - calls[0]["wall_s"], "s")
    print(f"traced wall {wall:.4f} s = layer self times {sum(self_times):.4f} s + "
          f"unattributed {layers['unattributed_s'][0]:.4f} s; untraced cold wall "
          f"{calls[0]['wall_s']:.4f} s; trace overhead {layers['trace_overhead_s'][0]:.4f} s")
    for k, (v, u) in layers.items():
        print(f"layer {k} = {v:.4f} {u}")
    return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}}


SELF_TIME_KEYS = {"sources.s", "repair.s", "stage1.s", "side.s", "enrich.s", "final.s",
                  "modify.s", "sinks.json_s", "sinks.csv_s", "sinks.table_s",
                  "dedup.signatures_s", "dedup.candidates_s", "dedup.verify_s",
                  "dedup.components_s"}


def ratio(a, b):
    return a / b if b else 0.0


def layer_metrics(t, wl, props, out):
    """The per-layer metrics of BENCHMARK.json from one traced record."""
    g = lambda k: float(t.get(k, 0.0))  # noqa: E731
    files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
             if f.startswith("part-")]
    partitions = [x for x in os.listdir(os.path.join(out, "table"))
                  if x.startswith("partition_month=")] if os.path.isdir(os.path.join(out, "table")) else []
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def cost(layer):
        put(f"{layer}.jobs", g(f"{layer}.jobs"), "count")
        put(f"{layer}.task_s", g(f"{layer}.task_s"), "s")
        put(f"{layer}.shuffle_mb", g(f"{layer}.shuffle_mb"), "MB")
        put(f"{layer}.spill_mb", g(f"{layer}.spill_mb"), "MB")

    put("sources.s", g("sources.s"), "s")
    put("sources.read_mb", g("sources.read_mb"), "MB")
    put("sources.read_rows", g("sources.read_rows"), "count")
    put("repair.s", g("repair.s"), "s")
    put("repair.rows_out", g("repair.rows_out"), "count")
    put("repair.resurrected_frac", ratio(g("repair.resurrected"), g("events.tombstones")), "ratio")
    cost("repair")
    put("stage1.s", g("stage1.s"), "s")
    put("stage1.rows_out", g("stage1.rows_out"), "count")
    put("stage1.kept_frac", ratio(g("stage1.rows_out"), g("repair.rows_out")), "ratio")
    cost("stage1")
    put("side.s", g("side.s"), "s")
    put("side.rows_out", g("side.rows_out"), "count")
    cost("side")
    put("enrich.s", g("enrich.s"), "s")
    put("enrich.rows_out", g("enrich.rows_out"), "count")
    cost("enrich")
    put("final.s", g("final.s"), "s")
    put("final.rows_out", g("final.rows_out"), "count")
    put("final.invalid_users", g("final.invalid_users"), "count")
    cost("final")
    put("modify.s", g("modify.s"), "s")
    cost("modify")
    put("sinks.json_s", g("sinks.json_s"), "s")
    put("sinks.csv_s", g("sinks.csv_s"), "s")
    put("sinks.table_s", g("sinks.table_s"), "s")
    put("sinks.written_mb", g("sinks.written_mb"), "MB")
    put("sinks.files", len(files), "count")
    put("sinks.partitions", len(partitions), "count")
    cost("sinks")
    put("dedup.signatures_s", g("dedup.signatures_s"), "s")
    put("dedup.candidates_s", g("dedup.candidates_s"), "s")
    put("dedup.candidate_pairs", g("dedup.candidate_pairs"), "count")
    put("dedup.verify_s", g("dedup.verify_s"), "s")
    put("dedup.verified_pairs", g("dedup.verified_pairs"), "count")
    put("dedup.precision", ratio(g("dedup.verified_pairs"), g("dedup.candidate_pairs")), "ratio")
    put("dedup.components_s", g("dedup.components_s"), "s")
    put("dedup.components_jobs", g("dedup.components_jobs"), "count")
    put("dedup.dropped_frac", ratio(props["rows"] - g("sinks.written_rows"), props["rows"])
        if wl["kind"] == "corpus" else 0.0, "ratio")
    cost("dedup")
    for k, u in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("job_median_s", "s"), ("task_s", "s"), ("busy_frac", "ratio"),
                 ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
                 ("cached_mb", "MB")]:
        put(f"spark.{k}", g(f"spark.{k}"), u)
    put("planning.s", g("planning.s"), "s")
    for k, u in [("codegen_s", "s"), ("codegen_classes", "count"), ("jit_s", "s"),
                 ("gc_s", "s"), ("classes_loaded", "count")]:
        put(f"jvm.{k}", g(f"jvm.{k}"), u)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    try:
        t0 = time.time()
        props = gen.generate(wl, a.seed, in_dir)
        log(f"perfbench: {a.workload} seed {a.seed} inputs {json.dumps(props)} "
            f"({time.time() - t0:.1f} s)")
        con = check.connect(in_dir, wl["tables"])
        if a.trace:
            result = traced(cp, wl, work, in_dir, props, con)
        else:
            result = untraced(cp, wl, work, in_dir, props, a.seconds, con)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
