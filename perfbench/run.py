#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine and the benchmark (perfbench/build.py) and builds the pristine view
state; later runs reuse both from .bench_build/. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The full
record of the run (every op sample, spans, environment) is written to
.bench_build/results/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["star_etl", "llm_curation", "multi_job", "corpus_refresh"]


def fixture_dir():
    """The sf0.1 fixture: GRAFT_BENCH_SF, else the directory TESTDATA.md
    lists for scale factor 0.1."""
    if os.environ.get("GRAFT_BENCH_SF"):
        return os.environ["GRAFT_BENCH_SF"]
    try:
        with open("TESTDATA.md") as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
        return m.group(1).rstrip("/") if m else None
    except OSError:
        return None


SF = fixture_dir()
RUN_LIMIT_S = 175
# corpus_refresh is run by hand, not in BENCHMARK.json: its set-up builds
# every view and each of its (at least three) passes builds them again,
# so a traced run takes longer than the others' limit
BY_HAND_LIMIT_S = {"corpus_refresh": 420}
STEAL_LIMIT = 0.05
FIRST_RUN_LIMIT_S = 880


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def java_cmd(classpath, tmpdir, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # the heap the program's own `sbt run` gives it (build.sbt); the
    # run's temp, warehouse and view files stay in its own directory
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmpdir, 'warehouse')}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.PerfBench"] + args


def run_jvm(cmd, env, limit_s, log_path):
    """Runs the JVM in its own process group and waits for it; kills the
    group on timeout or when this process is interrupted or terminated."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def log_tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def jvm_env(local_dir):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local_dir
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    return env


def nproc():
    return len(os.sched_getaffinity(0))


def prepare_views(bb, classpath, key, deadline):
    """The pristine view state (every MVWarm view at SF), built once per
    engine build and copied into every run."""
    pristine = os.path.join(bb, f"views-{key}")
    if os.path.isfile(os.path.join(pristine, "manifest.json")):
        return pristine
    tmp = pristine + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "local"))
    cmd = java_cmd(classpath, tmp, ["prepare", SF, os.path.join(tmp, "manifest.json")])
    rc = run_jvm(cmd, jvm_env(os.path.join(tmp, "local")), deadline - time.time(),
                 os.path.join(bb, "prepare.log"))
    if rc != 0:
        fail(f"view preparation failed (rc={rc}):\n" + log_tail(os.path.join(bb, "prepare.log")))
    for d in os.listdir(tmp):
        if d not in ("graft-mv", "manifest.json"):
            shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)
    os.rename(tmp, pristine)
    return pristine


def fixture_key():
    h = hashlib.sha256(SF.encode())
    for t in sorted(os.listdir(SF)):
        st = os.stat(os.path.join(SF, t))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def oracle_digests(bb, ops):
    """(rows, digest) of each op's DuckDB oracle, cached by SQL text."""
    cache_dir = os.path.join(bb, "oracle-" + fixture_key())
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for op in ops:
        sql = op.get("oracle")
        if not sql:
            continue
        path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".json")
        if os.path.isfile(path):
            with open(path) as f:
                out[op["name"]] = tuple(json.load(f))
            continue
        if con is None:
            con = oracle.connect(SF)
            con.execute(f"SET threads = {nproc()}")
        try:
            ref = oracle.digest(con, sql)
        except Exception as e:  # an oracle error fails the op, never the run
            out[op["name"]] = (None, f"oracle error: {e}")
            continue
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
        out[op["name"]] = ref
    return out


def check(res, bb):
    """Marks every sample correct or not; returns the failure list."""
    refs = oracle_digests(bb, res["ops"])
    with open(os.path.join(HERE, "view_digests.json")) as f:
        view_refs = json.load(f)
    failures = []
    for s in res["samples"]:
        why = s.get("error")
        if why is None:
            if s["op"] in view_refs:
                if s.get("digest") != view_refs[s["op"]]:
                    why = "view digest differs from the recorded one"
            elif s["op"] not in refs:
                why = "no oracle for this op"
            else:
                rows, dig = refs[s["op"]]
                if rows is None:
                    why = dig
                elif (s.get("rows"), s.get("digest")) != (rows, dig):
                    why = f"result differs from the oracle (rows {s.get('rows')} vs {rows})"
        s["correct"] = why is None
        if why is not None:
            failures.append({"op": s["op"], "pass": s["pass"], "why": why})
    return failures


def tail_percentile(xs):
    """The highest whole percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 0, -1):
        k = max(1, math.ceil(p / 100 * n))
        if n - k >= 10:
            return p, xs[k - 1]
    return 50, statistics.median(xs)


def end_to_end(res):
    """The end-to-end figures of an untraced run: the metrics gated in
    BENCHMARK.json, and the others the run records and prints.

    `pass_s` is the median wall time of the measured passes (each pass
    starts from the pristine view state, restored outside its window)
    and `geomean_ms` the geometric mean over ops of each op's median
    wall time; these two and `setup_s` are gated. Recorded beside them:
    `op_p50_ms`, the median over every op sample, which with 15 to 25
    samples of ops that differ tenfold in length jumps between the ops
    next to the middle; `op_tail_ms`, the highest percentile with at
    least ten samples beyond it, which with so few samples lies near the
    median and changes percentile with the number of passes that fit;
    `rss_peak_mb`, the JVM's VmHWM, which follows when the collector
    grows the heap; and the JVM's CPU time per op."""
    samples = res["samples"]
    walls = [s["wall_ns"] / 1e6 for s in samples]
    by_op, by_op_cpu = {}, {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["wall_ns"] / 1e6)
        by_op_cpu.setdefault(s["op"], []).append(s["cpu_ns"] / 1e6)

    def geomean(by):
        return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by.values()))

    p, tail = tail_percentile(walls)
    metrics = {
        "pass_s": (statistics.median(res["pass_ns"]) / 1e9, "s"),
        "geomean_ms": (geomean(by_op), "ms"),
        "setup_s": (res["setup"]["setup_s"], "s"),
    }
    recorded = {
        "op_p50_ms": (statistics.median(walls), "ms"),
        "op_tail_ms": (tail, "ms"),
        "rss_peak_mb": (res["vm_hwm_kb"] / 1024.0, "MB"),
    }
    detail = {**{k: v for k, (v, _) in recorded.items()},
              "op_tail_percentile": p, "op_samples": len(walls), "passes": res["passes"],
              "pass_walls_s": [n / 1e9 for n in res["pass_ns"]],
              "pass_cpu_s": statistics.median(res["pass_cpu_ns"]) / 1e9,
              "op_cpu_p50_ms": statistics.median(s["cpu_ns"] / 1e6 for s in samples),
              "geomean_cpu_ms": geomean(by_op_cpu)}
    return metrics, recorded, detail


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(res, cores):
    samples = res["samples"]
    passes = res["passes"]
    execs = res["execs"]
    tot = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v

    wall_s = 0.0
    for s in samples:
        wall_s += s["wall_ns"] / 1e9
        e = execs.get(f"p{s['pass']}:{s['op']}", {})
        for k in ("jobs", "stages", "tasks", "small_tasks", "failed_tasks", "task_ms", "cpu_ns",
                  "gc_ms", "in_bytes", "in_rows", "shuffle_write", "shuffle_read",
                  "fetch_wait_ms", "spill_bytes", "batches", "batch_ms", "state_ms"):
            add(k, e.get(k, 0))
        add("mv_build_s", sum(b["s"] for b in s["mv_builds"]))
        add("mv_builds", len(s["mv_builds"]))
        add("fn_ms", s.get("fn_ns", 0) / 1e6)
        ph = s.get("phases_ms", {})
        add("analysis_ms", ph.get("analysis", 0))
        add("optimize_ms", ph.get("optimization", 0))
        add("physical_ms", ph.get("planning", 0))
        add("exchanges", s.get("exchanges", 0))
        add("graft_nodes", s.get("graft_nodes", 0))
        spans = e.get("job_spans", [])
        lo, hi, fn_end = s["start_us"] / 1e3, s["end_us"] / 1e3, s["fn_end_us"] / 1e3
        add("eager_jobs", sum(1 for _, st, _ in spans if lo <= st <= fn_end))
        busy = union_ms([(st, en if en >= 0 else hi) for _, st, en in spans], lo, hi)
        add("driver_gap_ms", max(0.0, (hi - lo) - busy))
    k = res["kernels"]
    m = {
        "harness.session_s": (res["setup"]["session_s"], "s"),
        "harness.warm_s": (res["setup"]["warm_s"], "s"),
        "sources.mv_build_s": (tot["mv_build_s"] / passes, "s"),
        "sources.mv_bytes": (res["sf_mv_bytes"], "bytes"),
        "sources.mv_builds_in_op": (tot["mv_builds"] / passes, "count"),
        "sources.scan_bytes": (tot["in_bytes"] / passes, "bytes"),
        "sources.scan_rows": (tot["in_rows"] / passes, "count"),
        "operators.build_ms": (tot["fn_ms"] / passes, "ms"),
        "operators.eager_jobs": (tot["eager_jobs"] / passes, "count"),
        "plans.analysis_ms": (tot["analysis_ms"] / passes, "ms"),
        "plans.optimize_ms": (tot["optimize_ms"] / passes, "ms"),
        "plans.physical_ms": (tot["physical_ms"] / passes, "ms"),
        "plans.exchanges": (tot["exchanges"] / passes, "count"),
        "plans.graft_nodes": (tot["graft_nodes"] / passes, "count"),
        "exec.jobs": (tot["jobs"] / passes, "count"),
        "exec.stages": (tot["stages"] / passes, "count"),
        "exec.tasks": (tot["tasks"] / passes, "count"),
        "exec.task_s": (tot["task_ms"] / 1e3 / passes, "s"),
        "exec.cpu_s": (tot["cpu_ns"] / 1e9 / passes, "s"),
        "exec.parallel_eff": (tot["task_ms"] / 1e3 / (wall_s * cores), "ratio"),
        "exec.small_task_frac": (tot["small_tasks"] / max(1, tot["tasks"]), "ratio"),
        "exec.driver_gap_ms": (tot["driver_gap_ms"] / passes, "ms"),
        "exec.shuffle_write_bytes": (tot["shuffle_write"] / passes, "bytes"),
        "exec.shuffle_read_bytes": (tot["shuffle_read"] / passes, "bytes"),
        "exec.fetch_wait_ms": (tot["fetch_wait_ms"] / passes, "ms"),
        "exec.spill_bytes": (tot["spill_bytes"] / passes, "bytes"),
        "exec.gc_ms": (tot["gc_ms"] / passes, "ms"),
        "exec.failed_tasks": (tot["failed_tasks"], "count"),
        "streaming.batches": (tot["batches"] / passes, "count"),
        "streaming.batch_ms": (tot["batch_ms"] / passes, "ms"),
        "streaming.state_ms": (tot["state_ms"] / passes, "ms"),
    }
    for name in ("dot", "minhash", "simhash", "topk", "pq_encode"):
        m[f"functions.{name}_ns_row"] = (k[name]["ns_row"], "ns/row")
    return m


def cpu_times():
    """(busy, steal) seconds of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    return (sum(v[:3]) + sum(v[5:7])) / tick, (v[7] if len(v) > 7 else 0) / tick


def machine_cpus():
    with open("/proc/stat") as f:
        return max(1, sum(1 for ln in f if re.match(r"cpu\d", ln)))


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t_start = time.time()
    load0 = os.getloadavg()[0]
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, build.ENGINE_SRC)):
        fail(f"no engine sources at ./{build.ENGINE_SRC}: run from the repository root")
    if SF is None or not os.path.isfile(os.path.join(SF, "lineitem.parquet")):
        fail(f"sf0.1 fixture not found (GRAFT_BENCH_SF or TESTDATA.md): {SF}")
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)

    built_before = build.is_built(root, bb)
    try:
        classpath, key = build.build(root, bb)
    except RuntimeError as e:
        fail(f"build failed: {e}")
    pristine = prepare_views(bb, classpath, build.source_key(root, engine_only=True),
                             t_start + FIRST_RUN_LIMIT_S - 60)
    first = not built_before
    limit = max(FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S,
                BY_HAND_LIMIT_S.get(a.workload, 0)) - (time.time() - t_start) - 10

    run_dir = os.path.join(bb, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    out = os.path.join(run_dir, "result.json")
    args = ["run", f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"sf={SF}", f"pristine={pristine}",
            f"out={out}"]
    log = os.path.join(run_dir, "jvm.log")
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    busy0, steal0 = cpu_times()
    t_jvm = time.time()
    rc = run_jvm(java_cmd(classpath, run_dir, args), jvm_env(os.path.join(run_dir, "local")),
                 limit, log)
    jvm_wall = time.time() - t_jvm
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    busy1, steal1 = cpu_times()
    if rc != 0 or not os.path.isfile(out):
        shutil.copy(log, os.path.join(bb, "failed-run.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM failed (rc={rc}), log in .bench_build/failed-run.log:\n"
             + log_tail(os.path.join(bb, "failed-run.log")))
    with open(out) as f:
        res = json.load(f)

    failures = check(res, bb)
    e2e, recorded, detail = end_to_end(res)
    attempted = len(res["samples"])
    res["env"].update({
        "nproc": nproc(), "git_head": git_head(), "source_key": key,
        "loadavg_start_1m": load0, "loadavg_end_1m": os.getloadavg()[0],
        "bench_cpu_s": (ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime),
        "bench_wall_s": jvm_wall, "machine_busy_s": busy1 - busy0,
        "machine_steal_s": steal1 - steal0, "python": sys.version.split()[0]})
    # the share of the machine's CPU time the hypervisor withheld while
    # the JVM ran; a run above STEAL_LIMIT is marked contaminated, since
    # its wall figures then follow other tenants' load
    steal_share = (steal1 - steal0) / max(1e-9, jvm_wall * machine_cpus())
    res["env"]["machine_steal_share"] = steal_share
    contaminated = steal_share > STEAL_LIMIT
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "ops": [o["name"] for o in res["ops"]], "attempted": attempted,
               "failed_frac": len(failures) / attempted, "failures": failures,
               "end_to_end": {k: v for k, (v, _) in e2e.items()}, **detail,
               "contaminated": contaminated, "env": res["env"]}
    if a.trace:
        layers = per_layer(res, res["cores"])
        summary["per_layer"] = {k: v for k, (v, _) in layers.items()}
        summary["kernels"] = res["kernels"]
        metrics = layers
    else:
        metrics = e2e
    results = os.path.join(bb, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"summary": summary, "raw": res}, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    every = {**e2e, **recorded, "failed_frac": (summary["failed_frac"], "ratio")}
    print(f"perfbench {a.workload} seed={a.seed}: {attempted} ops in {detail['passes']} passes; "
          + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in every.items())
          + f"; op_tail_ms is p{detail['op_tail_percentile']} of {detail['op_samples']} samples;"
          f" steal {steal_share:.1%} of machine CPU"
          + (" -- CONTAMINATED: wall figures follow host load" if contaminated else ""))
    for fl in failures[:10]:
        print(f"  FAILED {fl['op']} (pass {fl['pass']}): {fl['why']}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
