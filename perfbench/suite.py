#!/usr/bin/env python3
"""Repeated benchmark runs, from the repository root.

    python3 perfbench/suite.py spread --workload multi_job --seeds 1-10
        runs the workload untraced once per seed and prints, for every
        gated end-to-end metric and every figure recorded beside them,
        the median and the quartile spread (Q3 - Q1) / median, against
        the metric's bound in BENCHMARK.json.
    python3 perfbench/suite.py artifact --workload multi_job --seed 1
        one untraced and one traced run on the same seed; writes
        perfbench/results/<workload>.json with every per-layer metric and
        the tracing overhead (traced minus untraced) of each end-to-end
        metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = ("op_p50_ms", "op_tail_ms", "rss_peak_mb", "pass_cpu_s", "geomean_cpu_ms")


def bench_config():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run(workload, seed, trace, seconds):
    """One run; returns its result line and its full record."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed: {' '.join(cmd)}\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(".bench_build", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return res, json.load(f)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(a, cfg):
    """Gated metrics first, then the figures each run records beside them."""
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        res, rec = run(a.workload, s, 0, a.seconds or cfg["run_seconds"])
        ok = "ok" if res["correct"] else f"FAILED {res['failed']}/{res['attempted']}"
        figures = {k: v["value"] for k, v in res["metrics"].items()}
        figures.update({k: rec["summary"][k] for k in RECORDED})
        print(f"seed {s}: {ok} " + " ".join(f"{k}={v:.4g}" for k, v in figures.items())
              + (" contaminated" if rec["summary"]["contaminated"] else ""), flush=True)
        for k, v in figures.items():
            values.setdefault(k, []).append(v)
    print(f"{'metric':<14}{'median':>12}{'spread':>9}{'bound':>8}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        sp = (q[2] - q[0]) / med
        bound = f"{bounds[k]:>8.3f}" if k in bounds else f"{'-':>8}"
        print(f"{k:<14}{med:>12.4f}{sp:>9.4f}{bound}")


def op_ms(raw):
    out = {}
    for smp in raw["samples"]:
        out.setdefault(smp["op"], []).append(round(smp["wall_ns"] / 1e6, 3))
    return out


def artifact(a, cfg):
    sec = a.seconds or cfg["run_seconds"]
    plain, plain_rec = run(a.workload, a.seed, 0, sec)
    traced, traced_rec = run(a.workload, a.seed, 1, sec)
    ps, ts, raw = plain_rec["summary"], traced_rec["summary"], traced_rec["raw"]
    extra = RECORDED + ("failed_frac", "op_cpu_p50_ms")
    plain_all = {**ps["end_to_end"], **{k: ps[k] for k in extra}}
    traced_all = {**ts["end_to_end"], **{k: ts[k] for k in extra}}
    overhead = {k: {"untraced": v, "traced": traced_all[k],
                    "traced_minus_untraced": traced_all[k] - v}
                for k, v in plain_all.items()}
    per_op = {}
    for smp in raw["samples"]:
        key = f"p{smp['pass']}:{smp['op']}"
        per_op[key] = {k: smp.get(k) for k in ("wall_ns", "fn_ns", "rows", "phases_ms",
                                                "exchanges", "graft_nodes", "mv_builds")}
        per_op[key].update({k: v for k, v in raw["execs"].get(key, {}).items()
                            if k != "job_spans"})
    out = {"workload": a.workload, "seed": a.seed, "run_seconds": sec,
           "correct": plain["correct"] and traced["correct"],
           "attempted": plain["attempted"], "failed": plain["failed"],
           "failed_frac": ps["failed_frac"], "ops": ps["ops"],
           "passes": ps["passes"], "op_tail_ms": ps["op_tail_ms"],
           "op_tail_percentile": ps["op_tail_percentile"], "op_samples": ps["op_samples"],
           "end_to_end": plain["metrics"], "pass_walls_s": ps["pass_walls_s"],
           "detail_untraced": {k: ps[k] for k in extra}, "per_layer": traced["metrics"],
           "tracing_overhead": overhead, "kernels": ts["kernels"],
           "op_ms_untraced": op_ms(plain_rec["raw"]), "op_ms_traced": op_ms(raw),
           "per_op_traced": per_op, "setup_traced": raw["setup"], "spans": raw["spans"],
           "env_untraced": ps["env"], "env_traced": ts["env"]}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{a.workload}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "artifact"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    cfg = bench_config()
    (spread if a.mode == "spread" else artifact)(a, cfg)


if __name__ == "__main__":
    main()
