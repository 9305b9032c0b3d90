#!/usr/bin/env python3
"""Seeded three-workload benchmark of the engine.

    python3 perfbench/run.py --workload equity_mcp --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine and the
harness into `.bench_build` (see build.py). Each run generates its
inputs from the seed, drives the workload through the engine's public
functions in a JVM (perfbench/scala) that also times its own set-up,
checks every output, and prints:

  * a `report` line: the environment record, input digests, the
    workload's own end-to-end metric names with sample counts, and check
    failures;
  * as the last line, the result: `correct`, `attempted`, `failed` and
    `metrics` (end-to-end metrics with --trace 0, per-layer metrics with
    --trace 1, where the traced pass's spans and ledger feed them).

The full record of every run is kept under `.bench_build/runs/` for
layer_diff.py. Exit code 1 means an output check failed.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    METRICS = json.load(_f)


def cores():
    return len(os.sched_getaffinity(0))


def jvm(cp, work, trace, deadline):
    # compiler threads stay alive so the window's JIT CPU can be read off them
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--cores", str(cores()),
            "--trace", str(trace)]
    log = open(os.path.join(work, "jvm.log"), "w")
    try:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                       timeout=max(1.0, deadline - time.monotonic()))
    finally:
        log.close()


# ---- environment record ----------------------------------------------

def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mean_mhz():
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [float(l.split(":")[1]) for l in f if l.startswith("cpu MHz")]
        return statistics.fmean(mhz) if mhz else None
    except OSError:
        return None


def cpu_shares(start, end):
    """Steal share and busy share (steal excluded) between two /proc/stat
    `cpu` lines."""
    a = [int(x) for x in start.split()[1:]]
    b = [int(x) for x in end.split()[1:]]
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1  # user..steal; guest time is inside user
    idle, iowait, steal = d[3], d[4], d[7]
    return steal / total, (total - idle - iowait - steal) / total


# ---- metrics ---------------------------------------------------------

def pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else float("nan")


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(workload, ops, res, facts):
    """The end-to-end metrics by the names in BENCHMARK.json, and the
    workload-specific names with their sample counts."""
    timed = [o for o in ops if o["timed"]]
    walls = [o["wall_s"] for o in timed]
    passes = res["passes"]
    per_op = {}
    for o in timed:
        per_op.setdefault(o["op"], []).append(o["wall_s"])
    op_median = {op: statistics.median(v) for op, v in per_op.items()}
    # every operation type weighs the same, whatever its share of the time
    latency = geomean(op_median.values())
    named = {"op_median_s": op_median, "passes": passes}
    if workload == "equity_mcp":
        rate = len(walls) / res["window_s"]
        named.update({"request_p50_s": statistics.median(walls),
                      "request_p90_s": pct(walls, 0.9), "requests_per_s": rate,
                      "requests": len(walls)})
    elif workload == "decomp_batch":
        # rows through the batch per second of its wall, so the jobs weigh
        # by their time here, where op_latency_s weighs them the same
        rate = facts["rows"] * len(walls) / sum(walls)
        named["decomp_rows_per_s"] = facts["rows"] / latency
    else:
        rate = facts["docs"] * passes / sum(walls)
        named["docs_per_s"] = rate
    metrics = {
        "setup_s": res["setup_s"],
        "op_latency_s": latency,
        "items_per_s": rate,
        "process_cpu_s_per_pass": (res["cpu_s"] - res["jit_cpu_s"]) / passes,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    named.update({"process_cpu_s": res["cpu_s"], "jit_cpu_s": res["jit_cpu_s"],
                  "peak_rss_mb": res["peak_rss_mb"], "window_s": res["window_s"]})
    return metrics, named


def per_layer(res):
    layers = dict(res["layers"])
    layers["trace.overhead_share"] = res["traced_pass_s"] / res["untraced_pass_s"] - 1.0
    return layers


# ---- one run ---------------------------------------------------------

def inputs(workload, seed, work):
    plan, digests, facts = gen.generate(workload, seed, os.path.join(work, "in"))
    if workload == "decomp_batch":
        facts["tables"] = {k: checks.decomp_reference(a)
                           for k, a in facts.pop("arrays").items()}
    if workload == "dedup_corpus":
        facts["corpora"] = {k: checks.dedup_reference(texts, families, plan["shingle_n"],
                                                      plan["threshold"])
                            for k, (texts, families) in facts["corpora"].items()}
    return plan, digests, facts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    root = os.getcwd()
    cp = build.ensure(root)
    deadline = max(deadline, time.monotonic() + 120)  # a fresh build does not eat the run

    work = os.path.join(root, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {"nproc": os.cpu_count(), "cores_used": cores(), "load1_start": loadavg(),
           "cpu_mhz_mean": mean_mhz()}

    phases = {"build_s": time.monotonic() - started}
    plan, digests, facts = inputs(args.workload, args.seed, work)
    phases["inputs_s"] = time.monotonic() - started - sum(phases.values())
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds,
                   "trace": args.trace, "inputs": plan}, f)
    jvm(cp, work, args.trace, deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(work, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f]
    phases["jvm_s"] = time.monotonic() - started - sum(phases.values())
    phases["jvm_warmup_s"] = res["warmup_s"]

    bad = checks.CHECKS[args.workload](ops, facts)
    attempted = len(ops)
    if args.trace:  # the ledger, against a second record of the run, is one more op
        bad += [(attempted, why) for why in checks.ledger(res, ops)]
        attempted += 1
    phases["checks_s"] = time.monotonic() - started - sum(
        v for k, v in phases.items() if k != "jvm_warmup_s")
    failed_ops = {k for k, _ in bad}
    steal, busy = cpu_shares(res["proc_stat_start"], res["proc_stat_end"])
    env.update({"load1_end": loadavg(), "steal_share": steal, "busy_share_ex_steal": busy,
                "java": res["java_version"], "spark": res["spark_version"]})

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "env": env, "phases": phases, "input_digests": digests,
              "op_walls_s": [[o["op"], o["pass"], round(o["wall_s"], 4)] for o in ops],
              "bit_identical_repeats": checks.bit_identical_repeats(ops),
              "failed_share": len(failed_ops) / attempted,
              "check_failures": [{"op": ops[k]["op"] if k < len(ops) else "ledger",
                                  "pass": ops[k]["pass"] if k < len(ops) else None, "why": w}
                                 for k, w in bad[:20]]}
    if args.workload == "dedup_corpus":
        report["jaccard_path"] = checks.jaccard_path(ops, facts)
    if args.trace:
        metrics = per_layer(res)
        report["spans"] = res["spans"]
        report["notes"] = res["notes"]
        unit = {m["name"]: m["unit"] for m in METRICS["per_layer"]}
    else:
        metrics, named = end_to_end(args.workload, ops, res, facts)
        report["named"] = named
        unit = {m["name"]: m["unit"] for m in METRICS["end_to_end"]}
    report["metrics"] = metrics

    runs = os.path.join(root, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"report": {k: v for k, v in report.items() if k != "spans"}}))
    out = {name: {"value": metrics.get(name, 0.0), "unit": u} for name, u in unit.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(failed_ops),
                      "metrics": out}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
