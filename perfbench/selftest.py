#!/usr/bin/env python3
"""Self-test of the benchmark's generators and output checks.

    python3 perfbench/selftest.py

Generators: the same seed must give byte-identical inputs and another
seed different ones. Checks: a correct synthetic result must pass each
workload's check, and every deliberately perturbed copy must be rejected.
Needs no JVM; writes only under `.bench_build/selftest`.
"""
import copy
import itertools
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

SMALL = {"equity_mcp": {"sizes": (200, 400), "warm_n": 100},
         "decomp_batch": {"rows": 3000, "warm_rows": 500},
         "dedup_corpus": {"docs": 300, "warm_docs": 100}}
FAILURES = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def test_generators(base):
    for w, sizes in SMALL.items():
        digests = []
        for run, seed in enumerate((7, 7, 8)):
            out = os.path.join(base, f"{w}-{run}")
            digests.append(gen.generate(w, seed, out, **sizes)[1])
        expect(digests[0] == digests[1], f"{w}: same seed, byte-identical inputs")
        expect(all(digests[0][f] != digests[2][f] for f in digests[0]),
               f"{w}: other seed, different inputs")


def rejects(check, ops, facts, name, mutate):
    bad_ops = copy.deepcopy(ops)
    mutate(bad_ops)
    expect(check(bad_ops, facts) != [], f"rejects {name}")


# ---- equity_mcp ---------------------------------------------------------

def _reply(result):
    return json.dumps({"jsonrpc": "2.0", "id": 1, "result": {"content": [
        {"type": "text", "text": json.dumps(result)}]}})


def equity_case(base):
    _, _, facts = gen.generate("equity_mcp", 3, os.path.join(base, "eq"), **SMALL["equity_mcp"])
    f = facts["workforces"][0]
    gap, budget = f["mean_gap"], f["budget"]
    results = {
        "forensic_decomposition": {"total_gap": gap, "explained_gap": 0.4 * gap,
                                   "unexplained_gap": 0.6 * gap},
        "simulate_remediation": {"adjustments": [{"adjustment": 0.5 * budget},
                                                 {"adjustment": 0.0}]},
        "verify_adjustments": {"total_gap": 0.8 * gap, "explained_gap": 0.4 * gap,
                               "unexplained_gap": 0.4 * gap},
        "check_defensibility": [{"is_defensible": True}],
        "generate_efficient_frontier": [{"budget": 0.0}, {"budget": 10.0}],
    }
    ops = [{"op": t, "pass": 0, "error": None, "workforce": 0, "reply": _reply(r)}
           for t, r in results.items()]

    def edit(k, fn):
        def mutate(o):
            r = json.loads(json.loads(o[k]["reply"])["result"]["content"][0]["text"])
            fn(r)
            o[k]["reply"] = _reply(r)
        return mutate

    def error_reply(o):
        o[0]["reply"] = json.dumps({"jsonrpc": "2.0", "id": 1,
                                    "error": {"code": -32603, "message": "x"}})

    return ops, facts, [
        ("a JSON-RPC error reply", error_reply),
        ("an op that threw", lambda o: o[2].update(error="boom")),
        ("explained + unexplained != total",
         edit(0, lambda r: r.update(explained_gap=r["explained_gap"] * 1.01))),
        ("a total gap off the group mean difference",
         edit(0, lambda r: r.update(total_gap=r["total_gap"] + 1.0,
                                    unexplained_gap=r["unexplained_gap"] + 1.0))),
        ("a negative adjustment",
         edit(1, lambda r: r["adjustments"][1].update(adjustment=-1.0))),
        ("adjustments over budget",
         edit(1, lambda r: r["adjustments"][1].update(adjustment=budget))),
        ("a larger unexplained gap after verify",
         edit(2, lambda r: r.update(unexplained_gap=0.7 * gap, total_gap=1.1 * gap))),
        ("decreasing frontier budgets",
         edit(4, lambda r: r.append({"budget": 5.0}))),
    ]


# ---- decomp_batch -------------------------------------------------------

def decomp_case(base):
    _, _, facts = gen.generate("decomp_batch", 3, os.path.join(base, "dc"),
                               **SMALL["decomp_batch"])
    facts["tables"] = {k: checks.decomp_reference(a) for k, a in facts.pop("arrays").items()}
    ref = facts["tables"]["main"]
    total, expl, unexpl = ref["two_fold"]

    def oaxaca(t, e, se=float("nan")):
        return {"total": t, "two_fold": [
            {"name": "explained", "estimate": e, "std_err": se},
            {"name": "unexplained", "estimate": t - e, "std_err": se}],
            "values": [t, e, t - e, se, se]}

    sel = ref["selected_gap"]
    jobs = {"oaxaca_point": oaxaca(total, expl),
            "oaxaca_boot500": oaxaca(total, expl, 0.01),
            "rif": {"quantiles": [oaxaca(0.3, 0.1), oaxaca(0.2, 0.05)], "values": [0.3, 0.2]},
            "heckman": dict(oaxaca(total, 0.1), two_fold=[
                {"name": "explained", "estimate": 0.1, "std_err": 0.0},
                {"name": "unexplained", "estimate": sel - 0.1, "std_err": 0.0}]),
            "dfl": {"densities": [[0.1, 0.2], [0.3, 0.0]], "values": [0.1, 0.2, 0.3]}}
    jobs["heckman"]["values"] = [sel]
    ops = [dict(copy.deepcopy(r), op=j, error=None, **{"pass": p})
           for p in (0, 1) for j, r in jobs.items()]
    k = {j: i for i, j in enumerate(jobs)}

    def two_fold(i, name, **kw):
        return lambda o: next(c for c in o[i]["two_fold"] if c["name"] == name).update(**kw)

    return ops, facts, [
        ("a point estimate off least squares",
         lambda o: (two_fold(k["oaxaca_point"], "explained", estimate=expl * 1.001)(o),
                    two_fold(k["oaxaca_point"], "unexplained", estimate=unexpl - expl * 0.001)(o))),
        ("a broken identity", two_fold(k["oaxaca_boot500"], "unexplained", estimate=1.0)),
        ("a broken RIF identity",
         lambda o: o[k["rif"]]["quantiles"][1].update(total=0.9)),
        ("a broken Heckman identity", two_fold(k["heckman"], "explained", estimate=0.2)),
        ("a zero bootstrap SE", two_fold(k["oaxaca_boot500"], "explained", std_err=0.0)),
        ("a NaN bootstrap SE", two_fold(k["oaxaca_boot500"], "unexplained",
                                        std_err=float("nan"))),
        ("a negative density", lambda o: o[k["dfl"]]["densities"][0].__setitem__(0, -0.1)),
        ("a repetition that differs",
         lambda o: o[len(jobs) + k["rif"]]["values"].__setitem__(0, 0.3 * (1 + 1e-6))),
    ]


# ---- dedup_corpus -------------------------------------------------------

def _write(path, rows):
    with open(path, "w") as f:
        f.write("\n".join(",".join(str(v) for v in r) for r in rows))
    return path


def dedup_case(base):
    out = os.path.join(base, "dd")
    plan, _, facts = gen.generate("dedup_corpus", 3, out, **SMALL["dedup_corpus"])
    texts, families = facts["corpora"]["plain"]
    ref = checks.dedup_reference(texts, families, plan["shingle_n"], plan["threshold"])
    facts["corpora"] = {"plain": ref}
    corpus = ref["corpus"]
    pairs = sorted((a, b, corpus.jaccard(a, b))
                   for a, b in itertools.combinations(sorted(texts), 2)
                   if corpus.jaccard(a, b) >= plan["threshold"])
    comp = checks._components(list(texts), [(a, b) for a, b, _ in pairs])
    exact = _write(os.path.join(out, "exact.csv"), pairs)
    clusters = _write(os.path.join(out, "clusters.csv"), sorted(comp.items()))
    ops = [{"op": "jaccard_clusters", "pass": 0, "error": None, "file": exact,
            "clusters": clusters},
           {"op": "minhash", "pass": 0, "error": None,
            "file": _write(os.path.join(out, "minhash.csv"), pairs[1:])},
           {"op": "warm_jaccard_prefix", "pass": -1, "error": None, "file": exact}]
    for op in ops:
        op["corpus"] = "plain"
    a, b, j = pairs[0]
    far = next((x, y) for x, y in itertools.combinations(sorted(texts), 2)
               if corpus.jaccard(x, y) < 0.5)
    cid = next(i for i, c in sorted(comp.items()) if c != i)

    def file_of(k, key, rows):
        name = os.path.join(out, f"bad-{k}-{key}.csv")
        return lambda o: o[k].update({key: _write(name, rows)})

    return ops, facts, [
        ("a wrong Jaccard value", file_of(0, "file", [(a, b, j - 0.01)] + pairs[1:])),
        ("a pair below the threshold",
         file_of(0, "file", pairs + [(*far, corpus.jaccard(*far))])),
        ("a missing planted pair", file_of(0, "file", pairs[1:])),
        ("a doc in two clusters",
         file_of(0, "clusters", sorted(comp.items()) + [(cid, cid)])),
        ("a cluster id that is not the component minimum",
         file_of(0, "clusters", [(i, i) for i in sorted(comp)])),
        ("a MinHash pair outside the exact pairs",
         file_of(1, "file", [(*far, corpus.jaccard(*far))])),
        ("prefix-path pairs that differ from the default path's",
         file_of(2, "file", pairs[1:])),
    ]


# ---- traced-run ledger ----------------------------------------------------

def ledger_case():
    """Two traced operation spans, a direct-call span the checks ignore,
    and the status store's jobs: one overlapping pair in the first span,
    one job in the second, one outside both."""
    t = checks.TRACED

    def span(name, a, b, parent=t):
        return {"name": name, "start_ms": a, "end_ms": b, "parent": parent, "request": t}

    res = {"spans": [span("op_a", 1000, 1100), span("op_b", 1200, 1400),
                     span("direct", 1500, 1700, parent="direct_layers")],
           "store_jobs": [[0, 1010, 1050, "gram: scan"], [1, 1040, 1080, ""],
                          [2, 1210, 1300, "irls: pass"], [3, 1550, 1600, "gram: scan"]],
           "layers": {"spark.jobs": 3.0, "spark.job_busy_s": 0.16, "spark.driver_gap_s": 0.14,
                      "spark.overlap_s": 0.01, "phase.gram_scan.busy_s": 0.04,
                      "phase.irls_pass.busy_s": 0.09, "phase.unlabeled.busy_s": 0.04}}
    ops = [{"op": "op_a", "pass": 0, "wall_s": 0.5}, {"op": "op_a", "pass": 1, "wall_s": 0.101},
           {"op": "op_b", "pass": 1, "wall_s": 0.2}]
    layer = lambda k, v: lambda r, o: r["layers"].__setitem__(k, v)  # noqa: E731
    return res, ops, [
        ("a job the status store saw and the ledger did not",
         lambda r, o: r["store_jobs"].append([4, 1310, 1390, "irls: pass"])),
        ("a ledger busy time off the status store's", layer("spark.job_busy_s", 0.18)),
        ("a job in the wrong phase", layer("phase.gram_scan.busy_s", 0.08)),
        ("phases that do not cover the busy time", layer("phase.unlabeled.busy_s", 0.0)),
        ("busy + gap off the recorded wall", layer("spark.driver_gap_s", 0.2)),
        ("a traced operation without a span", lambda r, o: r["spans"].pop(1)),
    ]


def test_ledger():
    res, ops, mutations = ledger_case()
    expect(checks.ledger(res, ops) == [], "ledger: accepts a consistent ledger")
    for what, mutate in mutations:
        r, o = copy.deepcopy(res), copy.deepcopy(ops)
        mutate(r, o)
        expect(checks.ledger(r, o) != [], f"ledger: rejects {what}")


def test_checks(base):
    for name, case in (("equity_mcp", equity_case), ("decomp_batch", decomp_case),
                       ("dedup_corpus", dedup_case)):
        ops, facts, mutations = case(base)
        check = checks.CHECKS[name]
        expect(check(ops, facts) == [], f"{name}: accepts a correct result")
        for what, mutate in mutations:
            rejects(check, ops, facts, f"{name}: {what}", mutate)


def main():
    base = os.path.join(os.getcwd(), ".bench_build", "selftest")
    shutil.rmtree(base, ignore_errors=True)
    try:
        test_generators(base)
        test_checks(base)
        test_ledger()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
