"""Output checks, one function per workload.

Each takes the op records the harness wrote (dicts from `ops.jsonl`, in
run order) and the generator's facts, and returns a list of
(op position, reason) for every op that threw or produced a wrong output.
"""
import json
import math

import numpy as np

REL = 1e-6


def _close(a, b, rel=REL):
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-12)


# ---- equity_mcp -------------------------------------------------------

def _result(op):
    """The tool result JSON of an MCP reply, or raise with the reason."""
    reply = json.loads(op["reply"])
    if reply.get("jsonrpc") != "2.0" or "result" not in reply or "error" in reply:
        raise ValueError(f"not a JSON-RPC result: {op['reply'][:200]}")
    return json.loads(reply["result"]["content"][0]["text"])


def _identity(r):
    return _close(r["explained_gap"] + r["unexplained_gap"], r["total_gap"])


def equity_mcp(ops, facts):
    bad = []
    forces = facts["workforces"]
    before = {}  # (pass, workforce) -> forensic unexplained gap
    for k, op in enumerate(ops):
        if op["error"]:
            bad.append((k, op["error"]))
            continue
        fact = facts["warmup"] if op["workforce"] < 0 else forces[op["workforce"]]
        try:
            r = _result(op)
            tool = op["op"]
            if tool == "forensic_decomposition":
                if not _identity(r):
                    raise ValueError("explained + unexplained != total")
                if not _close(r["total_gap"], fact["mean_gap"]):
                    raise ValueError(f"total gap {r['total_gap']} != group mean "
                                     f"difference {fact['mean_gap']}")
                before[op["pass"], op["workforce"]] = r["unexplained_gap"]
            elif tool == "simulate_remediation":
                adj = [a["adjustment"] for a in r["adjustments"]]
                if min(adj, default=0.0) < 0.0:
                    raise ValueError("negative adjustment")
                if sum(adj) > fact["budget"] * (1 + 1e-9) + 1e-6:
                    raise ValueError(f"adjustments {sum(adj)} exceed budget {fact['budget']}")
            elif tool == "verify_adjustments":
                if not _identity(r):
                    raise ValueError("explained + unexplained != total")
                prior = before.get((op["pass"], op["workforce"]))
                if prior is None or abs(r["unexplained_gap"]) > abs(prior) * (1 + 1e-9):
                    raise ValueError(f"unexplained gap {r['unexplained_gap']} after "
                                     f"verify is above {prior} before it")
            elif tool == "check_defensibility":
                if not all(isinstance(x.get("is_defensible"), bool) for x in r):
                    raise ValueError("defensibility verdict missing")
            elif tool == "generate_efficient_frontier":
                b = [p["budget"] for p in r]
                if not b or any(y < x for x, y in zip(b, b[1:])):
                    raise ValueError("frontier budgets decrease")
        except (ValueError, KeyError, IndexError, TypeError) as e:
            bad.append((k, str(e)))
    return bad


# ---- decomp_batch -----------------------------------------------------

def decomp_reference(arrays):
    """Independent recomputation on the generated arrays: the two-fold
    point estimate with group-B coefficients by numpy least squares, and
    the selected-row mean gap that Heckman's explained + unexplained sum
    to (its `total` is over all rows)."""
    cat, y, a, sel = arrays["cat"], arrays["y"], arrays["grp_a"], arrays["sel"] == 1.0
    X = np.column_stack([np.ones(len(cat)), arrays["x"]] +
                        [(cat == c).astype(float) for c in range(1, 5)])
    beta_b, *_ = np.linalg.lstsq(X[~a], y[~a], rcond=None)
    total = float(y[a].mean() - y[~a].mean())
    explained = float((X[a].mean(axis=0) - X[~a].mean(axis=0)) @ beta_b)
    return {"two_fold": (total, explained, total - explained),
            "selected_gap": float(y[sel & a].mean() - y[sel & ~a].mean())}


def _two_fold(res):
    m = {c["name"]: c for c in res["two_fold"]}
    return m["explained"], m["unexplained"]


REPEAT_REL = 1e-9


def _same_values(xs, ys):
    """Equal within REPEAT_REL of the vector's largest finite magnitude
    (NaN matching NaN): the engine's reductions fold partials in
    task-completion order, so repetitions agree to ~1e-12 but not bit
    for bit. Non-finite numbers arrive as strings ("NaN")."""
    xs, ys = [float(v) for v in xs], [float(v) for v in ys]
    scale = max((abs(v) for v in xs if math.isfinite(v)), default=0.0)
    return len(xs) == len(ys) and all(
        (math.isnan(x) and math.isnan(y)) or abs(x - y) <= REPEAT_REL * scale
        for x, y in zip(xs, ys))


def decomp_batch(ops, facts):
    bad = []
    first = {}
    for k, op in enumerate(ops):
        if op["error"]:
            bad.append((k, op["error"]))
            continue
        warm = op["op"].startswith("warm_")
        job = op["op"].removeprefix("warm_")
        ref = facts["tables"]["warm" if warm else "main"]
        try:
            results = op["quantiles"] if job == "rif" else [] if job == "dfl" else [op]
            for res in results:
                e, u = _two_fold(res)
                total = ref["selected_gap"] if job == "heckman" else res["total"]
                if not _close(e["estimate"] + u["estimate"], total):
                    raise ValueError(f"explained + unexplained != total {total}")
            if job == "oaxaca_point":
                e, u = _two_fold(op)
                for got, want in zip((op["total"], e["estimate"], u["estimate"]),
                                     ref["two_fold"]):
                    if not _close(got, want):
                        raise ValueError(f"point estimate {got} != least squares {want}")
            if job == "oaxaca_boot500":
                for c in _two_fold(op):
                    if not (math.isfinite(c["std_err"]) and c["std_err"] > 0):
                        raise ValueError(f"bootstrap SE {c['std_err']}")
            if job == "dfl":
                for d in op["densities"]:
                    if not all(math.isfinite(v) and v >= 0 for v in d):
                        raise ValueError("density not finite and non-negative")
            if not warm and not _same_values(first.setdefault(job, op["values"]),
                                             op["values"]):
                raise ValueError("result differs across repetitions")
        except (ValueError, KeyError, IndexError, TypeError) as e:
            bad.append((k, str(e)))
    return bad


def bit_identical_repeats(ops):
    """Per job, whether every repetition's result digest is the same bit
    for bit (reported, not gated)."""
    seen = {}
    for op in ops:
        if op.get("digest") and not op["op"].startswith("warm_"):
            seen.setdefault(op["op"], set()).add(op["digest"])
    return {job: len(d) == 1 for job, d in seen.items()}


# ---- dedup_corpus -----------------------------------------------------

def shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class Corpus:
    """Exact Jaccard over word n-gram sets, with per-doc caching."""

    def __init__(self, texts, n=3):
        self.texts, self.n, self.sets = texts, n, {}

    def set_of(self, i):
        if i not in self.sets:
            self.sets[i] = shingles(self.texts[i], self.n)
        return self.sets[i]

    def jaccard(self, a, b):
        sa, sb = self.set_of(a), self.set_of(b)
        return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def read_rows(path):
    with open(path) as f:
        return [line.split(",") for line in f.read().splitlines() if line]


def _pairs(path):
    return {(int(a), int(b)): float(j) for a, b, j in read_rows(path)}


def _check_pairs(pairs, corpus, threshold):
    for (a, b), j in pairs.items():
        exact = corpus.jaccard(a, b)
        if exact < threshold or abs(exact - j) > 1e-9:
            raise ValueError(f"pair ({a},{b}) reports {j}, exact Jaccard is {exact}")


def _components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def dedup_corpus(ops, facts, threshold=0.8):
    bad = []
    exact = {}  # corpus -> pair set of its latest exact-path op
    for k, op in enumerate(ops):
        if op["error"]:
            bad.append((k, op["error"]))
            continue
        name, kind = op.get("corpus"), op["op"].removeprefix("warm_")
        try:
            ref = facts["corpora"][name]
            corpus = ref["corpus"]
            pairs = _pairs(op["file"])
            _check_pairs(pairs, corpus, threshold)
            if kind in ("jaccard_clusters", "jaccard"):
                missing = [p for p in ref["planted_pairs"] if p not in pairs]
                if missing:
                    raise ValueError(f"{len(missing)} planted pairs >= {threshold} "
                                     f"not found, e.g. {missing[0]}")
                exact[name] = set(pairs)
            if kind == "jaccard_clusters":
                got = {}
                for i, c in read_rows(op["clusters"]):
                    if int(i) in got:
                        raise ValueError(f"doc {i} sits in two clusters")
                    got[int(i)] = int(c)
                want = _components(list(corpus.texts), pairs)
                if got != want:
                    diff = next((i for i in want if got.get(i) != want[i]), None)
                    raise ValueError(f"doc {diff}: cluster {got.get(diff)}, "
                                     f"component minimum {want.get(diff)}")
            elif kind == "jaccard_prefix":
                if name not in exact or set(pairs) != exact[name]:
                    raise ValueError("prefix-path pairs differ from the default path's")
            elif kind == "minhash":
                if name not in exact or not set(pairs) <= exact[name]:
                    raise ValueError("MinHash pairs are not a subset of the exact pairs")
        except (ValueError, KeyError, OSError) as e:
            bad.append((k, str(e)))
    return bad


def dedup_reference(texts, families, n, threshold):
    """The corpus's exact Jaccard oracle, its planted pairs at or above
    the threshold (low id first), and its candidate-pair mass."""
    corpus = Corpus(texts, n)
    df = {}
    for i in texts:
        for sh in corpus.set_of(i):
            df[sh] = df.get(sh, 0) + 1
    planted = []
    for fam in families:
        for x in range(len(fam)):
            for y in range(x + 1, len(fam)):
                a, b = sorted((fam[x], fam[y]))
                if corpus.jaccard(a, b) >= threshold:
                    planted.append((a, b))
    return {"corpus": corpus, "planted_pairs": planted,
            "candidate_mass": sum(d * (d - 1) // 2 for d in df.values())}


def jaccard_path(ops, facts):
    """Which physical path the exact-Jaccard engine takes on each timed
    corpus: its cost model compares the inverted index's candidate mass,
    the sum over shingles of df * (df - 1) / 2 taken from the corpus's df
    histogram, with the crossover the JVM reported. Reported, not gated."""
    out = {}
    for o in ops:
        if o["op"] in ("jaccard_clusters", "jaccard") and "crossover_pairs" in o:
            mass, cross = facts["corpora"][o["corpus"]]["candidate_mass"], o["crossover_pairs"]
            out[o["corpus"]] = {"candidate_mass": mass, "crossover_pairs": cross,
                                "path": "direct" if mass <= cross else "prefix"}
    return out


# ---- traced runs ------------------------------------------------------

# the phase labels the engine sets with Jobs.labeled, by prefix of the job
# description (kept apart from the ledger's own copy on purpose)
PHASES = [("gram:", "gram_scan"), ("irls:", "irls_pass"), ("rank-pick:", "rank_pick"),
          ("prefix-sum:", "prefix_sum"), ("equity:", "equity_sums"),
          ("rif: grouped moments", "rif_moments"), ("rif: one-point density", "rif_density"),
          ("kde:", "kde_grid"), ("silverman:", "kde_grid"), ("heckman:", "heckman_selection"),
          ("dfl:", "dfl")]
TRACED = "traced_pass"


def _phase(desc):
    return next((name for pre, name in PHASES if desc.startswith(pre)), "unlabeled")


def _union_ms(iv):
    total, cur = 0, None
    for a, b in sorted((a, b) for a, b in iv if b > a):
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0)


def replay_ledger(spans, jobs):
    """Job count, busy seconds and per-phase busy seconds over the traced
    operation spans, from the job list Spark's status store kept."""
    n, busy, phases = 0, 0, {}
    for sp in spans:
        inside = [(t0, min(t1, sp["end_ms"]), desc) for _, t0, t1, desc in jobs
                  if sp["start_ms"] <= t0 <= sp["end_ms"] and t1 >= 0]
        n += len(inside)
        busy += _union_ms([(a, b) for a, b, _ in inside])
        for ph in {_phase(d) for _, _, d in inside}:
            phases[ph] = phases.get(ph, 0) + _union_ms(
                [(a, b) for a, b, d in inside if _phase(d) == ph])
    return n, busy / 1e3, {k: v / 1e3 for k, v in phases.items()}


def ledger(res, ops, ms_per_span=0.005):
    """Checks the traced run's ledger against two records kept apart from
    it: the job list of Spark's status store (its own listener) and the
    wall time the op recorder measured around each traced operation.
    Job count, busy time and every phase's busy time must match the
    status store's; the phase busy times must cover the busy time (equal
    to it without overlapping jobs); and busy + driver gap must equal the
    recorded wall time of the traced operations. Returns the violations."""
    m = res["layers"]
    spans = [s for s in res["spans"] if s["request"] == TRACED and s["parent"] == TRACED]
    traced = [o for o in ops if o["pass"] == 1]
    tol = ms_per_span * max(len(spans), 1)
    n, busy, phases = replay_ledger(spans, res["store_jobs"])
    bad = []
    if len(spans) != len(traced):
        bad.append(f"{len(spans)} operation spans for {len(traced)} traced operations")
    if n != m["spark.jobs"]:
        bad.append(f"ledger counts {m['spark.jobs']} jobs, the status store {n}")
    if abs(busy - m["spark.job_busy_s"]) > tol:
        bad.append(f"ledger busy {m['spark.job_busy_s']} s, status store busy {busy} s")
    for ph in {k.split(".")[1] for k in m if k.startswith("phase.")} | set(phases):
        if abs(phases.get(ph, 0.0) - m.get(f"phase.{ph}.busy_s", 0.0)) > tol:
            bad.append(f"phase {ph}: ledger busy {m.get(f'phase.{ph}.busy_s')} s, "
                       f"status store busy {phases.get(ph, 0.0)} s")
    covered = sum(v for k, v in m.items() if k.startswith("phase.") and k.endswith(".busy_s"))
    if covered < m["spark.job_busy_s"] - tol or (
            m["spark.overlap_s"] == 0 and abs(covered - m["spark.job_busy_s"]) > tol):
        bad.append(f"phase busy {covered} does not cover job busy {m['spark.job_busy_s']}")
    wall = sum(o["wall_s"] for o in traced)
    ledger_wall = m["spark.job_busy_s"] + m["spark.driver_gap_s"]
    if abs(ledger_wall - wall) > tol:
        bad.append(f"busy + gap {ledger_wall} s != recorded wall {wall} s of the traced ops")
    return bad


CHECKS = {"equity_mcp": equity_mcp, "decomp_batch": decomp_batch,
          "dedup_corpus": dedup_corpus}
