"""Seeded input generators for the three workloads.

Every generator takes a seed and an output directory, writes its inputs
there, and returns (plan inputs, digests, facts). `digests` maps each
written file to the SHA-256 of its bytes; `facts` holds what the checks
need to know about the inputs (planted structure, group means).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EQUITY_PREDICTORS = ["tenure", "perf", "educ", "age"]
DEPTS = ["eng", "ops", "sales", "legal", "support"]
DECOMP_PREDICTORS = [f"x{i}" for i in range(1, 11)]
DECOMP_SELECTION = ["x1", "x2", "z"]


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _parquet(table, path):
    pq.write_table(table, path, compression="snappy", write_statistics=False)


# ---- equity_mcp -------------------------------------------------------

def workforce_csv(rng, n):
    """A workforce of n employees with four numeric predictors, a `dept`
    category and a planted unexplained gap against gender F."""
    female = rng.random(n) < 0.45
    dept = rng.integers(0, len(DEPTS), n)
    tenure = np.round(rng.gamma(2.0, 3.0, n), 1)
    perf = np.round(rng.normal(3.0, 0.8, n) + 0.1 * ~female, 2)
    educ = rng.integers(12, 21, n)
    age = np.clip(np.round(22 + tenure + rng.normal(8, 6, n)), 20, 70)
    salary = (38000 + 1400 * tenure + 5200 * perf + 1800 * educ + 120 * age
              + np.array([9000, 2000, 4000, 12000, 0])[dept]
              - 3500 * female + rng.normal(0, 6000, n))
    salary = np.round(salary, 2)
    lines = ["salary,gender,dept,tenure,perf,educ,age"]
    for i in range(n):
        lines.append(f"{salary[i]:.2f},{'F' if female[i] else 'M'},{DEPTS[dept[i]]},"
                     f"{tenure[i]:.1f},{perf[i]:.2f},{educ[i]},{age[i]:.0f}")
    text = "\n".join(lines) + "\n"
    gap = float(salary[female].mean() - salary[~female].mean())
    return text, gap, int(female.sum())


def equity_mcp(seed, out, sizes=(2000, 20000), warm_n=500):
    """Two workforces whose sizes are the midpoints of the two halves of
    the log-uniform range `sizes` (stratified, not drawn: request time
    grows with workforce size, so drawn sizes alone spread the per-run
    latency by over 20% between seeds), and a small one for the warm-up
    session. The seed draws every employee."""
    rng = _rng(seed, 1)
    plan = {"predictors": EQUITY_PREDICTORS, "categorical": ["dept"],
            "bootstrap_reps": 100, "frontier_steps": 20, "workforces": []}
    digests, facts = {}, {"workforces": []}

    def one(name, n):
        text, gap, n_f = workforce_csv(rng, n)
        path = os.path.join(out, f"{name}.csv")
        with open(path, "w") as f:
            f.write(text)
        budget = round(float(n_f * rng.uniform(300.0, 1500.0)), 2)
        picks = rng.integers(0, 5, 3)
        overrides = [{"predictor": "tenure", "value": float(v)} for v in picks * 2.0 + 1.0]
        digests[os.path.basename(path)] = _sha(path)
        return ({"csv": path, "budget": budget, "overrides": overrides},
                {"n": n, "mean_gap": gap, "budget": budget})

    plan["warmup"], facts["warmup"] = one("warmup", warm_n)
    lo, hi = np.log(sizes[0]), np.log(sizes[1])
    for k, q in enumerate((0.25, 0.75)):
        n = int(round(np.exp(lo + q * (hi - lo))))
        p, fct = one(f"workforce{k}", n)
        plan["workforces"].append(p)
        facts["workforces"].append(fct)
    return plan, digests, facts


# ---- decomp_batch -----------------------------------------------------

def decomp_arrays(seed, rows, stream=2):
    rng = _rng(seed, stream)
    grp_a = rng.random(rows) < 0.5
    x = rng.normal(0.0, 1.0, (rows, 10)) + 0.3 * grp_a[:, None] * np.linspace(1, -1, 10)
    cat = rng.integers(0, 5, rows)
    z = rng.normal(0.0, 1.0, rows)
    beta = np.linspace(0.8, -0.4, 10)
    y = (2.0 + x @ beta + np.array([0.0, 0.3, -0.2, 0.5, 0.1])[cat]
         - 0.25 * grp_a + rng.normal(0.0, 1.0, rows))
    sel = (0.3 + 0.5 * x[:, 0] - 0.4 * x[:, 1] + 0.8 * z + rng.normal(0, 1, rows) > 0)
    return {"y": y, "x": x, "cat": cat, "z": z, "sel": sel.astype(np.float64),
            "grp_a": grp_a}


def _wage_table(a, path):
    cols = {"y": a["y"]}
    for j, name in enumerate(DECOMP_PREDICTORS):
        cols[name] = a["x"][:, j]
    cols["z"] = a["z"]
    cols["cat"] = np.array([f"c{c}" for c in a["cat"]])
    cols["sel"] = a["sel"]
    cols["grp"] = np.where(a["grp_a"], "A", "B")
    _parquet(pa.table(cols), path)
    return _sha(path)


def decomp_batch(seed, out, rows=30_000, warm_rows=500, bootstrap_reps=500,
                 taus=(0.1, 0.5, 0.9)):
    """The wage table, plus a small table of the same shape that warms
    every job's code paths before timing."""
    path, warm = os.path.join(out, "wages.parquet"), os.path.join(out, "wages-warm.parquet")
    main, small = decomp_arrays(seed, rows), decomp_arrays(seed, warm_rows, 4)
    digests = {"wages.parquet": _wage_table(main, path),
               "wages-warm.parquet": _wage_table(small, warm)}
    plan = {"parquet": path, "warm_parquet": warm, "rows": rows,
            "predictors": DECOMP_PREDICTORS, "selection_predictors": DECOMP_SELECTION,
            "bootstrap_reps": bootstrap_reps, "taus": list(taus), "seed": seed}
    return plan, digests, {"rows": rows, "arrays": {"main": main, "warm": small}}


# ---- dedup_corpus -----------------------------------------------------

VOCAB = 5000
BOILERPLATE = 16
FOOTER_TOKENS = 12
FOOTER_SHARE = 0.7


def corpus(seed, docs, stream=3, footer_share=FOOTER_SHARE):
    """Documents as strings plus the planted near-duplicate families.

    Base documents draw words from a Zipf(1) vocabulary with heavy-tailed
    (Pareto) lengths, and about a third carry shared boilerplate phrases,
    so some shingles are very frequent. A `footer_share` of the documents
    end in one common footer, whose shingles each sit in most of the
    corpus: at the default share that puts the inverted index's
    candidate mass (the sum over shingles of df * (df - 1) / 2) well
    above the exact-Jaccard engine's direct-path crossover, and without
    the footer well below it. About a
    third of the corpus is near-duplicate variants of a base document;
    each family substitutes its own share of tokens, chosen so pair
    Jaccard straddles 0.8."""
    rng = _rng(seed, stream)
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    phrases = [rng.choice(VOCAB, 10, p=p) for _ in range(BOILERPLATE)]
    footer = rng.integers(0, VOCAB, FOOTER_TOKENS)
    texts, families = [], []
    while len(texts) < docs:
        length = int(min(20 + rng.pareto(2.0) * 40, 800))
        toks = rng.choice(VOCAB, length, p=p)
        if rng.random() < 0.35:
            at = rng.integers(0, length)
            toks = np.concatenate([toks[:at], phrases[rng.integers(0, BOILERPLATE)], toks[at:]])
        if rng.random() < footer_share:
            toks = np.concatenate([toks, footer])
        members = [len(texts)]
        texts.append(toks)
        if rng.random() < 0.2:
            rate = rng.uniform(0.005, 0.06)
            for _ in range(rng.integers(1, 5)):
                if len(texts) >= docs:
                    break
                v = toks.copy()
                hit = rng.random(len(v)) < rate
                v[hit] = rng.integers(0, VOCAB, hit.sum())
                members.append(len(texts))
                texts.append(v)
        if len(members) > 1:
            families.append(members)
    ids = rng.permutation(docs)  # the doc generated i-th gets id ids[i]
    strings = [" ".join(f"w{t}" for t in toks) for toks in texts]
    return ids, strings, [[int(ids[m]) for m in fam] for fam in families]


def _corpus_table(ids, strings, path):
    _parquet(pa.table({"id": pa.array(ids, pa.int64()), "text": strings}), path)
    return _sha(path)


def dedup_corpus(seed, out, docs=6_000, warm_docs=300):
    """Two corpora of `docs` documents, one on each side of the
    exact-Jaccard engine's path crossover: `hot`, with the common footer,
    and `plain`, without it. A small corpus warms both pipelines."""
    parts = {"hot": corpus(seed, docs), "plain": corpus(seed, docs, 6, footer_share=0.0),
             "warm": corpus(seed, warm_docs, 5)}
    plan = {"shingle_n": 3, "threshold": 0.8, "minhash_hashes": 16, "minhash_bands": 8}
    digests, corpora = {}, {}
    for name, (ids, strings, families) in parts.items():
        path = os.path.join(out, f"corpus-{name}.parquet")
        digests[os.path.basename(path)] = _corpus_table(ids, strings, path)
        plan["parquet" if name == "hot" else f"{name}_parquet"] = path
        corpora[name] = ({int(i): s for i, s in zip(ids, strings)}, families)
    return plan, digests, {"docs": 2 * docs, "corpora": corpora}


GENERATORS = {"equity_mcp": equity_mcp, "decomp_batch": decomp_batch,
              "dedup_corpus": dedup_corpus}


def generate(workload, seed, out, **sizes):
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out, **sizes)
