#!/usr/bin/env python3
"""Seeded corpus generator for the graft benchmark.

Writes one workload's input tables into a fresh directory, in the same
parquet schemas graft's readers expect (events, documents), plus
``truth.json`` with what was planted: the ground-truth HMM behind the
events and the duplicate pairs planted in the documents.  The same (workload, seed) always gives
byte-identical table contents.

    python3 perfbench/gen.py --workload curation --seed 7 --out DIR

With ``--serve`` it reads one ``WORKLOAD SEED DIR`` request per stdin
line, writes that corpus and answers ``ok`` on stdout, until its input
ends; the benchmark harness runs it that way.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents vocabulary: content words of the shape graft's text
# operators were written for (short ASCII words, whitespace-separated).
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 8) + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 24 * 3600 * 1_000_000

# Corpus sizes per workload.  Each is small enough that one pass of the
# workload's calls takes seconds on a 4-core host, so a run measures
# several cold passes.
SIZES = {
    "em_kernel": dict(users=150, seq_min=200, seq_max=360, k=8, m=64),
    "curation": dict(docs=200, exact_share=0.08, near_share=0.08),
}


def stochastic(rng, rows, cols, conc):
    return rng.dirichlet(np.full(cols, conc), size=rows)


def hmm_truth(rng, k, m):
    """A ground-truth HMM with sticky states and peaked emissions, so
    the trained model has structure to recover."""
    pi = rng.dirichlet(np.full(k, 2.0))
    a = stochastic(rng, k, k, 0.5) * 0.4 + np.eye(k) * 0.6
    b = stochastic(rng, k, m, 0.3)
    return pi, a / a.sum(1, keepdims=True), b / b.sum(1, keepdims=True)


def sample_hmm(rng, pi, a, b, lengths):
    """Symbol sequences drawn from the HMM, vectorised over users."""
    n, tmax = len(lengths), int(max(lengths))
    ca, cb = np.cumsum(a, 1), np.cumsum(b, 1)
    state = np.searchsorted(np.cumsum(pi), rng.random(n) * (1 - 1e-12))
    syms = np.empty((n, tmax), dtype=np.int64)
    for t in range(tmax):
        if t:
            state = (ca[state] < rng.random(n)[:, None]).sum(1)
        syms[:, t] = (cb[state] < rng.random(n)[:, None]).sum(1)
    return [syms[i, :lengths[i]] for i in range(n)]


def events_table(rng, sym_seqs, type_names):
    """One row per symbol; each user's events are spread over the month
    in sequence order, event_id follows global time order."""
    users, ts, syms = [], [], []
    for uid, seq in enumerate(sym_seqs):
        n = len(seq)
        offs = np.sort(rng.choice(SPAN_US, size=n, replace=False))
        users.append(np.full(n, uid + 1, dtype=np.int64))
        ts.append(T0_US + offs)
        syms.append(seq)
    users, ts, syms = np.concatenate(users), np.concatenate(ts), np.concatenate(syms)
    order = np.lexsort((users, ts))
    users, ts, syms = users[order], ts[order], syms[order]
    n = len(ts)
    names = np.array(type_names, dtype=object)[syms]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(names, type=pa.string()),
        "value": pa.array(np.round(rng.gamma(2.0, 15.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          type=pa.string()),
    })


def random_text(rng, n_words):
    return " ".join(rng.choice(WORDS, size=n_words))


def documents_table(rng, n_docs, exact_share, near_share):
    """Random documents with planted exact copies and near copies (one
    word at the end replaced: word-3-gram Jaccard about 0.96)."""
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    texts = [random_text(rng, int(rng.integers(40, 90))) for _ in range(n_base)]
    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        exact_pairs.append([src, len(texts)])
        texts.append(texts[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = texts[src].split()
        words[-1] = "dup" if words[-1] != "dup" else "a"
        near_pairs.append([src, len(texts)])
        texts.append(" ".join(words))
    # Shuffle so copies are not clustered at the end of the file.
    perm = rng.permutation(n_docs)
    pos = np.empty(n_docs, dtype=np.int64)
    pos[perm] = np.arange(n_docs)
    texts = [texts[i] for i in perm]
    remap = lambda pairs: sorted(sorted([int(pos[a]), int(pos[b])]) for a, b in pairs)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, {"exact_pairs": remap(exact_pairs), "near_pairs": remap(near_pairs)}


def generate(workload, seed, out):
    """Write `workload`'s tables for `seed` into the new directory `out`
    and return the planted truth (also written as truth.json)."""
    cfg = SIZES[workload]
    rng = np.random.default_rng([seed % 2**63, list(SIZES).index(workload)])
    os.makedirs(out)
    truth = {"workload": workload, "seed": seed, "tables": {}}

    def put(name, table):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        truth["tables"][name] = {"rows": table.num_rows, "files": 1}

    if "k" in cfg:
        k, m = cfg["k"], cfg["m"]
        pi, a, b = hmm_truth(rng, k, m)
        lengths = rng.integers(cfg["seq_min"], cfg["seq_max"] + 1, cfg["users"])
        seqs = sample_hmm(rng, pi, a, b, lengths)
        events = events_table(rng, seqs, [f"ev{j:02d}" for j in range(m)])
        put("events", events)
        truth["hmm"] = {"k": k, "m": m, "pi": pi.tolist(), "a": a.tolist(),
                        "b": b.tolist(), "observations": int(lengths.sum()),
                        "sequences": int(len(lengths))}
    if "docs" in cfg:
        docs, planted = documents_table(rng, cfg["docs"], cfg["exact_share"],
                                        cfg["near_share"])
        put("documents", docs)
        truth["documents"] = planted
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def serve():
    for line in sys.stdin:
        workload, seed, out = line.split()
        generate(workload, int(seed), out)
        print("ok", flush=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(SIZES))
    p.add_argument("--seed", type=int)
    p.add_argument("--out")
    p.add_argument("--serve", action="store_true", help="write corpora requested on stdin")
    a = p.parse_args()
    if a.serve:
        serve()
    elif None in (a.workload, a.seed, a.out):
        p.error("--workload, --seed and --out are required without --serve")
    else:
        generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
