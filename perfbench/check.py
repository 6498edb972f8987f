"""Output checks for one benchmark run, made after the timed section.

Each check returns (name, ok, detail).  The checks read the outputs the
harness dumped as parquet for the last timed corpus, that corpus's
tables, and the truth the generator planted in it.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["events", "documents"]  # what gen.py writes


def _dump(check_dir, name):
    files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no dumped output for {name}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _connect(corpus):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df


def oracle_checks(con, check_dir, oracle):
    """The entry's output equals its DuckDB oracle on the same corpus:
    same columns, same rows, same dtypes, exact values."""
    out = []
    for name in sorted(oracle):
        try:
            s, d = _canon(_dump(check_dir, name)), _canon(con.execute(oracle[name]).df())
            if list(s.columns) != list(d.columns):
                out.append((f"oracle.{name}", False, f"columns {list(s.columns)} vs {list(d.columns)}"))
                continue
            if len(s) != len(d):
                out.append((f"oracle.{name}", False, f"rows {len(s)} vs {len(d)}"))
                continue
            pd.testing.assert_frame_equal(s, d, check_dtype=True, check_exact=True)
            out.append((f"oracle.{name}", True, f"{len(s)} rows"))
        except Exception as e:  # a failed check, not a crashed benchmark
            out.append((f"oracle.{name}", False, f"{type(e).__name__}: {str(e)[:300]}"))
    return out


def _check(name, fn):
    try:
        ok, detail = fn()
        return (name, bool(ok), detail)
    except Exception as e:
        return (name, False, f"{type(e).__name__}: {str(e)[:300]}")


def planted_checks(con, check_dir, truth, names):
    """Every planted duplicate pair is found."""
    out = []
    docs = truth.get("documents", {})
    exact, near = docs.get("exact_pairs", []), docs.get("near_pairs", [])

    if "dedup_exact" in names:
        def exact_recall():
            hashes = set(_dump(check_dir, "dedup_exact").dup_hash)
            want = con.execute(
                "SELECT doc_id, md5(text) AS h FROM documents").df().set_index("doc_id").h
            missing = [p for p in exact if want[p[0]] not in hashes]
            return not missing, f"{len(exact) - len(missing)}/{len(exact)} planted exact pairs found"
        out.append(_check("recall.dedup_exact", exact_recall))

    if "dedup_ngram_jaccard" in names:
        def jaccard_recall():
            got = set(map(tuple, _dump(check_dir, "dedup_ngram_jaccard")[["a_id", "b_id"]].values.tolist()))
            planted = [tuple(p) for p in exact + near]
            missing = [p for p in planted if p not in got]
            return not missing, f"{len(planted) - len(missing)}/{len(planted)} planted pairs found"
        out.append(_check("recall.dedup_ngram_jaccard", jaccard_recall))

    return out


def run_checks(result):
    """All checks for one harness result; a list of (name, ok, detail)."""
    check_dir, corpus = result["check_dir"], result["check_corpus"]
    with open(os.path.join(corpus, "truth.json")) as f:
        truth = json.load(f)
    names = list(result["dump_rows"])
    out = [(f"dump.{n}", n in result["dump_rows"], "output dumped") for n in result["entries"]]
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = _connect(corpus)
    try:
        out += oracle_checks(con, check_dir, {k: v for k, v in oracle.items() if k in names})
        out += planted_checks(con, check_dir, truth, names)
    finally:
        con.close()
    out += [(c["name"], c["ok"], c["detail"]) for c in result.get("em_checks", [])]
    return out
