"""Output checks that run outside the JVM: curation job outputs against
each job's DuckDB oracle, compared the way tools/check.py compares them
(columns by name, rows order-independent, type-strict values, floats to
nine significant digits).

Running the oracles takes longer than the timed jobs, so each job's oracle
answer is banked in oracle_bank.json as a digest, keyed by the oracle SQL
and the corpus table sizes. A job whose key is not banked (its oracle SQL
or the corpus changed) is checked against DuckDB directly, and the run
logs the entry to bank for it.
"""
import hashlib
import json
import math
import os

BANK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_bank.json")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def norm(v):
    """Type-strict canonical form of one value (floats to 9 significant digits)."""
    if v is None:
        return "n:"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else "f:%.9g" % v
    if isinstance(v, bool):
        return "b:%s" % v
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, dict):
        return "{" + ",".join("%s=%s" % (k, norm(v[k])) for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return norm(v.tolist())
    return "s:%s" % v


def kind(dtype):
    k = dtype.kind
    return "i" if k in "iu" else k


def canonical(df):
    """(sorted column names, dtype kinds, sorted normalized rows)."""
    cols = sorted(df.columns)
    kinds = [kind(df[c].dtype) for c in cols]
    rows = sorted(tuple(norm(x) for x in r) for r in df[cols].itertuples(index=False))
    return cols, kinds, rows


def digest(answer):
    """sha256 of a canonical() answer."""
    return hashlib.sha256(json.dumps(answer, separators=(",", ":")).encode()).hexdigest()


def oracle_key(sql, sf_dir):
    """What an oracle answer depends on: its SQL and the corpus tables."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        h.update(("%s:%d" % (t, os.path.getsize(os.path.join(sf_dir, t + ".parquet")))).encode())
    return h.hexdigest()


def check_curation(raw, sf_dir):
    """Returns (failed, attempted, notes) over the curation job outputs."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, sf_dir, t))
    with open(BANK) as fh:
        bank = json.load(fh)
    oracle = raw.get("oracle_sql", {})
    out_dir = raw["curation_out"]
    failed, attempted, notes = 0, 0, []
    for job in sorted(os.listdir(out_dir)):
        attempted += 1
        try:
            if job not in oracle:
                raise KeyError("no oracle for " + job)
            got = digest(canonical(con.sql("SELECT * FROM read_parquet('%s/%s/*.parquet')" % (out_dir, job)).df()))
            key = oracle_key(oracle[job], sf_dir)
            banked = bank.get(job, {})
            if banked.get("key") == key:
                want = banked["answer"]
            else:
                want = digest(canonical(con.sql(oracle[job]).df()))
                notes.append("curation %s: oracle not banked; entry %s" % (
                    job, json.dumps({job: {"key": key, "answer": want}})))
            ok, why = got == want, "differs from its oracle"
        except Exception as e:  # an unreadable or unverifiable output is a failed job
            ok, why = False, "%s: %s" % (type(e).__name__, str(e)[:200])
        if not ok:
            failed += 1
            notes.append("curation %s: %s" % (job, why))
    return failed, attempted, notes
