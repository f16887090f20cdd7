"""Output checks for the three workloads, run after the timed region.

Each check returns (ok, why). The Spark side hands over canonical
rows (graft.Canonical.renderCell); the DuckDB side renders its oracle
result with tools/check.py's `canon_cell`, so a result matches when the
sorted row lists are equal. Where the engines pick different types for
the same value (an int against a float, a decimal against a double),
rows are compared value by value instead, as the repo's tools/check.py
does.
"""
import decimal
import glob
import json
import os
import struct
import sys

import duckdb

# the repo's canonical cell rendering, shared with graft.Canonical
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import canon_cell  # noqa: E402


def _value(c):
    """Parse a canonical cell back to a comparable Python value."""
    if c == "null":
        return None
    if c in ("true", "false"):
        return c == "true"
    if c == "nan":
        return "nan"
    head, body = c[0], c[1:]
    if head == "d" and len(body) == 16:
        return struct.unpack(">d", bytes.fromhex(body))[0]
    if head == "m":
        return decimal.Decimal(body)
    try:
        return int(c)
    except ValueError:
        return c


def oracle_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def same_result(got, want):
    """got/want: (sorted column names, canonical rows)."""
    (gc, gr), (wc, wr) = got, want
    gr, wr = sorted(gr), sorted(wr)
    if gc != wc:
        return False, f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return False, f"{len(gr)} rows vs {len(wr)}"
    if gr == wr:
        return True, f"{len(gr)} rows exact"

    def key(x):
        if isinstance(x, (int, float, decimal.Decimal)) and not isinstance(x, bool):
            return (0, float(x), "")
        return (1, 0.0, str(x))

    def parsed(rows):
        return sorted(([_value(c) for c in r.split("\x1f")] for r in rows),
                      key=lambda r: [key(x) for x in r])
    bad = sum(1 for a, b in zip(parsed(gr), parsed(wr)) if a != b)
    if bad:
        return False, f"{bad} of {len(gr)} rows differ"
    return True, f"{len(gr)} rows equal by value"


def _load(out, name):
    with open(os.path.join(out, "check", name)) as f:
        return f.read() if name.endswith(".sql") else json.load(f)


# ---- per workload -------------------------------------------------------------

def corpus(in_dir, out):
    """Committed doc_id set == DuckDB running the pipeline_clean_corpus
    oracle over the same generated documents."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT doc_id, text FROM read_json("
        f"'{os.path.join(in_dir, 'corpus.jsonl')}', format='newline_delimited', "
        "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR', 'source': 'VARCHAR'})")
    want = {r[0] for r in con.execute(
        f"SELECT doc_id FROM ({_load(out, 'corpus_oracle.sql')})").fetchall()}
    got = set(_load(out, "corpus_ids.json"))
    if got == want:
        return {"clean_doc_ids": (True, f"{len(got)} documents kept, as the oracle")}
    return {"clean_doc_ids": (False, f"{len(got ^ want)} ids differ "
                                     f"({len(got)} committed, oracle {len(want)})")}


def retrieval(in_dir, out):
    """The IVF-PQ recall curve against its oracle SQL (both searchers'
    train/encode/probe/score chains plus exact-L2 truth)."""
    if not os.path.exists(os.path.join(out, "check", "recall_oracle.sql")):
        return {}  # untraced run: the harness checked every call in-JVM
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{os.path.join(in_dir, 'embeddings.parquet')}'")
    got = _load(out, "recall_curve.json")
    want = oracle_rows(con, _load(out, "recall_oracle.sql"))
    return {"recall_curve": same_result((got["cols"], got["rows"]), want)}


def analytics(in_dir, out):
    """Every query's first result against its DuckDB oracle."""
    got = _load(out, "analytics.json")
    sqls = _load(out, "analytics_oracle.json")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(in_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    res = {}
    for name in sorted(got):
        if name not in sqls:  # approximate queries: rows-only, like tools/check.py
            n = len(got[name]["rows"])
            res[name] = (n > 0, f"{n} rows, no oracle")
            continue
        try:
            want = oracle_rows(con, sqls[name])
        except duckdb.Error as e:
            res[name] = (False, f"oracle failed: {str(e)[:160]}")
            continue
        res[name] = same_result((got[name]["cols"], got[name]["rows"]), want)
    return res


CHECKS = {"corpus_clean": corpus, "retrieval": retrieval, "analytics": analytics}


def run(workload, in_dir, out):
    try:
        return CHECKS[workload](in_dir, out)
    except Exception as e:  # a check that cannot run is a failed check
        return {"checks": (False, f"{type(e).__name__}: {str(e)[:200]}")}

