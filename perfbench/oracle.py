"""Correctness checks for one benchmark run.

Batch gates: each gate's parquet output is hash-compared with its
`SparkEntry.oracleSql` query run in DuckDB over the same tables, after the
canonicalisation of tools/check.py (columns sorted by name, floats to six
significant digits, bytes as hex, everything else as str). The oracle's
answers depend only on the SQL and the fixed tables, so run.py computes
them once per source and table digest, before any benchmark JVM.

stream_open: every emitted fold row is compared with the closed form of
the rate source's row numbers (see OpenLoop.scala for the payload).
"""
import glob
import hashlib
import os

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEYS = 16


def _canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif isinstance(v, (bytes, bytearray)):
                vals.append(v.hex())
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    return rows


def _connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _answer(con, sql):
    """A query's canonical answer: its row count and the sha1 of its
    sorted canonical rows."""
    rows = sorted(_canon(con.execute(sql).fetchdf()))
    h = hashlib.sha1()
    for r in rows:
        b = r.encode()
        h.update(b"%d:" % len(b) + b)
    return {"rows": len(rows), "sha1": h.hexdigest()}


def sql_key(sql):
    return hashlib.sha1(sql.encode()).hexdigest()


def answers(data_dir, oracles):
    """{sql_key(sql): canonical answer} for every query of {gate: sql}
    that runs; a query that fails is left out, so the check that needs it
    runs it again and records the error."""
    con = _connect(data_dir)
    known = {}
    for sql in sorted(set(oracles.values())):
        try:
            known[sql_key(sql)] = _answer(con, sql)
        except Exception:  # noqa: BLE001 - reported by check_gates
            pass
    return known


def check_gates(data_dir, out_dir, oracles, known):
    """Returns {gate: None if equal, else a one-line reason}. `known`
    holds answers computed earlier by `answers`, by sql_key."""
    con = _connect(data_dir)
    verdict = {}
    for gate, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, gate, "*.parquet"))
        if not files:
            verdict[gate] = "no output"
            continue
        try:
            got = _answer(con, f"SELECT * FROM '{files[0]}'")
            want = known.get(sql_key(sql)) or _answer(con, sql)
        except Exception as e:  # an oracle or a read that fails is a failed gate
            verdict[gate] = f"error: {e}"[:300]
            continue
        verdict[gate] = None if got == want else \
            f"{got['rows']} rows differ from the oracle's {want['rows']}"
    return verdict


def open_constants(seed):
    """The payload constants (a, b, c) of OpenLoop.constants."""
    return 1 + 2 * (seed % 9973), seed % 7919, seed % 1000


def open_contributions(seed, n):
    """For source rows 0..n-1: per key, the ascending row numbers that
    contribute to it and the running sums of their amounts."""
    a, b, c = open_constants(seed)
    v = np.arange(n, dtype=np.int64)
    k, amt = (v * a + b) % KEYS, (v * 31 + c) % 1000
    keep = amt % 5 != 0
    v, k, amt = v[keep], k[keep], amt[keep]
    keys = np.concatenate([k, (k + 1) % KEYS])
    amts = np.concatenate([amt, amt // 2])
    vs = np.concatenate([v, v])
    out = {}
    for key in range(KEYS):
        m = keys == key
        order = np.argsort(vs[m], kind="stable")
        out[key] = (vs[m][order], np.cumsum(amts[m][order]))
    return out


def check_open(emits, admitted, seed):
    """emits: [key, sum, count, newest_ms, newest_v, emitted_ms] rows.
    Returns the number of wrong rows, plus one if the final fold state
    misses rows the source admitted."""
    n = max([admitted] + [e[4] + 1 for e in emits])
    contrib = open_contributions(seed, n)
    wrong = 0
    last = {}
    for key, total, count, _, newest_v, _ in emits:
        vs, sums = contrib.get(key, (np.array([], dtype=np.int64), None))
        i = int(np.searchsorted(vs, newest_v))
        if i >= len(vs) or vs[i] != newest_v or sums[i] != total or i + 1 != count:
            wrong += 1
        last[key] = max(last.get(key, -1), newest_v)
    for key, (vs, _) in contrib.items():
        below = vs[vs < admitted]
        if len(below) and last.get(key, -1) < below[-1]:
            return wrong + 1
    return wrong
