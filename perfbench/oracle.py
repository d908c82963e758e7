"""Oracle check of the benchmark's outputs in DuckDB.

Each result op's output (parquet written by the verification pass) is
compared with its expected rows the way `scripts/local_verify.py` does
it: column names lower-cased and sorted, rows sorted, floats equal
within 1e-9 relative. `tpch` and `llm` ops replay the catalog row's
`oracleSql`; the `lakehouse` table is checked against a DuckDB
reconstruction of its expected rows from `orders` and the seeded plan.
"""
import math
import os

import duckdb

REL_TOL = 1e-9


def connect(data_dir):
    """A DuckDB connection with one view per table file in `data_dir`."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _rows(rel):
    """Rows with columns sorted by lower-cased name, then sorted by their
    non-float cells first so a float that differs cannot reorder rows."""
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    key = lambda r: (repr(tuple(x for x in r if not isinstance(x, float))), repr(r))
    return [cols[i] for i in order], sorted(rows, key=key)


def compare(con, got_path, sql=None, expected=None):
    """Compare the parquet output at `got_path` with the rows of `sql`
    (or the relation `expected`). Returns (ok, rows, message)."""
    got_rel = con.sql(f"SELECT * FROM read_parquet('{got_path}/*.parquet')")
    want_rel = con.sql(sql) if sql is not None else expected
    gcols, got = _rows(got_rel)
    wcols, want = _rows(want_rel)
    if gcols != wcols:
        return False, len(got), f"columns differ: got {gcols}, expected {wcols}"
    if len(got) != len(want):
        return False, len(got), f"row count differs: got {len(got)}, expected {len(want)}"
    bad = [(r, c) for r in range(len(got)) for c in range(len(gcols))
           if not _close(got[r][c], want[r][c])]
    if not bad:
        return True, len(got), f"{len(got)} rows match"
    r, c = bad[0]
    return False, len(got), (f"{len(bad)} cell(s) differ; first at sorted row {r}, column "
                      f"{gcols[c]}: got {got[r][c]!r}, expected {want[r][c]!r}")


def lakehouse_expected(con, plan):
    """DuckDB reconstruction of the lakehouse reads from `orders`:
    the partition-plus-bounds read taken after the appends, and the
    final table after delete, merge (update, or insert for deleted
    keys) and compaction."""
    ws, wlo, whi = plan["lake.where"]
    ds, dlo, dhi = plan["lake.delete"]
    m, r = plan["lake.update_modulus"], plan["lake.update_residue"]
    where = con.sql(f"""SELECT * FROM orders WHERE o_orderstatus = '{ws}'
                        AND o_orderkey >= {wlo} AND o_orderkey < {whi}""")
    final = con.sql(f"""
        WITH kept AS (SELECT * FROM orders WHERE NOT (o_orderstatus = '{ds}'
                        AND o_orderkey >= {dlo} AND o_orderkey < {dhi})),
        src AS (SELECT * REPLACE (o_totalprice + 1.0 AS o_totalprice)
                FROM orders WHERE o_orderkey % {m} = {r})
        SELECT * FROM src
        UNION ALL SELECT * FROM kept WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)""")
    return {"lake_read_where": where, "lake_read": final}
