"""DuckDB oracle for the benchmark's answers.

Read calls are checked against `SparkEntry.oracleSql` run by DuckDB on the
same files, with the comparison rules of tools/verify_local.py: columns
sorted by name, equal row counts, rows sorted, values equal exactly (two
NaNs are equal; any other float difference fails). Queries without an
oracle are checked for rows > 0.

Write calls are checked by rebuilding the expected table version in DuckDB
from the previous version and the change batch, and comparing row count and
an order-independent hash of every row.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Refreshed tables: key column, and whether the batch is a MERGE batch
# (an `op` column of delete/update/insert) or a plain upsert batch.
WRITES = {
    "documents": ("doc_id", True),
    "events": ("event_id", False),
}


def scan(path):
    """read_parquet() argument for a parquet file or a directory of parts."""
    return f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({scan(f'{data_dir}/{t}.parquet')})")
    return con


def _sort_key(row):
    return tuple((v is None, str(v) if isinstance(v, (list, dict)) else v) for v in row)


def compare(exp, got):
    """None when the two arrow tables are equal under verify_local's rules,
    otherwise a one-line reason."""
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return f"columns differ: oracle={ecols} spark={gcols}"
    if exp.num_rows != got.num_rows:
        return f"rows differ: oracle={exp.num_rows} spark={got.num_rows}"
    erows = sorted([tuple(r[c] for c in ecols) for r in exp.to_pylist()], key=_sort_key)
    grows = sorted([tuple(r[c] for c in gcols) for r in got.to_pylist()], key=_sort_key)
    float_bad = hard_bad = None
    for i, (er, gr) in enumerate(zip(erows, grows)):
        for c, (ev, gv) in enumerate(zip(er, gr)):
            if ev == gv:
                continue
            if isinstance(ev, float) and isinstance(gv, float):
                if math.isnan(ev) and math.isnan(gv):
                    continue
                float_bad = float_bad or (i, ecols[c], ev, gv)
            else:
                hard_bad = (i, ecols[c], ev, gv)
                break
        if hard_bad:
            break
    bad = hard_bad or float_bad
    if bad:
        i, c, ev, gv = bad
        return f"first diff at row {i} col {c}: oracle={ev!r} spark={gv!r}"
    return None


class ReadOracle:
    """Checks answers of read calls on one data directory; each query's
    expected answer is computed once and kept as a DuckDB table."""

    def __init__(self, data_dir, oracle_sql):
        self.con = connect(data_dir)
        self.sql = oracle_sql
        self.expected = {}

    def check(self, query, answer_dir):
        got = f"read_parquet({scan(answer_dir)})"
        try:
            n_got = self.con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
        except Exception as e:  # noqa: BLE001 - any unreadable answer is a failure
            return f"answer unreadable: {e}"
        if query not in self.sql:
            return None if n_got > 0 else "no rows"
        if query not in self.expected:
            name = f"expected_{len(self.expected)}"
            try:
                self.con.execute(f"CREATE TEMP TABLE {name} AS {self.sql[query]}")
            except Exception as e:  # noqa: BLE001
                return f"oracle sql error: {e}"
            self.expected[query] = name
        exp = self.expected[query]
        etypes = dict(self.con.execute(f"SELECT column_name, column_type FROM "
                                       f"(DESCRIBE {exp})").fetchall())
        gtypes = dict(self.con.execute(f"SELECT column_name, column_type FROM "
                                       f"(DESCRIBE SELECT * FROM {got})").fetchall())
        if etypes == gtypes:
            # same names and types: equal row counts and an empty EXCEPT ALL
            # mean equal multisets, which the rules below would also accept
            cols = ", ".join(f'"{c}"' for c in sorted(etypes))
            n_exp, extra = self.con.execute(
                f"SELECT (SELECT count(*) FROM {exp}), (SELECT count(*) FROM "
                f"(SELECT {cols} FROM {exp} EXCEPT ALL SELECT {cols} FROM {got}))").fetchone()
            if n_exp == n_got and extra == 0:
                return None
        return compare(self.con.execute(f"SELECT * FROM {exp}").fetch_arrow_table(),
                       self.con.execute(f"SELECT * FROM {got}").fetch_arrow_table())


def _row_digest(con, rel, cols, types):
    """(rows, order-independent hash sum) of `rel` with columns cast to `types`."""
    casts = ", ".join(f'CAST("{c}" AS {types[c]})' for c in cols)
    return con.execute(
        f"SELECT count(*), sum(hash({casts})::HUGEINT) FROM ({rel})").fetchone()


def check_write(table, prev_dir, changes, out_dir):
    """None when `out_dir` holds exactly the version that applying `changes`
    to `prev_dir`'s table gives, otherwise a one-line reason."""
    k, merge = WRITES[table]
    con = duckdb.connect()
    prev = f"SELECT * FROM read_parquet({scan(f'{prev_dir}/{table}.parquet')})"
    desc = con.execute(f"DESCRIBE {prev}").fetchall()
    cols = [d[0] for d in desc]
    types = {d[0]: d[1] for d in desc}
    chg = f"SELECT * FROM read_parquet({scan(changes)})"
    typed_chg = ", ".join(f'CAST(c."{c}" AS {types[c]}) AS "{c}"' for c in cols)
    if merge:
        # MERGE: a touched key is replaced by its change row unless the op is
        # delete; update of an absent key is a no-op; insert always lands
        expected = (
            f"SELECT * FROM ({prev}) WHERE {k} NOT IN (SELECT {k} FROM ({chg})) "
            f"UNION ALL SELECT {typed_chg} FROM ({chg}) c "
            f"WHERE c.op = 'insert' OR (c.op = 'update' AND c.{k} IN (SELECT {k} FROM ({prev})))")
    else:
        expected = (
            f"SELECT * FROM ({prev}) WHERE {k} NOT IN (SELECT {k} FROM ({chg})) "
            f"UNION ALL SELECT {typed_chg} FROM ({chg}) c")
    try:
        got = _row_digest(con, f"SELECT * FROM read_parquet({scan(out_dir)})", cols, types)
    except Exception as e:  # noqa: BLE001
        return f"written version unreadable: {e}"
    want = _row_digest(con, expected, cols, types)
    if got != want:
        return f"version differs: oracle rows={want[0]} spark rows={got[0]}"
    return None
