"""Correctness checks, run outside the timed window.

Each check returns a list of mismatch descriptions; an empty list means
every output it looked at is correct.
"""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_dedup(observed, expected):
    """Every metrics row the Spark lift produced equals the oracle's row.

    `observed`: [kind, algo, [unique, total, distinct, count]] per execution.
    `expected`: the same shape, once per (kind, algo), from the
    single-thread content-equality oracle.
    """
    want = {(k, a): [int(x) for x in r] for k, a, r in expected}
    bad = []
    for k, a, r in observed:
        got = [int(x) for x in r]
        if want.get((k, a)) != got:
            bad.append(f"dedup {k}:{a} got {got} want {want.get((k, a))}")
    return bad


def check_mix(tables_dir, out_dir, names, oracle_sql):
    """Each query's first-touch output matches its DuckDB oracle (sorted
    columns, sorted rows), and rows-only queries are non-empty. This is
    the same compare as the repository's oracle script.
    """
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = []
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad.append(f"mix {name}: no output")
            continue
        mine = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        if name not in oracle_sql:
            if len(mine) == 0:
                bad.append(f"mix {name}: rows-only query returned no rows")
            continue
        try:
            theirs = con.sql(oracle_sql[name]).df()
        except Exception as e:  # an oracle that cannot run checks nothing
            bad.append(f"mix {name}: oracle error {e}")
            continue
        m, t = mine[sorted(mine.columns)], theirs[sorted(theirs.columns)]
        if list(m.columns) != list(t.columns):
            bad.append(f"mix {name}: columns {list(m.columns)} vs {list(t.columns)}")
            continue
        m = m.sort_values(list(m.columns)).reset_index(drop=True)
        t = t.sort_values(list(t.columns)).reset_index(drop=True)
        if not m.equals(t):
            bad.append(f"mix {name}: rows {len(m)} vs oracle {len(t)} differ")
    con.close()
    return bad


class LakeModel:
    """An in-memory model of every version of the lake table.

    Version 1 is the CTAS; each commit makes the next version. A version
    maps each key to the tuple of its rows
    `(l_orderkey, l_partkey, qty, net_cents, ship_month)`.
    """

    def __init__(self, rows):
        state = {}
        for r in rows:
            state[r[0]] = state.get(r[0], ()) + (tuple(r),)
        self.versions = {1: state}
        self.version = 1
        self._aggs = {}

    def commit(self, op):
        state = dict(self.versions[self.version])
        kind = op["kind"]
        if kind == "insert":
            for r in op["rows"]:
                state[r[0]] = state.get(r[0], ()) + (tuple(r),)
        elif kind == "eqdelete":
            for k in op["keys"]:
                state.pop(k, None)
        elif kind == "merge":
            for k, dq, month in op["src"]:
                if state.get(k):
                    state[k] = tuple((k, pk, q + dq, c, m) for _, pk, q, c, m in state[k])
                else:
                    state[k] = ((k, 1, dq, 555, month),)
        else:
            raise ValueError(kind)
        self.version += 1
        self.versions[self.version] = state

    def _agg(self, version, month):
        if version not in self._aggs:
            acc = {}
            for rows in self.versions[version].values():
                for _, _, q, c, m in rows:
                    n0, q0, c0 = acc.get(m, (0, 0, 0))
                    acc[m] = (n0 + 1, q0 + q, c0 + c)
            self._aggs[version] = acc
        return [list(self._aggs[version].get(month, (0, 0, 0)))]

    def read(self, op):
        kind = op["kind"]
        if kind == "point":
            return sorted(list(r) for r in self.versions[self.version].get(op["key"], ()))
        if kind == "part_agg":
            return self._agg(self.version, op["month"])
        if kind == "travel":
            return self._agg(op["version"], op["month"])
        raise ValueError(kind)


def lake_expected(rows, ops):
    """Expected result of every read op, by op index."""
    model = LakeModel(rows)
    want = {}
    for i, op in enumerate(ops):
        if op["kind"] in ("point", "part_agg", "travel"):
            want[i] = model.read(op)
        else:
            model.commit(op)
    return want


def check_lake(rows, ops, reads):
    """Every read (time travel included) matches the model.

    `reads`: [table, op index, result rows] as the run recorded them; each
    table ran the whole op stream from its own CTAS.
    """
    want = lake_expected(rows, ops)
    bad = []
    for table, i, got in reads:
        if sorted(got) != want[i]:
            bad.append(f"lake table {table} op {i} {ops[i]['kind']}: "
                       f"got {sorted(got)[:3]} want {want[i][:3]}")
    return bad
