"""Check dumped query results against their DuckDB oracles.

The comparison is the one scripts/selfcheck.py makes: columns sorted by
name, rows sorted, exact match, with a relative 1e-9 tolerance for
floats. An oracle's answer depends only on its SQL and the input tables,
so it is computed once per checkout and kept under the state directory;
`warm` computes every answer a workload can need before the first timed
run. No metric includes oracle time.
"""
import hashlib
import math
import os
import pickle
import threading
import time

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=lambda t: tuple(str(x) for x in t))


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)


class Oracles:
    def __init__(self, cache_dir, timeout=60.0):
        self.cache_dir = cache_dir
        self.timeout = timeout
        self.cons = {}
        os.makedirs(cache_dir, exist_ok=True)

    def _con(self, sf):
        if sf not in self.cons:
            import duckdb
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                p = os.path.join(sf, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.cons[sf] = con
        return self.cons[sf]

    def _sql(self, sf, sql):
        """Run one statement, interrupted after `timeout` seconds."""
        con = self._con(sf)
        timer = threading.Timer(self.timeout, con.interrupt)
        timer.start()
        try:
            rel = con.sql(sql)
            return rel.columns, rel.fetchall()
        finally:
            timer.cancel()

    def _path(self, sf, sql):
        key = hashlib.sha256(f"{os.path.realpath(sf)}\n{sql}".encode()).hexdigest()
        return os.path.join(self.cache_dir, key + ".pickle")

    def expected(self, sf, sql):
        """The oracle's normalized answer, from the cache when present."""
        path = self._path(sf, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        ans = _norm(*self._sql(sf, sql))
        with open(path + ".tmp", "wb") as f:
            pickle.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans

    def warm(self, sf, sqls):
        """Compute every missing answer; returns the seconds spent."""
        t0 = time.monotonic()
        for sql in sqls:
            if os.path.exists(self._path(sf, sql)):
                continue
            try:
                self.expected(sf, sql)
            except Exception:  # noqa: BLE001 - the run's own check reports it
                pass
        return time.monotonic() - t0

    def check(self, sf, dumps):
        """`dumps` maps query name -> (dump dir, oracle SQL). Returns
        name -> (ok, detail, result rows, seconds)."""
        res = {}
        for name, (d, sql) in sorted(dumps.items()):
            t0 = time.monotonic()
            try:
                o_cols, o_rows = self.expected(sf, sql)
                s_cols, s_rows = _norm(*self._sql(sf, f"SELECT * FROM read_parquet('{d}/*.parquet')"))
            except Exception as e:  # noqa: BLE001 - an oracle that cannot run fails its check
                res[name] = (False, f"error: {e}".splitlines()[0][:300], 0,
                             time.monotonic() - t0)
                continue
            secs = time.monotonic() - t0
            if s_cols != o_cols:
                res[name] = (False, f"columns {s_cols} != {o_cols}", len(s_rows), secs)
            elif len(s_rows) != len(o_rows):
                res[name] = (False, f"rows {len(s_rows)} != {len(o_rows)}", len(s_rows), secs)
            else:
                bad = next((i for i, (a, b) in enumerate(zip(s_rows, o_rows))
                            if a != b and not all(_same(x, y) for x, y in zip(a, b))), None)
                res[name] = (bad is None, "" if bad is None else
                             f"row {bad}: {s_rows[bad]} != {o_rows[bad]}"[:300],
                             len(s_rows), secs)
        return res

    def close(self):
        for con in self.cons.values():
            con.close()
        self.cons = {}
