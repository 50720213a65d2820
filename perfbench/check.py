"""Reference checks: every operation's result is compared with DuckDB on the
same inputs, outside the timed window.

A result is compared as an order-independent digest (row count plus the sum
of a per-row hash, `Digest.scala` in the harness is the twin of `digest_sql`
here) or, for the judged queries, as a multiset against their oracle SQL.
An operation that threw, or whose result differs, counts as failed.
"""
import collections

import duckdb

MOD = 1_000_000_007
THETA_OPS = ["bandJoin", "lessThanJoin", "lessThanJoinAuto", "IEJoin", "pointInIntervalJoinAuto",
             "intervalOverlapJoinVar", "oneBucketThetaJoin", "bandJoinAutoRewrite"]


def connect(tables=None):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in (tables or {}).items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def theta_sql(op, eps):
    band = f"t_v BETWEEN s_v - {eps} AND s_v + {eps}"
    return {
        "bandJoin": f"SELECT * FROM S JOIN T ON {band}",
        "bandJoinAutoRewrite": f"SELECT * FROM S JOIN T ON {band}",
        "lessThanJoin": "SELECT * FROM L JOIN T ON l_v < t_v",
        "lessThanJoinAuto": "SELECT * FROM L JOIN T ON l_v < t_v",
        "IEJoin": "SELECT * FROM L JOIN T ON l_v < t_v",
        "pointInIntervalJoinAuto": "SELECT * FROM S JOIN T ON s_v >= t_v AND s_v < t_e",
        "intervalOverlapJoinVar": "SELECT * FROM S JOIN T ON s_v < t_e AND t_v < s_e",
        "oneBucketThetaJoin": f"SELECT * FROM S1 JOIN T1 ON {band}",
    }[op]


def digest_sql(con, sql):
    """The harness's digest, as DuckDB SQL over the result of `sql`."""
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall())
    terms = []
    for i, (name, typ) in enumerate(cols):
        x = f'length("{name}")' if typ == "VARCHAR" else f'"{name}"'
        terms.append(f"(coalesce(CAST({x} AS BIGINT), 7) % {MOD}) * {1_000_003 + 1000 * i}")
    h = " + ".join(terms)
    return f"SELECT count(*) AS n, coalesce(sum(({h}) % {MOD}), 0) AS h FROM ({sql})"


def digest(con, sql):
    n, h = con.execute(digest_sql(con, sql)).fetchone()
    return {"n": int(n), "h": int(h)}


def count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def same(got, want):
    return got is not None and all(got.get(k) == v for k, v in want.items())


def theta(ops, expected):
    """Failures among theta-join op runs: each digest equals the reference."""
    return [op for op in ops if op["error"] is not None or not same(op["result"], expected[op["name"]])]


class TableModel:
    """The table as the writes so far define it, replayed in DuckDB; keeps
    the last few versions' states, enough for the as-of and diff reads."""

    KEEP = 6

    def __init__(self, inputs, plan):
        self.con = connect()
        self.inputs, self.plan = inputs, plan
        self.extras = []
        self.con.execute(f"CREATE TABLE cur AS SELECT * FROM read_parquet('{inputs}/base.parquet')")
        self.states = collections.OrderedDict()
        self.rows = {}
        self.snapshot(1)

    def snapshot(self, v):
        if v in self.states:
            return
        self.con.execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM cur")
        self.states[v] = list(self.extras)
        self.rows[v] = self.con.execute("SELECT count(*) FROM cur").fetchone()[0]
        while len(self.states) > self.KEEP:
            old, _ = self.states.popitem(last=False)
            self.con.execute(f"DROP TABLE v{old}")

    def insert(self, f):
        extra = "".join(f", NULL::BIGINT AS {c}" for c in self.extras)
        self.con.execute(f"INSERT INTO cur SELECT *{extra} FROM read_parquet('{self.inputs}/{f}')")

    def upsert(self, f):
        self.con.execute(f"DELETE FROM cur WHERE id IN (SELECT id FROM read_parquet('{self.inputs}/{f}'))")
        self.insert(f)

    def at(self, v, cols=None):
        """SQL for the state at version v, read under `cols` extra columns."""
        if v not in self.states:
            return None
        have = self.states[v]
        pad = "".join(f", NULL::BIGINT AS {c}" for c in (cols or have) if c not in have)
        return f"SELECT *{pad} FROM v{v}"

    def apply(self, op, ts):
        """Replays one op run; returns False if its result is wrong."""
        name, res, p = op["name"], op["result"], self.plan["passes"][op["pass"] % len(self.plan["passes"])]
        if op["error"] is not None:
            return False
        if name == "commitAppend":
            self.insert(p["append"])
        elif name in ("commitMerge", "commitMergeMOR"):
            self.upsert(p["merge" if name == "commitMerge" else "merge_mor"])
        elif name == "commitUpdate":
            self.con.execute(f"UPDATE cur SET v = v + 1 WHERE k = {p['k_update']}")
        elif name == "commitDeleteMOR":
            self.con.execute(f"DELETE FROM cur WHERE k = {p['k_delete']}")
        elif name == "streamAppend":
            self.insert(p["stream"])
        elif name == "commitAlterAdd":
            c = f"c{op['pass']}"
            self.con.execute(f"ALTER TABLE cur ADD COLUMN {c} BIGINT")
            self.extras.append(c)
        if "version" in res and op["kind"] == "write":
            self.snapshot(res["version"])
            return True
        if name in ("readAt", "readAtHead"):
            sql = self.at(res["version"])
        elif name == "readAsOf":
            v = max((v for v, t in ts if t <= res["asof"]), default=None)
            sql = self.at(v)
        elif name == "history":
            sql = " UNION ALL ".join(f"SELECT {v}::INTEGER AS version, {n}::BIGINT AS n_rows"
                                     for v, n in sorted(self.rows.items()))
        elif name == "diff":
            a, b = self.at(res["va"], self.states.get(res["vb"])), self.at(res["vb"])
            if a is None or b is None:
                return False
            sql = (f"(SELECT *, 'added' AS op FROM (({b}) EXCEPT ALL ({a}))) UNION ALL "
                   f"(SELECT *, 'removed' AS op FROM (({a}) EXCEPT ALL ({b})))")
        else:
            return False
        return sql is not None and same(res, digest(self.con, sql))


def table(ops, inputs, plan, version_ts):
    model = TableModel(inputs, plan)
    return [op for op in ops if not model.apply(op, version_ts)]


def scan(ops, data_root, check_dir, oracle):
    """Failures among judged-query runs: a run fails if it threw, or if the
    query's result (written once after the timed passes) differs from its
    oracle SQL as a multiset."""
    wrong = {}
    for q in oracle:
        con = connect({t: f"{data_root}/{t}.parquet" for t in TABLES})
        try:
            wrong[q["name"]] = not multiset_equal(con, f"{check_dir}/{q['name']}/*.parquet", q["sql"])
        except duckdb.Error as e:
            wrong[q["name"]] = f"{type(e).__name__}: {str(e)[:200]}"
    return [op for op in ops if op["error"] is not None or wrong.get(op["name"], True)], wrong


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def multiset_equal(con, got_glob, sql):
    got = con.execute(f"SELECT * FROM read_parquet('{got_glob}')").arrow()
    cols = ", ".join(f'"{c}"' for c in sorted(got.column_names))
    con.register("got", got)
    diff = con.execute(f"""
        WITH o AS ({sql}),
             a AS (SELECT {cols}, count(*) AS __n FROM got GROUP BY ALL),
             b AS (SELECT {cols}, count(*) AS __n FROM o GROUP BY ALL)
        SELECT count(*) FROM ((FROM a EXCEPT FROM b) UNION ALL (FROM b EXCEPT FROM a))""").fetchone()[0]
    con.unregister("got")
    return diff == 0


def self_test():
    """The checks must count a wrong digest and a thrown exception."""
    con = connect()
    con.execute("CREATE TABLE S AS SELECT i AS s_id, i * 3 AS s_v, i * 3 + 5 AS s_e FROM range(50) t(i)")
    con.execute("CREATE TABLE T AS SELECT i AS t_id, i * 2 AS t_v, i * 2 + 9 AS t_e FROM range(70) t(i)")
    want = digest(con, theta_sql("bandJoin", 4))
    runs = [
        {"name": "bandJoin", "error": None, "result": dict(want)},
        {"name": "bandJoin", "error": None, "result": {"n": want["n"], "h": (want["h"] + 1) % MOD}},
        {"name": "bandJoin", "error": "java.lang.IllegalStateException: injected", "result": None},
    ]
    failed = theta(runs, {"bandJoin": want})
    assert [r is runs[1] or r is runs[2] for r in failed] == [True, True] and len(failed) == 2, failed
