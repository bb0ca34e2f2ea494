"""Output check against DuckDB.

`reports` and `curation`: each key's warm-up output (parquet written by
the harness) must equal its oracle SQL (`SparkEntry.oracleSql`) run by
DuckDB on the same tables: same columns, same row count, same rows after
normalising, floats compared at 6 decimals. Oracle answers depend only on the
SQL text and the input tables, so they are cached in the build directory.

`lakehouse`: DuckDB replays every round's statements (MERGE expressed as
UPDATE … FROM plus INSERT of the unmatched rows) and compares each
round's read aggregate, time-travel count and change-feed counts, and the
final table's row count and order-insensitive hash.

Each function returns the set of failed operations, as (round or None,
operation name) pairs, and a list of messages.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _norm(col, typ):
    """SQL normalising one value: floats and decimals at 6 decimals, NaN
    as a word, dates as timestamps, lists element-wise."""
    c = f'"{col}"'
    if typ.endswith("[]"):
        inner = _norm("x", typ[:-2]).replace('"x"', "x")
        return f"CAST(list_transform({c}, x -> {inner}) AS VARCHAR)"
    if typ in ("DOUBLE", "FLOAT", "REAL") or typ.startswith("DECIMAL"):
        d = f"CAST({c} AS DOUBLE)"
        return f"CASE WHEN isnan({d}) THEN 'NaN' ELSE printf('%.6f', round({d}, 6)) END"
    if typ == "DATE" or typ.startswith("TIMESTAMP"):
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def _digest(con, relation):
    """Column names, row count and an order-insensitive hash of the
    normalised rows of a relation (a view or a parquet glob)."""
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    row = ", ".join(_norm(c, t) for c, t in cols)
    n, h = con.execute(f"SELECT count(*), sum(hash({row})::HUGEINT) FROM {relation}").fetchone()
    return {"cols": [c for c, _ in cols], "rows": n, "hash": str(h)}


def check_keys(warm, data_dir, out_dir, cache_dir):
    """warm: harness 'warm' records (name, ok, sql)."""
    os.makedirs(cache_dir, exist_ok=True)
    con = _connect(data_dir)
    failed, msgs = set(), []
    for w in warm:
        name, sql = w["name"], w["sql"]
        if not w["ok"]:
            failed.add((None, name))
            msgs.append(f"{name}: failed in warm-up")
            continue
        if not sql:
            failed.add((None, name))
            msgs.append(f"{name}: no oracle SQL")
            continue
        key = hashlib.sha256((data_dir.rsplit("/", 1)[-1] + "\x00" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key[:24] + ".json")
        if os.path.isfile(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            con.execute(f"CREATE OR REPLACE TEMP VIEW oracle AS {sql.strip().rstrip(';')}")
            want = _digest(con, "oracle")
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        got = _digest(con, f"'{out_dir}/{name}/*.parquet'")
        if got != want:
            failed.add((None, name))
            msgs.append(f"{name}: output differs from its oracle: oracle {want}, spark {got}")
    return failed, msgs


_HASH = ("count(*), sum(hash(o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
         "o_orderdate, o_orderpriority)::HUGEINT)")


def check_lake(rounds, ends, data_dir, final_dir):
    """rounds / ends: harness 'round' / 'round_end' records by round."""
    con = _connect(data_dir)
    q = lambda sql: con.execute(sql).fetchall()
    first = rounds[min(rounds)]
    con.execute("CREATE TABLE t AS SELECT * FROM orders "
                f"WHERE o_orderdate < TIMESTAMP '{first['month_from']}'")
    failed, msgs = set(), []

    def expect(r, op, what, want, got):
        if str(want) != str(got):
            failed.add((r, op))
            msgs.append(f"round {r} {op}: {what} expected {want}, got {got}")

    for r in sorted(rounds):
        rd, end = rounds[r], ends.get(r)
        if end is None:
            failed.add((r, "append"))
            msgs.append(f"round {r}: no results recorded")
            break
        month = (f"o_orderdate >= TIMESTAMP '{rd['month_from']}' AND "
                 f"o_orderdate < TIMESTAMP '{rd['month_until']}'")
        recent = f"o_orderdate >= TIMESTAMP '{rd['recent_from']}'"
        con.execute(f"INSERT INTO t SELECT * FROM orders WHERE {month}")
        expect(r, "read_asof", "rows", q("SELECT count(*) FROM t")[0][0], end["asof_n"])
        upd = f"{recent} AND o_orderkey % 7 = {rd['upd_res']}"
        n_upd = q(f"SELECT count(*) FROM t WHERE {upd}")[0][0]
        con.execute(f"UPDATE t SET o_orderpriority = 'U{r}', "
                    f"o_totalprice = o_totalprice + 1 WHERE {upd}")
        dele = f"{recent} AND o_orderkey % 11 = {rd['del_res']}"
        n_del = q(f"SELECT count(*) FROM t WHERE {dele}")[0][0]
        con.execute(f"DELETE FROM t WHERE {dele}")
        cdf = {"update_preimage": n_upd, "update_postimage": n_upd, "delete": n_del}
        expect(r, "read_cdf", "changes",
               ";".join(f"{k}={v}" for k, v in sorted(cdf.items()) if v), end["cdf"])
        c = rd["mrg_res"]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE src AS "
            f"SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{rd['merge_from']}' "
            f"AND o_orderdate < TIMESTAMP '{rd['month_from']}' AND o_orderkey % 13 = {c} "
            "UNION ALL SELECT * REPLACE (o_orderkey + 100000000 AS o_orderkey) "
            f"FROM orders WHERE {month} AND o_orderkey % 13 = {c}")
        con.execute("CREATE OR REPLACE TEMP TABLE unmatched AS SELECT * FROM src "
                    "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
        con.execute("UPDATE t SET o_orderstatus = 'M', o_totalprice = s.o_totalprice + 2 "
                    "FROM src s WHERE t.o_orderkey = s.o_orderkey")
        con.execute("INSERT INTO t SELECT * FROM unmatched")
        n, s = q("SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM t "
                 f"WHERE o_orderdate >= TIMESTAMP '{rd['read_from']}' "
                 f"AND o_orderdate < TIMESTAMP '{rd['month_until']}'")[0]
        expect(r, "read", "rows", n, end["read_n"])
        expect(r, "read", "sum", s, end["read_sum"])
    want = q(f"SELECT {_HASH} FROM t")[0]
    got = q(f"SELECT {_HASH} FROM '{final_dir}/*.parquet'")[0]
    if want != got:
        failed.add((None, "final"))
        msgs.append(f"final table: expected (rows, hash) {want}, got {got}")
    return failed, msgs
