"""Result checks and server-side counters for the benchmark.

Every check runs after the timed window:
  - queries: the canonical rows the JVM captured are compared, ignoring
    row order, with DuckDB running the same SQL over the same parquet;
  - scans: row count and per-column integer sums, recomputed in DuckDB;
  - writes: a count and checksums read from the server with psql after
    every operation, compared with a DuckDB model that applies the same
    operations to the same rows.
"""
import collections
import datetime
import decimal
import hashlib
import os
import pickle

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)

STATE_SQL = {
    "lineitem": "SELECT count(*), coalesce(sum(l_orderkey), 0), coalesce(sum(l_linenumber), 0),"
                " coalesce(sum(round(l_tax * 100)::BIGINT), 0),"
                " coalesce(sum(round(l_extendedprice * 100)::BIGINT), 0) FROM w_lineitem",
    "orders": "SELECT count(*), coalesce(sum(o_orderkey), 0),"
              " coalesce(sum(round(o_totalprice * 100)::BIGINT), 0) FROM w_orders",
}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (f[:-len(".parquet")], os.path.join(data_dir, f)))
    return con


# ------------------------------------------------------- canonical rows --

def canon(v):
    """Cross-engine canonical value (the rules of tools/check.py)."""
    if isinstance(v, dict):
        if "dec" in v:
            return ("dec", str(decimal.Decimal(v["dec"]).normalize()))
        if "ts" in v:
            return ("ts", (EPOCH + datetime.timedelta(microseconds=v["ts"])).isoformat())
        if "date" in v:
            d = EPOCH + datetime.timedelta(days=v["date"])
            return ("ts", d.isoformat())
        if "float" in v:
            return ("f", repr(float(v["float"])))
        if "bin" in v:
            return ("bin", v["bin"])
        if "map" in v:
            return ("map", tuple(sorted((canon(k), canon(x)) for k, x in v["map"])))
        # a DuckDB struct
        return tuple(canon(x) for x in v.values())
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, bytes):
        return ("bin", v.hex())
    return v


def canonical_table(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    names = [cols[i].lower() for i in order]
    multiset = collections.Counter(tuple(canon(r[i]) for i in order) for r in rows)
    return names, multiset


def compare_rows(got, expected):
    gn, gm = canonical_table(got["cols"], got["rows"])
    en, em = expected
    if gn != en:
        return "columns differ: got %s, expected %s" % (gn, en)
    if gm != em:
        extra = gm - em
        missing = em - gm
        return "%d rows differ (got %d rows, expected %d); e.g. got %s expected %s" % (
            sum(extra.values()) + sum(missing.values()), sum(gm.values()), sum(em.values()),
            next(iter(extra), None), next(iter(missing), None))
    return None


# --------------------------------------------------------------- verify --

def scan_expectation(con, op):
    cols = op.get("cols") or [c[0] for c in con.execute("DESCRIBE lineitem").fetchall()]
    where = " WHERE " + op["filter"] if op.get("filter") else ""
    if op.get("count"):
        return list(con.execute("SELECT count(*) FROM lineitem" + where).fetchone())
    types = dict(con.execute("SELECT column_name, column_type FROM (DESCRIBE lineitem)").fetchall())
    parts = ["count(*)"]
    for c in cols:
        t = types[c]
        if t == "DOUBLE":
            parts.append("sum(round(%s * 100)::BIGINT)" % c)
        elif t.startswith("TIMESTAMP"):
            parts.append("sum(epoch(%s)::BIGINT)" % c)
        elif t == "VARCHAR":
            parts.append("sum(strlen(%s))" % c)
        else:
            parts.append("sum(%s)" % c)
    return [int(x) for x in con.execute("SELECT %s FROM lineitem%s" % (", ".join(parts), where)).fetchone()]


def data_signature(data_dir):
    h = hashlib.sha256()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(data_dir, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def oracle_rows(con, sql, cache_dir, signature):
    """DuckDB's canonical result for `sql`, cached on disk per (sql, data):
    the inputs are deterministic, so a later run reuses the answer."""
    path = os.path.join(cache_dir, hashlib.sha256((signature + sql).encode()).hexdigest())
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    cur = con.execute(sql)
    table = canonical_table([d[0] for d in cur.description], cur.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(table, f)
    os.replace(path + ".tmp", path)
    return table


def verify(workload, data_dir, before, timed, result, checks, cache_dir):
    """Per timed operation: ok?, rows it delivered/committed, and why not.
    `before` are the operations that ran, unchecked, ahead of them."""
    con = connect(data_dir)
    signature = data_signature(data_dir)
    spec = {op["id"]: op for op in timed}
    ok, rows, why = [], [], {}
    if workload == "write_dml":
        model = WriteModel(con)
        for op in before:
            model.apply(op)
    expected_cache = {}
    for o in result["ops"]:
        op = spec[o["id"]]
        good, n = "error" not in o, o.get("rows", 0)
        if workload == "write_dml":
            n = model.apply(op) if good else 0
            state = checks.get(o["id"])
            if state is None or state != model.state():
                good = False
                why[o["id"]] = "server state %s, expected %s" % (state, model.state())
        elif good and workload == "bulk_scan":
            key = repr(sorted((k, v) for k, v in op.items() if k != "id"))
            exp = expected_cache.get(key) or scan_expectation(con, op)
            expected_cache[key] = exp
            if o["result"] != exp:
                good = False
                why[o["id"]] = "got %s, expected %s" % (o["result"], exp)
        elif good:
            name = op["name"]
            if name not in expected_cache:
                expected_cache[name] = oracle_rows(con, result["oracle_sql"][name],
                                                   cache_dir, signature)
            msg = compare_rows(o["result"], expected_cache[name])
            if msg:
                good = False
                why[o["id"]] = msg
        ok.append(good)
        rows.append(n)
    con.close()
    return {"ok": ok, "rows": rows, "why": why}


class WriteModel:
    """The write_dml operations applied in DuckDB to the same source rows."""

    KEY = {"lineitem": "l_orderkey", "orders": "o_orderkey"}

    def __init__(self, con):
        self.con = con
        for t in self.KEY:
            con.execute("CREATE TABLE w_%s AS SELECT * FROM %s LIMIT 0" % (t, t))

    def apply(self, op):
        c = self.con
        table = op.get("table", "lineitem")
        key = self.KEY[table]
        w = "w_" + table
        sl = "(SELECT * FROM %s WHERE %s %% %d = %d)" % (table, key, op.get("mod", 1), op.get("rem", 0))
        kind = op["kind"]
        if kind == "write":
            if op["mode"] == "overwrite":
                c.execute("DELETE FROM " + w)
            return c.execute("INSERT INTO %s SELECT * FROM %s" % (w, sl)).fetchone()[0]
        if kind == "update":
            return c.execute("UPDATE %s SET l_tax = l_tax + 0.01 WHERE %s %% %d = %d"
                             % (w, key, op["mod"], op["rem"])).fetchone()[0]
        if kind == "delete":
            return c.execute("DELETE FROM %s WHERE %s %% %d = %d"
                             % (w, key, op["mod"], op["rem"])).fetchone()[0]
        if kind == "pushed_delete":
            return c.execute("DELETE FROM %s WHERE %s >= %d AND %s < %d" % (
                w, key, op["from"], key, op["from"] + op["width"])).fetchone()[0]
        if kind == "merge":
            # matched target rows are updated, unmatched source rows inserted
            updated = c.execute("UPDATE %s t SET o_totalprice = s.o_totalprice + 1.0 FROM %s s"
                                " WHERE t.o_orderkey = s.o_orderkey" % (w, sl)).fetchone()[0]
            inserted = c.execute("INSERT INTO %s SELECT * FROM %s s WHERE s.o_orderkey NOT IN"
                                 " (SELECT o_orderkey FROM %s)" % (w, sl, w)).fetchone()[0]
            return updated + inserted
        raise ValueError(kind)

    def state(self):
        return {t: [int(x) for x in self.con.execute(STATE_SQL[t]).fetchone()] for t in self.KEY}


# ---------------------------------------------------- server-side reads --

def server_state(server):
    return {t: [int(x) for x in server.psql(sql)[0]] for t, sql in STATE_SQL.items()}


def server_counters(server):
    db = server.stat_snapshot()
    stmts = {}
    for qid, calls, ms, query in server.psql(
            "SELECT queryid, calls, total_exec_time, regexp_replace(query, '\\s+', ' ', 'g')"
            " FROM pg_stat_statements"):
        stmts[qid] = (float(calls), float(ms), query)
    return {"db": db, "stmts": stmts}


METADATA_MARKERS = ("pg_catalog", "pg_class", "pg_attribute", "pg_namespace", "pg_type",
                    "information_schema", "pg_is_in_recovery", "version()", "current_setting")


def server_layer_metrics(marks, n_ops, user_rows, bytes_per_row):
    """Per-operation deltas of the server's own counters over the traced
    timed phase."""
    if "timed_start" not in marks or "timed_end" not in marks:
        return {}
    a, b = marks["timed_start"], marks["timed_end"]
    d = {k: b["db"][k] - a["db"][k] for k in b["db"]}

    def calls_where(pred):
        total_calls = total_ms = 0.0
        for qid, (calls, ms, query) in b["stmts"].items():
            if pred(query.lower()):
                c0, m0, _ = a["stmts"].get(qid, (0.0, 0.0, ""))
                total_calls += calls - c0
                total_ms += ms - m0
        return total_calls, total_ms

    exports, _ = calls_where(lambda q: "pg_export_snapshot" in q)
    meta_q, _ = calls_where(lambda q: any(m in q for m in METADATA_MARKERS))
    staging, _ = calls_where(lambda q: q.startswith("create table") and "_stg_" in q)
    _, copy_ms = calls_where(lambda q: q.startswith("copy"))
    hits, reads = d["blks_hit"], d["blks_read"]
    client_sessions = d["sessions"] - d["own_sessions"]
    user_bytes = user_rows * bytes_per_row
    return {
        "pg.blks_hit_ratio": hits / max(hits + reads, 1.0),
        "pg.blks_read": reads / n_ops,
        "pg.copy_exec_s": copy_ms / 1000.0 / n_ops,
        "pg.wal_mb": d["wal_bytes"] / 1e6 / n_ops,
        "pg.wal_bytes_per_user_byte": d["wal_bytes"] / user_bytes if user_bytes else 0.0,
        "meta.snapshot_exports": exports / n_ops,
        "meta.connections_opened": client_sessions / n_ops,
        "catalog.metadata_queries": meta_q / n_ops,
        "sources.staging_tables": staging / n_ops,
    }
