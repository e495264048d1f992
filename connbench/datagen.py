"""Deterministic input tables, in the reduced TPC-H-shaped schema the
library's queries are written against (region, nation, customer, supplier,
part, orders, lineitem, plus the documents and embeddings tables of the
text and vector operators; see TESTDATA.md at the repository root).

Every value is a pure function of the row number and a column salt (DuckDB
`hash`), so the same scale factor always gives the same tables, in the same
row order. The
benchmark's --seed does not change the data; it picks the operations.

Each table is written twice: parquet (read by Spark and by the DuckDB
oracle) and CSV (loaded into PostgreSQL with psql's \\copy).
"""
import os

import duckdb

ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000,
               "documents": 50_000, "embeddings": 20_000}

PG_DDL = {
    "region": "r_regionkey integer, r_name text",
    "nation": "n_nationkey integer, n_name text, n_regionkey integer",
    "customer": "c_custkey bigint, c_name text, c_nationkey integer,"
                " c_acctbal double precision, c_mktsegment text",
    "supplier": "s_suppkey bigint, s_name text, s_nationkey integer,"
                " s_acctbal double precision",
    "part": "p_partkey bigint, p_name text, p_brand text, p_type text,"
            " p_size integer, p_retailprice double precision",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus text,"
              " o_totalprice double precision, o_orderdate timestamp,"
              " o_orderpriority text",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
                " l_linenumber integer, l_quantity double precision,"
                " l_extendedprice double precision, l_discount double precision,"
                " l_tax double precision, l_returnflag text, l_linestatus text,"
                " l_shipdate timestamp",
}

TABLES = list(PG_DDL)

# the word list of the repository's documents table (31 words incl. the
# near-duplicate marker 'dup')
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]


def _h(salt):
    return "hash(i, '%s')" % salt


def _pick(values, salt):
    lst = "[" + ", ".join("'%s'" % v for v in values) + "]"
    return "%s[1 + (%s %% %d)::INTEGER]" % (lst, _h(salt), len(values))


def table_sql(name, sf):
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    if name == "region":
        return ("SELECT i::INTEGER AS r_regionkey, ['AFRICA', 'AMERICA', 'ASIA', "
                "'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)")
    if name == "nation":
        return ("SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    if name == "customer":
        return ("SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,"
                " (%s %% 25)::INTEGER AS c_nationkey,"
                " ((%s %% 1099966)::BIGINT - 99985) / 100.0 AS c_acctbal,"
                " %s AS c_mktsegment FROM range(%d) t(i)"
                % (_h("cn"), _h("cb"), _pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                              "HOUSEHOLD", "MACHINERY"], "cm"),
                   n["customer"]))
    if name == "supplier":
        return ("SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,"
                " (%s %% 25)::INTEGER AS s_nationkey,"
                " ((%s %% 1099966)::BIGINT - 99985) / 100.0 AS s_acctbal FROM range(%d) t(i)"
                % (_h("sn"), _h("sb"), n["supplier"]))
    if name == "part":
        adj = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
        noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
        return ("SELECT i::BIGINT AS p_partkey, %s || ' ' || %s AS p_name,"
                " 'Brand#' || (1 + %s %% 25) AS p_brand, %s AS p_type,"
                " (1 + %s %% 50)::INTEGER AS p_size, 900 + (i %% 1000) / 10.0 AS p_retailprice"
                " FROM range(%d) t(i)"
                % (_pick(adj, "pa"), _pick(noun, "pn"), _h("pb"),
                   _pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], "pt"),
                   _h("ps"), n["part"]))
    if name == "orders":
        return ("SELECT i::BIGINT AS o_orderkey, (%s %% %d)::BIGINT AS o_custkey,"
                " %s AS o_orderstatus, (100191 + %s %% 49899128) / 100.0 AS o_totalprice,"
                " TIMESTAMP '1995-01-01' + to_days((%s %% 2404)::INTEGER) AS o_orderdate,"
                " %s AS o_orderpriority FROM range(%d) t(i)"
                % (_h("oc"), n["customer"], _pick(["O", "F", "P"], "os"), _h("ot"),
                   _h("od"), _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                    "5-LOW"], "op"), n["orders"]))
    if name == "lineitem":
        return ("SELECT (%s %% %d)::BIGINT AS l_orderkey, (%s %% %d)::BIGINT AS l_partkey,"
                " (%s %% %d)::BIGINT AS l_suppkey, (1 + %s %% 7)::INTEGER AS l_linenumber,"
                " (1 + %s %% 50)::DOUBLE AS l_quantity,"
                " (90068 + %s %% 10409924) / 100.0 AS l_extendedprice,"
                " (%s %% 11) / 100.0 AS l_discount, (%s %% 9) / 100.0 AS l_tax,"
                " %s AS l_returnflag, %s AS l_linestatus,"
                " TIMESTAMP '1995-01-02' + to_days((%s %% 2498)::INTEGER) AS l_shipdate"
                " FROM range(%d) t(i)"
                % (_h("lo"), n["orders"], _h("lp"), n["part"], _h("ls"), n["supplier"],
                   _h("ll"), _h("lq"), _h("le"), _h("ld"), _h("lt"),
                   _pick(["A", "N", "R"], "lr"), _pick(["F", "O"], "lf"), _h("lh"),
                   n["lineitem"]))
    if name == "documents":
        vocab = "[" + ", ".join("'%s'" % w for w in VOCAB) + "]"
        # every tenth document repeats an earlier one plus a marker word,
        # so the dedup operators have near-duplicates to find
        return ("SELECT *, length(text)::BIGINT AS n_chars FROM ("
                "WITH base AS (SELECT i, array_to_string(list_transform("
                "range((8 + hash(i, 'dl') %% 93)::BIGINT),"
                " j -> %s[1 + (hash(i, j, 'dw') %% %d)::INTEGER]), ' ') AS t"
                " FROM range(%d) r(i))"
                " SELECT b.i::BIGINT AS doc_id,"
                " CASE WHEN b.i %% 10 = 3 THEN d.t || ' dup' ELSE b.t END AS text,"
                " ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'][1 + (hash(b.i, 'lg') %% 7)::INTEGER] AS lang,"
                " 'src' || (b.i %% 20) AS source"
                " FROM base b JOIN base d ON d.i = hash(b.i, 'ds') %% greatest(b.i, 1)"
                ") ORDER BY doc_id"
                % (vocab, len(VOCAB), n["documents"]))
    if name == "embeddings":
        # ten clusters: a per-label centre plus noise, unit-normalised
        return ("WITH raw AS (SELECT i, (hash(i, 'el') %% 10)::INTEGER AS label,"
                " list_transform(range(64), d -> ((hash(hash(i, 'el') %% 10, d, 'ec') %% 2001)::DOUBLE - 1000)"
                " / 1000 + ((hash(i, d, 'en') %% 2001)::DOUBLE - 1000) / 3000) AS v"
                " FROM range(%d) r(i))"
                " SELECT i::BIGINT AS vec_id,"
                " list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y)))))::FLOAT[]"
                " AS embedding, label FROM raw" % n["embeddings"])
    raise KeyError(name)


def generate(out_dir, sf, tables=TABLES, csv=True):
    """Write <out_dir>/<table>.parquet (and .csv, for loading) for each
    table; return the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    counts = {}
    for t in tables:
        con.execute("CREATE OR REPLACE TABLE %s AS %s" % (t, table_sql(t, sf)))
        con.execute("COPY %s TO '%s' (FORMAT parquet)" % (t, os.path.join(out_dir, t + ".parquet")))
        if csv:
            con.execute("COPY %s TO '%s' (FORMAT csv, HEADER false)"
                        % (t, os.path.join(out_dir, t + ".csv")))
        counts[t] = con.execute("SELECT count(*) FROM %s" % t).fetchone()[0]
    con.close()
    return counts


def load(server, data_dir, tables=TABLES):
    """Create and fill the tables on the server, then VACUUM ANALYZE them."""
    for t in tables:
        server.psql("CREATE TABLE %s (%s)" % (t, PG_DDL[t]))
        server.copy_in(t, os.path.join(data_dir, t + ".csv"))
    server.psql("VACUUM ANALYZE")
