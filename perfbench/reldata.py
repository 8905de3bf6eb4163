"""Relational inputs and their DuckDB oracle.

The `relational` workload runs rows of graft.spark.Queries.all over the
synthetic TPC-H-shaped tables those rows expect (the schema of graft's
sfX test directories). The tables are made here with DuckDB from a fixed
data seed, written once per checkout with one thread and a total order, so
their bytes repeat; the bench seed only orders the passes. Each query's
result from the JVM is compared with its oracle SQL (also from
Queries.all) replayed in DuckDB, with threads capped at the CPU count.
"""
import hashlib
import json
import math
import os
import shutil

DATA_SEED = 42
SCALE = 0.02       # lineitem ~ 6M * SCALE rows
TOY_SCALE = 0.002
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _sql(scale):
    n_c, n_s, n_p = int(150000 * scale), max(10, int(10000 * scale)), int(200000 * scale)
    n_o, n_e, n_u = int(1500000 * scale), int(1000000 * scale), max(10, int(15000 * scale))
    s = DATA_SEED

    def u(expr, k):  # uniform in [0, 1) from a hash of (expr, k)
        return f"((hash({expr}, {s * 100 + k}) % 1000003) / 1000003.0)"
    q = f"(1.0 + floor({u('o.o_orderkey * 8 + n', 20)} * 50))"
    return {
        "region": "SELECT r AS r_regionkey, ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1] AS r_name "
                  "FROM range(5) t(r)",
        "nation": "SELECT CAST(n AS INTEGER) AS n_nationkey, 'NATION_' || n AS n_name, "
                  "CAST(n % 5 AS INTEGER) AS n_regionkey FROM range(25) t(n)",
        "customer": f"SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name, "
                    f"CAST(floor({u('i', 1)} * 25) AS INTEGER) AS c_nationkey, "
                    f"round({u('i', 2)} * 10000 - 1000, 2) AS c_acctbal, "
                    f"['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
                    f"[CAST(floor({u('i', 3)} * 5) AS INTEGER) + 1] AS c_mktsegment FROM range({n_c}) t(i)",
        "supplier": f"SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name, "
                    f"CAST(floor({u('i', 4)} * 25) AS INTEGER) AS s_nationkey, "
                    f"round({u('i', 5)} * 10000 - 1000, 2) AS s_acctbal FROM range({n_s}) t(i)",
        "part": f"SELECT i AS p_partkey, ['red','blue','hot','large','small'][i % 5 + 1] || ' ' || "
                f"['ring','bolt','nut','gear'][i % 4 + 1] AS p_name, 'Brand#' || (i % 25 + 1) AS p_brand, "
                f"['SMALL','LARGE','ECONOMY','PROMO'][i % 4 + 1] AS p_type, "
                f"CAST(1 + floor({u('i', 6)} * 50) AS INTEGER) AS p_size, "
                f"round(900 + (i % 1000) / 10.0, 2) AS p_retailprice FROM range({n_p}) t(i)",
        "orders": f"SELECT i AS o_orderkey, CAST(floor({u('i', 7)} * {n_c}) AS BIGINT) AS o_custkey, "
                  f"['F','O','P'][CAST(floor({u('i', 8)} * 3) AS INTEGER) + 1] AS o_orderstatus, "
                  f"round(1000 + {u('i', 9)} * 499000, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + to_days(CAST(floor({u('i', 10)} * 2404) AS INTEGER)) AS o_orderdate, "
                  f"['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
                  f"[CAST(floor({u('i', 11)} * 5) AS INTEGER) + 1] AS o_orderpriority FROM range({n_o}) t(i)",
        "lineitem": f"SELECT o.o_orderkey AS l_orderkey, "
                    f"CAST(floor({u('o.o_orderkey * 8 + n', 12)} * {n_p}) AS BIGINT) AS l_partkey, "
                    f"CAST(floor({u('o.o_orderkey * 8 + n', 13)} * {n_s}) AS BIGINT) AS l_suppkey, "
                    f"CAST(n AS INTEGER) AS l_linenumber, {q} AS l_quantity, "
                    f"round({q} * (900 + {u('o.o_orderkey * 8 + n', 14)} * 1200), 2) AS l_extendedprice, "
                    f"floor({u('o.o_orderkey * 8 + n', 15)} * 11) / 100.0 AS l_discount, "
                    f"floor({u('o.o_orderkey * 8 + n', 16)} * 9) / 100.0 AS l_tax, "
                    f"['A','N','R'][CAST(floor({u('o.o_orderkey * 8 + n', 17)} * 3) AS INTEGER) + 1] AS l_returnflag, "
                    f"['F','O'][CAST(floor({u('o.o_orderkey * 8 + n', 18)} * 2) AS INTEGER) + 1] AS l_linestatus, "
                    f"o.o_orderdate + to_days(CAST(1 + floor({u('o.o_orderkey * 8 + n', 19)} * 121) AS INTEGER)) AS l_shipdate "
                    f"FROM orders o, range(1, 8) t(n) "
                    f"WHERE n <= 1 + floor({u('o.o_orderkey', 21)} * 7)",
        "events": f"SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds("
                  f"CAST((i + {u('i', 22)}) * {30 * 86400 * 1000000 // n_e} AS BIGINT)) AS ts, "
                  f"CAST(floor({u('i', 23)} * {n_u}) AS BIGINT) AS user_id, "
                  f"['view','click','purchase','signup','error'][CAST(floor({u('i', 24)} * 5) AS INTEGER) + 1] AS event_type, "
                  f"round({u('i', 25)} * 500, 2) AS value, "
                  f"'{{\"k\": ' || CAST(floor({u('i', 26)} * 100) AS INTEGER) || '}}' AS props FROM range({n_e}) t(i)",
        "documents": "SELECT i AS doc_id, 'doc ' || i || ' spark table scan' AS text, 'en' AS lang, "
                     "'src' || (i % 3) AS source, CAST(length('doc ' || i || ' spark table scan') AS BIGINT) AS n_chars "
                     "FROM range(50) t(i)",
        "embeddings": "SELECT i AS vec_id, list_transform(range(8), k -> CAST(((i * 31 + k * 7) % 17) / 17.0 AS FLOAT)) "
                      "AS embedding, CAST(i % 2 AS INTEGER) AS label FROM range(50) t(i)",
    }


def ensure(data_root, toy=False, threads=1):
    """Writes the tables once; returns {"dir", "digest"}."""
    import duckdb
    scale = TOY_SCALE if toy else SCALE
    d = os.path.join(data_root, f"relational-sf{scale}-d{DATA_SEED}")
    marker = os.path.join(d, "_counts.json")
    if not os.path.exists(marker):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        con.execute("SET preserve_insertion_order = true")
        counts = {}
        for t, sql in _sql(scale).items():
            con.execute(f"CREATE TABLE {t} AS {sql}")
            key = con.execute(f"SELECT * FROM {t} LIMIT 0").description[0][0]
            con.execute(f"COPY (SELECT * FROM {t} ORDER BY {key}{', l_linenumber' if t == 'lineitem' else ''}) "
                        f"TO '{tmp}/{t}.parquet' (FORMAT PARQUET)")
            counts[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        con.close()
        with open(os.path.join(tmp, "_counts.json"), "w") as fh:
            json.dump(counts, fh, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return {"dir": d, "digest": h.hexdigest()}


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return str(v)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _canon(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), x if x is not None else 0) for x in r))
    return [cols[i] for i in idx], out


def oracle_check(res, data_dir, threads):
    """Replays each query's oracle SQL in DuckDB and compares it with the
    JVM's rows; a mismatch fails every timed rep of that query (they all
    matched the checked execution's fingerprint)."""
    import duckdb
    with open(res["relational_results"]) as fh:
        spark_rows = json.load(fh)
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name, sql in sorted(res["oracle_sql"].items()):
        q = res["queries"][name]
        if q["reps"] == 0:  # a once-per-traced-run row in an untraced run
            continue
        why = None
        try:
            cur = con.execute(sql)
            ocols = [x[0] for x in cur.description]
            ocols, orows = _canon(ocols, cur.fetchall())
            got = spark_rows.get(name)
            if got is None:
                why = "no rows from the JVM"
            else:
                scols, srows = _canon(got["columns"], got["rows"])
                if scols != ocols:
                    why = f"columns {scols} != oracle {ocols}"
                elif len(srows) != len(orows):
                    why = f"{len(srows)} rows != oracle {len(orows)}"
                else:
                    bad = next((i for i, (x, y) in enumerate(zip(srows, orows))
                                if not all(_same(p, r) for p, r in zip(x, y))), None)
                    if bad is not None:
                        why = f"row {bad}: {srows[bad]} != oracle {orows[bad]}"
        except Exception as e:  # an oracle error is a failed check, not a crash
            why = f"oracle error: {e}"
        if why:
            newly = q["reps"] - q["failed"]
            q["failed"] = q["reps"]
            res["failed"] += newly
            res["failures"].append(f"{name}: DuckDB oracle mismatch: {why}")
    con.close()
