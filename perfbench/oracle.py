"""DuckDB check of every distinct operation a perfbench run performed.

Registry operations (`run_<q>` in app_session, every e-/w- query of the
other workloads) are checked against `SparkEntry.oracleSql`, which the
JVM side dumps beside its outputs. AppSession operations use the SQL
twins below, over a DuckDB twin of `Features.enrich` on the source that
was active (the project events or one uploaded CSV). Cells are rendered
and compared with tools/oracle_check.py's rules. DuckDB answers are
cached per seed beside the generated inputs.
"""
import glob
import hashlib
import json
import math
import os
import pickle
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from oracle_check import TABLES, cells  # noqa: E402

# Twin of Features.enrich for the columns the session's operations read.
ENRICH = """
WITH b0 AS (SELECT *, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM {src}),
b1 AS (SELECT *, value AS fare_amount,
         CASE WHEN k % 5 = 0 THEN 0.0 ELSE floor(value * 15.0) / 100.0 END AS tip_amount,
         CAST(hour(ts) AS INTEGER) AS pickup_hour,
         CAST(dayofweek(ts) + 1 AS INTEGER) AS pickup_dow FROM b0)
SELECT *, fare_amount + tip_amount AS total_amount,
  CASE WHEN pickup_dow IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
  CASE WHEN pickup_hour >= 22 OR pickup_hour <= 5 THEN 1 ELSE 0 END AS night_flag,
  CASE WHEN fare_amount > 0 THEN tip_amount / fare_amount ELSE 0.0 END AS tip_rate
FROM b1"""


def cents(e):
    return f"CAST(floor(({e}) * 100 + 0.5) AS BIGINT)"


def avg_money(e):
    return f"CAST(floor(SUM({cents(e)}) / COUNT(*) + 0.5) AS DOUBLE) / 100.0"


def round4(e):
    return f"floor(({e}) * 10000 + 0.5) / 10000.0"


# Twins of AppSession.summary and the three KPI tables.
SESSION_SQL = {
    "summary": f"""SELECT COUNT(*) AS rows, {avg_money('fare_amount')} AS avg_fare,
        {avg_money('total_amount')} AS avg_total, {round4('AVG(tip_rate)')} AS avg_tip_rate
        FROM taxi""",
    "kpi_payment": f"""SELECT event_type AS payment_type, COUNT(*) AS trips,
        {avg_money('fare_amount')} AS avg_fare, {avg_money('total_amount')} AS avg_total,
        {round4('AVG(tip_rate)')} AS avg_tip_rate
        FROM taxi GROUP BY event_type ORDER BY trips DESC, payment_type""",
    "kpi_hour": f"""SELECT pickup_hour, COUNT(*) AS trips, {avg_money('fare_amount')} AS avg_fare
        FROM taxi GROUP BY pickup_hour ORDER BY pickup_hour""",
    "kpi_heatmap": f"""SELECT pickup_dow, pickup_hour, COUNT(*) AS trips,
        {avg_money('total_amount')} AS avg_total
        FROM taxi GROUP BY pickup_dow, pickup_hour ORDER BY pickup_dow, pickup_hour""",
}

SESSION_OPS = ("preview", "summary", "sql", "kpi", "upload", "score")
UPLOAD_COLUMNS = ("{'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', "
                  "'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}")


class Oracle:
    def __init__(self, data_dir):
        self.cache = os.path.join(data_dir, "oracle_cache")
        os.makedirs(self.cache, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads=4")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
        self.con.execute("CREATE VIEW src_project AS SELECT * FROM events")
        for f in sorted(glob.glob(f"{data_dir}/uploads/upload_*.csv")):
            i = os.path.basename(f)[len("upload_"):-len(".csv")]
            self.con.execute(
                f"CREATE VIEW src_upload{i} AS SELECT * FROM read_csv('{f}', header=true, "
                f"quote='\"', escape='\\', columns={UPLOAD_COLUMNS})")

    def answer(self, sql, source=None):
        """DuckDB result of `sql`, with `taxi` bound to `source`; cached."""
        key = hashlib.sha1(f"{source}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        if source is not None:
            self.con.execute(f"CREATE OR REPLACE VIEW taxi AS {ENRICH.format(src='src_' + source)}")
        df = self.con.execute(sql).fetchdf()
        with open(path + ".tmp", "wb") as f:
            pickle.dump(df, f)
        os.replace(path + ".tmp", path)
        return df

    def spark_output(self, out_dir, key):
        parts = sorted(glob.glob(f"{out_dir}/outputs/{key}/*.parquet"))
        if not parts:
            return None
        return self.con.execute(f"SELECT * FROM read_parquet({parts!r})").fetchdf()


def exact(spark, oracle):
    """tools/oracle_check.py's gate: same columns, rows and rendered cells."""
    if sorted(spark.columns) != sorted(oracle.columns):
        return f"schema {sorted(spark.columns)} != {sorted(oracle.columns)}"
    if len(spark) != len(oracle):
        return f"rows {len(spark)} != {len(oracle)}"
    s, _ = cells(spark, sort_rows=False)
    o, _ = cells(oracle, sort_rows=False)
    if s != o:
        i = next(i for i, (a, b) in enumerate(zip(s, o)) if a != b)
        return f"row {i}: spark={s[i]} duck={o[i]}"
    return None


def close(a, b):
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return str(a) == str(b)


def check_session_key(o, out_dir, key, df):
    """AppSession operations: key = <op>_<params>_<source>."""
    src = key.rsplit("_", 1)[1]
    op = key.split("_", 1)[0]
    if op in ("summary", "kpi"):
        name = "summary" if op == "summary" else "kpi_" + key.split("_")[1]
        return exact(df, o.answer(SESSION_SQL[name], src))
    if op == "sql":
        sql = json.load(open(os.path.join(out_dir, "session_sql.json")))[key.split("_")[1]]
        return exact(df, o.answer(sql, src))
    if op == "upload":
        return exact(df, o.answer("SELECT COUNT(*) AS count FROM taxi", src))
    known = o.answer("SELECT event_id, fare_amount FROM taxi", src)
    pairs = set(zip(known["event_id"].astype("int64"), known["fare_amount"]))
    if op == "preview":
        n = int(key.split("_")[1][1:])
        if len(df) != min(n, len(known)):
            return f"preview rows {len(df)} != {min(n, len(known))}"
        bad = [r for r in zip(df["event_id"].astype("int64"), df["fare_amount"]) if r not in pairs]
        return f"preview row not in source: {bad[0]}" if bad else None
    if op == "score":
        t = float(key.split("_")[1][1:])
        ids = {p[0] for p in pairs}
        if len(df) != min(500, len(known)):
            return f"score rows {len(df)} != {min(500, len(known))}"
        for e, p, d in zip(df["event_id"], df["proba1"], df["prediction_at_threshold"]):
            if int(e) not in ids or not 0.0 <= p <= 1.0 or int(d) != int(p >= t):
                return f"score row ({e}, {p}, {d}) violates threshold {t}"
        return None
    return f"unknown session operation {key}"


def check_reports(o, out_dir, tree, oracle_sql):
    """Report CSVs against the registry oracles of the report tree."""
    import pandas as pd
    bad = []
    for name, q in tree.items():
        parts = glob.glob(f"{out_dir}/reports/{name}.csv/*.csv")
        if not parts:
            bad.append((f"report:{name}", "missing"))
            continue
        spark = pd.read_csv(parts[0])
        duck = o.answer(oracle_sql[q])
        msg = None
        if sorted(spark.columns) != sorted(duck.columns) or len(spark) != len(duck):
            msg = f"shape {spark.shape} != {duck.shape}"
        else:
            for c in duck.columns:
                for i, (a, b) in enumerate(zip(spark[c], duck[c])):
                    if not close(a, b) and str(a) != str(b):
                        msg = f"{c} row {i}: csv={a} duck={b}"
                        break
                if msg:
                    break
        bad += [(f"report:{name}", msg)] if msg else []
    return len(tree), bad


def check(data_dir, out_dir):
    """Return (checked, [(key, reason)]) for one run's outputs."""
    o = Oracle(data_dir)
    keys = json.load(open(os.path.join(out_dir, "outputs.json")))
    oracle_sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    tree = json.load(open(os.path.join(out_dir, "report_tree.json")))
    bad = []
    for key in keys:
        df = o.spark_output(out_dir, key)
        if df is None:
            bad.append((key, "no output"))
            continue
        q = key.split("_", 1)[1] if key.startswith(("run_", "drain_")) else key
        if q in oracle_sql:
            msg = exact(df, o.answer(oracle_sql[q]))
        elif key.split("_", 1)[0] in SESSION_OPS:
            msg = check_session_key(o, out_dir, key, df)
        else:
            # no SQL twin exists (approximate sketches): rows-only, as the
            # repository's own oracle gate does
            msg = None if len(df) > 0 else "empty output"
        if msg:
            bad.append((key, msg))
    checked = len(keys)
    if tree:
        n, b = check_reports(o, out_dir, tree, oracle_sql)
        checked += n
        bad += b
    return checked, bad


if __name__ == "__main__":
    n, bad = check(sys.argv[1], sys.argv[2])
    for k, m in bad:
        print(f"FAIL {k}: {m}")
    print(f"checked {n}, failed {len(bad)}")
    sys.exit(1 if bad else 0)
