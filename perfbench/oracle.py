"""Correctness gate: engine outputs against DuckDB oracles over the
generated tables. The compare is `tools/check_oracle.py`'s: column names,
row count, exact values after sorting, plus the pandas representation
audit. Every mismatch or throw is counted as a failed operation.
"""
import decimal
import json
import math
import os

import duckdb
import pandas as pd

INTS = ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64")


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "tolist"):
        return tuple(norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    return con


def compare(con, out_dir, sql):
    """None when the parquet output under `out_dir` equals the oracle's
    answer, else a one-line reason."""
    try:
        got = con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").fetchdf()
        want = con.sql(sql).fetchdf()
        raw = pd.read_parquet(out_dir)
    except Exception as e:  # noqa: BLE001 - any failure is a mismatch
        return f"exec error: {str(e).splitlines()[0][:200]}"
    for c in set(raw.columns) & set(want.columns):
        a, b = str(raw[c].dtype), str(want[c].dtype)
        if (a in INTS) != (b in INTS) and "float" in a + b:
            return f"representation {c}: spark={a} oracle={b}"
        if a == "object" and b != "object" and any(
                isinstance(v, decimal.Decimal) for v in raw[c].dropna().head(5)):
            return f"representation {c}: spark=decimal oracle={b}"
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g = sorted((tuple(norm(v) for v in r) for r in got[gcols].itertuples(index=False, name=None)), key=repr)
    w = sorted((tuple(norm(v) for v in r) for r in want[wcols].itertuples(index=False, name=None)), key=repr)
    if g != w:
        i, a, b = next((i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return f"first diff at sorted row {i}: got {a} want {b}"
    return None


def check_batch(work, res):
    """Warm-up (gate) outputs against oracles; throws in any pass count."""
    con = connect(os.path.join(work, "data"))
    attempted = failed = 0
    msgs = []
    for g in res["gate"]:
        attempted += 1
        name = g["name"]
        reason = g["error"]
        if reason is None:
            sql = res["oracles"].get(name)
            reason = "no oracle" if sql is None else compare(con, os.path.join(work, "out", name), sql)
        if reason is not None:
            failed += 1
            msgs.append(f"FAIL {name}: {reason}")
    for p in res["passes"]:
        for e in p["entries"]:
            attempted += 1
            if e["error"] is not None:
                failed += 1
                msgs.append(f"FAIL {e['name']} (timed pass): {e['error']}")
    return {"attempted": attempted, "failed": failed, "messages": msgs}


def runner_oracles(work, res):
    """Expected job outputs: registry oracles for the connector entries, and
    the SQL/hot scripts' own queries restated for DuckDB."""
    with open(os.path.join(work, "runner.json")) as f:
        sub = json.load(f)
    mod = int(sub["__MOD__"])
    k = res["final_hot_version"] % mod
    out = dict(res["oracles"])
    out["sql_report"] = ("SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n, "
                         "CAST(sum(l_quantity) AS DOUBLE) AS qty FROM lineitem GROUP BY ALL")
    out["hot"] = (f"SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
                  f"CAST(sum(l_quantity) AS DOUBLE) AS qty FROM lineitem "
                  f"WHERE l_orderkey % {mod} = {k} GROUP BY ALL")
    return out


def check_runner(work, res):
    """Every job of every tick must be journaled SUCCEED with the expected
    result, and the last outputs must match their oracles."""
    con = connect(os.path.join(work, "data"))
    oracles = runner_oracles(work, res)
    rows = {name: len(con.sql(sql).fetchall()) for name, sql in oracles.items()}
    expected = {
        "http.scala": str(rows["http_get_echo"]),
        "kvkafka.scala": f"{rows['kv_get_enrich']},{rows['kf_push_roundtrip']}",
        "report.sql": "OK,OK",
        "hot.scala": None,  # group count depends on the version; checked by output
    }
    attempted = failed = 0
    msgs = []
    for t in res["warmup"] + res["ticks"]:
        if t["error"] is not None or len(t["jobs"]) != len(expected):
            attempted += 1
            failed += 1
            msgs.append(f"FAIL tick {t['tick']}: {t['error'] or str(len(t['jobs'])) + ' jobs ran'}")
        for j in t["jobs"]:
            attempted += 1
            script = j["path"].rsplit("/", 1)[-1]
            want = expected.get(script)
            if j["status"] != "SUCCEED" or (want is not None and j["result"] != want):
                failed += 1
                msgs.append(f"FAIL tick {t['tick']} {script}: {j['status']} {j['result'][:200]}")
    for name, sql in oracles.items():
        attempted += 1
        reason = compare(con, os.path.join(work, "out", name), sql)
        if reason is not None:
            failed += 1
            msgs.append(f"FAIL output {name}: {reason}")
    return {"attempted": attempted, "failed": failed, "messages": msgs}
