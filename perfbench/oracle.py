"""Correctness checks, run after the measured passes and outside their timing.

Query results are compared with DuckDB's run of each query's oracle SQL
(`SparkEntry.oracleSql`) over the same parquet tables, by the comparison rule
of `tools/check_oracle.py`. `ingest_stream` outputs are compared with a DuckDB
recomputation over the generated JSON-lines events.
"""
import glob
import importlib.util
import json
import os
import zlib

import duckdb
import pandas as pd

EVENT_COLUMNS = ("{url:'VARCHAR', referrer:'VARCHAR', user_agent:'VARCHAR', host:'VARCHAR', "
                 "ip:'VARCHAR', headers:'VARCHAR', event_time:'VARCHAR'}")


def _check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def queries(root, tables_dir, results_dir, names):
    """Return {query name: error message or None} for every name."""
    rule = _check_oracle(root)
    con = duckdb.connect()
    for t in rule.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdict = {}
    for name in names:
        if name not in oracles:
            verdict[name] = "no oracle SQL"
            continue
        try:
            got = rule.canon(pd.read_parquet(os.path.join(results_dir, name)))
            exp = rule.canon(con.execute(oracles[name]).fetchdf())
            if list(got.columns) != list(exp.columns):
                verdict[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
            elif len(got) != len(exp):
                verdict[name] = f"rows {len(got)} != {len(exp)}"
            else:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
                verdict[name] = None
        except Exception as e:  # a missing result or a mismatch both fail the query
            verdict[name] = f"{type(e).__name__}: {str(e)[:300]}"
    return verdict


EXPECTED = {
    # StreamingJobs.processedEvents: every event, enriched
    "processed": """
        SELECT ip, ts AS event_timestamp, referrer, host, url,
               '{"country":"country_' || crc32(ip) % 10 || '","state":"state_' || crc32(ip) % 50
               || '","city":"city_' || crc32(ip) % 1000 || '"}' AS geodata
        FROM ev""",
    # StreamingJobs.tumblingHostAgg: finalized 5-minute windows only
    "tumbling": """
        SELECT * FROM (SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS event_hour, host,
                              count(*) AS num_hits FROM ev GROUP BY 1, 2)
        WHERE event_hour + INTERVAL 5 MINUTE <= (SELECT wm FROM watermark)""",
    # StreamingJobs.sessionize: 5-minute-gap sessions per (ip, host), finalized only.
    # An event exactly one gap after the last continues the session: session
    # windows [ts, ts + gap) that touch merge, in Spark as in Flink. RANGE
    # keeps events with equal times, which lag() orders arbitrarily, together.
    "sessions": """
        WITH o AS (SELECT ip, host, ts, ts - lag(ts) OVER (PARTITION BY ip, host ORDER BY ts) AS gap FROM ev),
        s AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap > INTERVAL 5 MINUTE THEN 1 ELSE 0 END)
                        OVER (PARTITION BY ip, host ORDER BY ts RANGE UNBOUNDED PRECEDING) AS sid FROM o)
        SELECT min(ts) AS session_start, max(ts) + INTERVAL 5 MINUTE AS session_end, ip, host,
               count(*) AS n_events
        FROM s GROUP BY ip, host, sid
        HAVING max(ts) + INTERVAL 5 MINUTE <= (SELECT wm FROM watermark)""",
    # the throttled foreachBatch drain into Sinks.savePartitioned, then Sinks.compact:
    # every raw event exactly once
    "sink": "SELECT url, referrer, user_agent, ip, headers, event_time, host FROM ev",
}


def ingest(events_dir, warehouse, passes):
    """Return, per measured pass, {drain name: error message or None}."""
    con = duckdb.connect()
    con.create_function("crc32", lambda s: zlib.crc32(s.encode()), ["VARCHAR"], "BIGINT")
    con.execute(f"""CREATE TABLE ev AS SELECT *,
        strptime(event_time, '%Y-%m-%dT%H:%M:%S.%gZ') AS ts
        FROM read_json('{events_dir}/*.json', columns={EVENT_COLUMNS}, format='newline_delimited')""")
    # the jobs' 15 s watermark after the last arrival
    con.execute("CREATE TABLE watermark AS SELECT max(ts) - INTERVAL 15 SECOND AS wm FROM ev")
    verdicts = []
    for p in passes:
        verdict = {}
        for name, sql in EXPECTED.items():
            if name == "sink":
                dirs = [os.path.join(warehouse, t) for t in p["tables"]]
                files = [f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet"))]
            else:
                files = glob.glob(os.path.join(p["root"], "out", name, "*.parquet"))
            if not files:
                verdict[name] = "no output files"
                continue
            try:
                listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
                con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet([{listed}])")
                con.execute(f"CREATE OR REPLACE VIEW exp AS {sql}")
                cols = ", ".join(r[0] for r in con.execute("DESCRIBE exp").fetchall())
                extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
                                    f"SELECT {cols} FROM exp)").fetchone()[0]
                missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT ALL "
                                      f"SELECT {cols} FROM got)").fetchone()[0]
                verdict[name] = None if extra == missing == 0 else \
                    f"{extra} unexpected rows, {missing} missing rows"
            except Exception as e:
                verdict[name] = f"{type(e).__name__}: {str(e)[:300]}"
        verdicts.append(verdict)
    return verdicts
