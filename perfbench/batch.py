"""The dashboard registry queries, run cold over a seeded ``events`` table
and checked against each query's DuckDB oracle SQL.

This is the traced run's ``plans``/``operators`` pass. The registry's
usual inputs, the sf0.1 test tables, live outside the checkout, so the pass
writes a table of the same schema and size from the seed.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import random
import time

from measure import p50

DASHBOARD_QUERIES = (
    "mqtt_fanout_window_rate",
    "mqtt_counter_totals",
    "promql_rate_window",
    "grafana_panel_hfp_journey",
    "grafana_dashboard_all_panels",
    "rate_over_store",
    "promql_histogram_quantile",
    "promql_avg_max_over_time",
    "gtfsrt_delay_by_route",
)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_events(path: str, seed: int, n: int = 100_000, files: int = 4) -> None:
    """``n`` events (event_id, ts, user_id, event_type, value, props) over
    January 2024, in a seeded row order, split across ``files`` parquet
    files of a directory named like the registry's table file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed ^ 0xE7E)
    t0 = int(datetime.datetime(2024, 1, 1).timestamp() * 1e6)
    span = 30 * 86_400_000_000
    rows = [
        (i, t0 + rng.randrange(span), rng.randrange(1000), rng.choice(EVENT_TYPES),
         round(rng.uniform(0.01, 490.02), 2), json.dumps({"k": rng.randrange(100)}))
        for i in range(n)
    ]
    rng.shuffle(rows)
    os.makedirs(path, exist_ok=True)
    step = -(-n // files)
    for k in range(files):
        part = rows[k * step:(k + 1) * step]
        cols = list(zip(*part))
        table = pa.table({
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{k}.parquet"))


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if hasattr(v, "asDict"):
        return tuple(sorted((k, _norm(x)) for k, x in v.asDict().items()))
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(names, rows) -> list:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def run_pass(spark, work: str, seed: int, res) -> dict:
    """Build and execute each query cold; compare with DuckDB outside the
    timed calls. Returns the ``plans`` and ``operators`` layer figures."""
    import duckdb

    from transitdata_monitor_data_collector_spark.operators import dedup
    from transitdata_monitor_data_collector_spark.plans import load_all

    sf_dir = os.path.join(work, "tables")
    write_events(os.path.join(sf_dir, "events.parquet"), seed)
    registry = load_all()
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet/*.parquet')")
    build_ms, exec_s, exchanges, per_query = [], [], 0, {}
    cache = spark._jsparkSession.sharedState().cacheManager()
    try:
        for name in DASHBOARD_QUERIES:
            q = registry[name]
            spark.catalog.clearCache()
            dedup.clear_precheck_memo()
            res.attempted += 1
            if not cache.isEmpty():
                res.fail(f"{name}: cache manager not empty before a cold run")
                continue
            t = time.perf_counter()
            df = q.build(spark, sf_dir)
            t_built = time.perf_counter()
            got = df.collect()
            t_done = time.perf_counter()
            build_ms.append((t_built - t) * 1e3)
            exec_s.append(t_done - t_built)
            per_query[name] = t_done - t_built
            plan = df._jdf.queryExecution().executedPlan().toString()
            exchanges += plan.count("Exchange")
            oracle = con.execute(q.oracle)
            want = _rows([d[0] for d in oracle.description], oracle.fetchall())
            if _rows(df.columns, [tuple(r) for r in got]) != want:
                res.fail(f"{name}: result differs from its DuckDB oracle")
    finally:
        con.close()
    return {
        "plans.dashboard": {"build_ms_p50": p50(build_ms), "exec_s_p50": p50(exec_s)},
        **{f"plans.{k}": {"exec_s": v} for k, v in per_query.items()},
        "operators": {"exchanges_total": exchanges},
    }
