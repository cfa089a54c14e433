"""Correctness checks run inside the benchmark; every failed check counts
against ``error_rate``.

The replay check compares each of the ten sink tables with the DuckDB
``oracle_sql()`` entry of the same name over the same ``events.parquet``,
through ``tools/check_oracle.py``'s canonical comparison (full float
precision, order-insensitive rows under name-sorted columns).
"""

from __future__ import annotations

import importlib.util
import os
import time

from pyspark.sql import functions as F

#: the ten sink tables of ``run_all_analyses``, in the reference's order
TABLES = (
    "events_per_minute", "active_users", "event_type_distribution", "top_items",
    "bounce_rate", "sessions", "user_paths", "funnel_analysis",
    "item_interactions", "most_viewed_items",
)


def _check_oracle_module(repo: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_rows(repo: str, events_dir: str) -> tuple[dict[str, tuple[list, list]], float]:
    """(columns, rows) of each table's DuckDB oracle, and the DuckDB seconds."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(events_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        out = {}
        t0 = time.perf_counter()
        for table in TABLES:
            rel = con.sql(sql[table])
            out[table] = (list(rel.columns), rel.fetchall())
        return out, time.perf_counter() - t0
    finally:
        con.close()


def _project(df, table: str):
    """The two tables whose sink shape differs from their oracle's."""
    if table == "user_paths":
        return df.select("visitorid", "session_id", F.concat_ws(">", "user_path").alias("path_str"))
    if table == "funnel_analysis":
        return df.drop("batch_id", "analysis_time")
    return df


def compare_replay(spark, repo: str, out_dir: str, batch_id: int, oracle) -> dict[str, str | None]:
    """Per table: None when the sink output equals the oracle, else why not."""
    canon = _check_oracle_module(repo)._rows_canon
    result = {}
    for table in TABLES:
        path = os.path.join(out_dir, table, f"batch_id={batch_id}")
        try:
            df = _project(spark.read.parquet(path), table)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - a missing table is a failed check
            result[table] = f"unreadable: {e}"[:300]
            continue
        ocols, orows = oracle[table]
        if sorted(cols) != sorted(ocols):
            result[table] = f"columns {sorted(cols)} != {sorted(ocols)}"
        elif len(rows) != len(orows):
            result[table] = f"rows {len(rows)} != {len(orows)}"
        elif canon(cols, rows) != canon(ocols, orows):
            result[table] = "values differ"
        else:
            result[table] = None
    return result


def count_rows(out_dir: str, table: str, batch_id: int) -> int:
    """Rows a ``ParquetSink`` wrote for one table and batch, from the file
    footers; 0 when the batch's directory is missing."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, table, f"batch_id={batch_id}")
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def check_stream(spark, out_dir: str, batch_ids: list[int], events_landed: int) -> dict[str, str | None]:
    """Every batch id is present in all ten tables, and the event counts of
    ``event_type_distribution`` sum to the events landed."""
    result = {}
    want = set(batch_ids)
    for table in TABLES:
        tdir = os.path.join(out_dir, table)
        have = {
            int(d.split("=", 1)[1]) for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
            if d.startswith("batch_id=")
        }
        missing = sorted(want - have)
        result[table] = f"batches missing: {missing[:10]}" if missing else None
    total = (
        spark.read.parquet(os.path.join(out_dir, "event_type_distribution"))
        .agg(F.sum("event_count")).first()[0]
    )
    result["event_count_sum"] = (
        None if total == events_landed else f"sum(event_count)={total} != landed {events_landed}"
    )
    return result
