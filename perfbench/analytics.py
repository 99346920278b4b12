"""analytics workload: registry entries on seeded tables.

The query registry is most of the code. Each entry runs as
``queries.spark_queries()[name](spark, tables).collect()``; set-up generates
the tables and makes WARMUP_PASSES warm-up passes, then whole passes over the
entries, each in an order permuted by the seed: as many as take about
``--seconds`` (PASS_S each), and at least MIN_PASSES. Every entry's last result is checked
against its DuckDB oracle afterwards; an entry without one is checked through
its oracle twin or its own audit column.

    throughput_per_s   entries over the sum of the entries' median wall times
    latency_p50/p90_ms over the entries' median wall times, result collected
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import random
import time

from perfbench.main import Ctx, Result, start_spark
from perfbench.metrics import ALL_COUNTERS, ANALYTICS_ENTRIES
from perfbench.tables import TABLES, make_tables, write_tables
from perfbench.trace import median, percentile

SCALE = 0.001
WARMUP_PASSES = 2
MIN_PASSES = 3
# about one pass on a 4-core host. The pass count follows from --seconds
# alone: entries keep getting faster pass after pass, so a run on a fast host
# that added passes would read faster still
PASS_S = 4.0


def _cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples, columns in name order, numbers rounded to the
    registry's six decimals: equal results compare equal across engines."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def oracle_mismatch(duck, name: str, rows, cols) -> str:
    """'' when the Spark result matches the DuckDB oracle, else why not."""
    from oaim_sandbox_spark import queries as Q

    rel = duck.sql(Q.oracle_sqls()[name])
    dcols, drows = rel.columns, rel.fetchall()
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in dcols):
        return f"columns {cols} vs {dcols}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows vs {len(drows)}"
    if canonical(cols, rows) != canonical(dcols, drows):
        return "values differ"
    return ""


def check_entry(spark, duck, tables_dir: str, name: str, rows, cols) -> str:
    from oaim_sandbox_spark import queries as Q

    if name not in Q.NON_ORACLE:
        return oracle_mismatch(duck, name, rows, cols)
    if name in Q.SELF_AUDITED:
        col = Q.SELF_AUDITED[name]
        bad = [r for r in rows if not r[col]]
        return f"{len(bad)} rows fail {col}" if bad or not rows else ""
    twin = Q.ORACLE_TWINS[name]
    df = Q.spark_queries()[twin](spark, tables_dir)
    return oracle_mismatch(duck, twin, df.collect(), df.columns)


def run(ctx: Ctx, res: Result) -> None:
    t_setup = time.perf_counter()
    spark = start_spark()
    ctx.tracer.attach_spark(spark)
    import duckdb

    from oaim_sandbox_spark import queries as Q
    from perfbench.sparkstats import storage_state

    tables_dir = write_tables(make_tables(ctx.seed, SCALE), os.path.join(ctx.root, "tables"))
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    runners = Q.spark_queries()
    # the JVM keeps compiling through the first passes: warm it up
    for _ in range(WARMUP_PASSES):
        for name in ANALYTICS_ENTRIES:
            runners[name](spark, tables_dir).collect()
    # views the entries register once are not leaks: count from here
    before = storage_state(spark)
    res.e2e["setup_s"] = time.perf_counter() - t_setup

    rng = random.Random(ctx.seed)
    timings: dict[str, list[float]] = {n: [] for n in ANALYTICS_ENTRIES}
    last: dict[str, tuple] = {}
    passes = max(MIN_PASSES, round(ctx.seconds / PASS_S))
    for _ in range(passes):
        order = list(ANALYTICS_ENTRIES)
        rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"queries.{name}"):
                df = runners[name](spark, tables_dir)
                rows = df.collect()
            timings[name].append((time.perf_counter() - t0) * 1000.0)
            last[name] = (rows, df.columns)
            res.attempted += 1
    # one number per entry, so the entry mix is the same in every run
    entry_ms = [median(timings[n]) for n in ANALYTICS_ENTRIES]
    res.e2e["throughput_per_s"] = len(entry_ms) / (sum(entry_ms) / 1000.0)
    res.e2e["latency_p50_ms"] = median(entry_ms)
    res.e2e["latency_p90_ms"] = percentile(entry_ms, 90)

    for name in ANALYTICS_ENTRIES:
        why = check_entry(spark, duck, tables_dir, name, *last[name])
        res.check(f"{name} matches its oracle", not why, why)
        res.layers[f"queries.{name}.ms"] = median(timings[name])
    after = storage_state(spark)
    res.layers["leaked_views"] = max(0, after[0] - before[0])
    res.layers["leaked_blocks"] = max(0, after[1] - before[1])
    if ctx.trace:
        from perfbench.sparkstats import group_counters, span_counters, sum_counters

        spans = ctx.tracer.spans
        per_span = span_counters(spans, group_counters(spark))
        for name in ANALYTICS_ENTRIES:
            gaps = [per_span[s.span_id]["driver_gap_ms"] for s in spans
                    if s.name == f"queries.{name}" and s.span_id in per_span]
            res.layers[f"queries.{name}.spark.driver_gap_ms"] = median(gaps)
        tot = sum_counters(per_span.values())
        for c in ALL_COUNTERS:
            res.layers[f"queries.spark.{c}"] = tot[c] / passes
    duck.close()
    spark.stop()
