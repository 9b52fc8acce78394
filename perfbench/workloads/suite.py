"""The metric suite, from the reference's pre-computed-metrics job, and
the DuckDB references the workloads check their outputs against.

``run_suite`` computes each metric with ``plans.dispatch.run_metric``
(the driver-side plan build, layer ``plans``) and writes its result to
Parquet (the execution, layer ``operators``). ``check_suite`` recomputes
every metric with DuckDB over the same store for a few cells."""

from __future__ import annotations

import os

from . import SUITE, Mismatch

KEYS = ["lat", "lon"]

# Independent DuckDB statements over the same store, one per metric,
# restricted to the sampled cells (view ``s``). Each yields the
# metric's key columns then its value columns, in the order the Spark
# result is read back in ``_SPARK_SIDE`` (``{t}``: the time column).
_ORACLE = {
    "monthly_mean": """
        SELECT lat, lon, date_trunc('month', ts)::TIMESTAMP AS k,
               avg(temperature)
        FROM s GROUP BY ALL""",
    "anomaly": """
        SELECT s.lat, s.lon, s.ts, s.temperature - c.cv
        FROM s JOIN (SELECT lat, lon, month(ts) AS m, avg(temperature) AS cv
                     FROM s GROUP BY ALL) c
          ON c.lat = s.lat AND c.lon = s.lon AND c.m = month(s.ts)""",
    "percentiles": """
        SELECT lat, lon, m * 100 + unnest([10, 25, 50, 75, 90, 95, 99]) AS k,
               unnest(qs)
        FROM (SELECT lat, lon, month(ts) AS m,
                     quantile_cont(temperature, [0.1, 0.25, 0.5, 0.75, 0.9,
                                                 0.95, 0.99]) AS qs
              FROM s GROUP BY ALL)""",
}
_SPARK_SIDE = {
    "monthly_mean": "lat, lon, month_start::TIMESTAMP AS k, avg_value",
    "anomaly": "lat, lon, {t}::TIMESTAMP AS k, anomaly",
    "percentiles": "lat, lon, month * 100 + percentile AS k, threshold",
}


def run_suite(ctx, df, time_col: str, outdir: str, op: str) -> None:
    """The suite's metrics over ``df`` keyed by (lat, lon), one after
    another, each result written to ``outdir/<metric>``."""
    from climate_data_pipeline_spark.plans.dispatch import run_metric
    for m in SUITE:
        with ctx.step(f"plans.run_metric.{m}", op):
            res = run_metric(df, m, time_col, "temperature", KEYS)
        with ctx.step(f"operators.{m}", op):
            res.write.mode("overwrite").parquet(os.path.join(outdir, m))


def suite_layer_metrics(tracer) -> dict:
    """Mean plan-build time and total execution time of each metric."""
    m = {}
    for name in SUITE:
        builds = tracer.durations(f"plans.run_metric.{name}")
        m[f"plans.run_metric_build_ms.{name}"] = (
            1e3 * sum(builds) / len(builds) if builds else 0.0)
        m[f"operators.{name}_s"] = tracer.total(f"operators.{name}")
    return m


def duckdb_store(path: str, time_col: str = "ts"):
    """A DuckDB connection with the store as view ``store`` (UTC), its
    time column named ``ts`` and its values as DOUBLE, the type Spark's
    aggregates compute in."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW store AS SELECT {time_col}::TIMESTAMP AS ts, "
                f"lat, lon, temperature::DOUBLE AS temperature, "
                f"precipitation::DOUBLE AS precipitation FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = false)")
    return con


def compare(name: str, got: list, want: list, rel: float = 1e-9):
    """Rows are (lat, lon, key, value); both sides must hold the same
    keys and values within ``rel`` (summation order differs)."""
    g = {tuple(r[:3]): r[3] for r in got}
    w = {tuple(r[:3]): r[3] for r in want}
    if g.keys() != w.keys():
        raise Mismatch(f"{name}: {len(g.keys() ^ w.keys())} keys differ")
    for k, wv in w.items():
        gv = g[k]
        if gv is None or wv is None:
            if gv is not wv:
                raise Mismatch(f"{name} at {k}: {gv} vs {wv}")
        elif abs(gv - wv) > rel * max(1.0, abs(wv)):
            raise Mismatch(f"{name} at {k}: {gv} vs {wv}")


def check_suite(store: str, time_col: str, outdir: str, cells) -> None:
    """Each metric ``run_suite`` wrote to ``outdir`` against DuckDB over
    ``store``, at the (lat, lon) ``cells``, which must be distinct: a
    repeated cell would repeat its rows in the reference's quantiles."""
    if len(set(cells)) != len(cells):
        raise ValueError("check_suite needs distinct cells")
    con = duckdb_store(store, time_col)
    con.execute("CREATE TABLE cells (lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO cells VALUES (?, ?)", cells)
    con.execute("CREATE VIEW s AS SELECT * FROM store "
                "JOIN cells USING (lat, lon)")
    for m in SUITE:
        got = con.execute(
            f"SELECT {_SPARK_SIDE[m].format(t=time_col)} FROM read_parquet("
            f"'{outdir}/{m}/*.parquet') JOIN cells USING (lat, lon)"
        ).fetchall()
        want = con.execute(_ORACLE[m]).fetchall()
        if not want:
            raise Mismatch(f"{m}: the reference computed no rows")
        compare(m, got, want)
