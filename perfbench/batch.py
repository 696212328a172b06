"""The ``batch_mix`` workload: registry queries over seeded tables, in
three groups that each load one layer of the engine heavily.

- ``relational``: JVM scan, shuffle and aggregation, no Python node.
- ``pyboundary``: mapInPandas stages carry the executor time.
- ``driver``: eager driver-issued jobs inside the query function.

A query is timed in two parts: ``build`` (the registry function call,
which returns a DataFrame and may run eager jobs) and ``action`` (a
write to the ``noop`` sink). Results are checked against each query's
DuckDB oracle through ``scripts/driver_sim.value_hash``: the warm-up
pass collects them, and the oracles run after the timed passes, so
neither set-up time nor any measured region includes the benchmark's
own checking.
"""

from __future__ import annotations

import time

GROUPS = {
    "relational": ["q3_shipping_priority", "windowed_agg_sliding"],
    "pyboundary": ["multimodal_jpeg_decode_pixels"],
    "driver": ["pagerank_personalized"],
}

# seconds one pass over GROUPS takes, warm, on a 4-core host
PASS_S = 6.5

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def run_query(spark, fn, sf_dir: str, collect: bool):
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    if collect:
        out = df.toPandas()
    else:
        df.write.format("noop").mode("overwrite").save()
        out = None
    return t0, t1, time.time(), out


def warm_pass(spark, sf_dir: str) -> tuple[float, dict]:
    """Untimed pass over every query that collects each result. Returns
    the seconds spent in the program (build and collect) and, per query,
    its result frame or the exception it raised."""
    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    spent, results = 0.0, {}
    for names in GROUPS.values():
        for name in names:
            t = time.time()
            try:
                results[name] = run_query(spark, registry.QUERIES[name], sf_dir, collect=True)[3]
            except Exception as exc:  # counted as a failed query by check
                results[name] = exc
            spent += time.time() - t
    return spent, results


def check(results: dict, sf_dir: str) -> tuple[int, int]:
    """Compare each collected result with its DuckDB oracle. Returns
    (attempted, failed)."""
    import duckdb

    from driver_sim import value_hash
    from kafka_spark_streaming_app_spark import registry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    failed = 0
    for name, sdf in results.items():
        if isinstance(sdf, Exception):
            failed += 1
            print(f"batch_mix: {name} raised {type(sdf).__name__}: {sdf}", flush=True)
            continue
        odf = con.execute(registry.ORACLES[name]).fetchdf()
        ok = (
            len(sdf) == len(odf) > 0
            and sorted(sdf.columns) == sorted(odf.columns)
            and value_hash(sdf) == value_hash(odf)
        )
        if not ok:
            failed += 1
            print(f"batch_mix: {name} does not match its oracle "
                  f"({len(sdf)} rows vs {len(odf)})", flush=True)
    con.close()
    return len(results), failed


def timed_passes(spark, sf_dir: str, seconds: float, skip=()) -> list[list[tuple]]:
    """A fixed number of passes over the groups, as many as take about
    ``seconds`` on a 4-core host. The count does not depend on how fast
    the program runs: every pass is also more JIT warm-up, so a count
    that grew with speed would favour the faster side twice. Queries in
    ``skip`` (those that failed the warm-up pass) are left out."""
    from kafka_spark_streaming_app_spark import registry

    passes = []
    for _ in range(max(1, round(seconds / PASS_S))):
        runs = []
        for group, names in GROUPS.items():
            for name in names:
                if name in skip:
                    continue
                t0, t1, t2, _ = run_query(spark, registry.QUERIES[name], sf_dir, collect=False)
                runs.append((group, name, t0, t1, t2))
        passes.append(runs)
    return passes
