"""The dedup and similarity operator tier, measured in the traced
``corpus_resumable`` run.

Over seeded sf0.1-shaped tables (half its row counts), in the traced
run's Spark session: one pass collects every query's result, which is
hashed against its ``oracle_sql()`` text run through DuckDB over the
same parquet files; then :data:`PASSES` passes run each query to a
``noop`` sink under its own job group, whose shuffle bytes and stage
count come from the event log.

It is not a workload of its own: on a 4-vCPU host its run-to-run
spread stayed near the 25% bound, and the runs it needs did not fit
the benchmark's time budget next to the two workloads.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench import common, gen

QUERIES = ("dedup_minhash_lsh", "embedding_near_dup", "decontaminate", "cosine_topk",
           "pricing_summary")
PASSES = 2


def materialize(seed: int, sf_dir: str) -> dict:
    tables = {"documents": gen.documents(seed, 2500), "embeddings": gen.embeddings(seed, 1000),
              "lineitem": gen.lineitem(seed, 300_000)}
    for name, df in tables.items():
        df.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)
    return {name: gen.content_hash(df) for name, df in tables.items()}


def result_hash(df) -> str:
    """Order-free hash of a result: columns sorted by name, floats
    rounded to 6 places, integers widened, rows sorted."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.md5(repr((list(df.columns), df.values.tolist())).encode()).hexdigest()


def oracle_hashes(sf_dir: str) -> dict[str, str]:
    """Result hash of each query's ``oracle_sql()`` text in DuckDB."""
    import duckdb

    from libpdf_spark.operators import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings", "lineitem"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, table)}.parquet')")
        return {name: result_hash(con.sql(oracles[name]).df()) for name in QUERIES}
    finally:
        con.close()


def run_queries(spark, seed: int, work: str) -> dict:
    """Generate the tables under ``work``, collect each query's result
    once, then time :data:`PASSES` noop-sink passes of the five queries.
    Returns what :func:`layers` needs."""
    from libpdf_spark.operators import all_queries

    queries = all_queries()
    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    hashes = materialize(seed, sf_dir)
    got = {}
    for name in QUERIES:
        spark.sparkContext.setJobGroup(f"{name}:collect", name)
        got[name] = result_hash(queries[name](spark, sf_dir).toPandas())
        spark.catalog.clearCache()
    walls: dict[str, list[float]] = {name: [] for name in QUERIES}
    errors = dict.fromkeys(QUERIES, 0)
    for p in range(PASSES):
        for name in QUERIES:
            spark.sparkContext.setJobGroup(f"{name}:{p}", name)
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls[name].append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001 — a query that raises is a failed operation
                errors[name] += 1
            spark.catalog.clearCache()
    return {"sf_dir": sf_dir, "input_hashes": hashes, "got": got, "walls": walls,
            "errors": errors}


def layers(state: dict, groups: dict) -> tuple[dict, int, int, list[str]]:
    """Per-query layer figures, after the session stopped: the oracle
    check in DuckDB and the event-log figures of the timed passes.
    Returns (values, attempted, failed, problems); a query execution and
    a query's oracle check are one operation each, and a mismatch fails
    every execution of that query."""
    expected = oracle_hashes(state["sf_dir"])
    walls, errors = state["walls"], state["errors"]
    mismatched = [name for name in QUERIES if state["got"][name] != expected[name]]
    attempted = sum(len(walls[n]) + errors[n] + 1 for n in QUERIES)
    failed = sum(errors.values()) + sum(len(walls[n]) + errors[n] + 1 for n in mismatched)
    values = {}
    for name in QUERIES:
        mine = [g for key, g in groups.items()
                if key.startswith(name + ":") and key != f"{name}:collect"]
        values[f"query_s.{name}"] = common.median(walls[name]) if walls[name] else 0.0
        values[f"query.shuffle_bytes.{name}"] = common.median(
            [g.shuffle_write_bytes for g in mine]) if mine else 0.0
        values[f"query.stages.{name}"] = common.median([g.stages for g in mine]) if mine else 0.0
    problems = [f"query {n} differs from its oracle" for n in mismatched]
    problems += [f"query {n} raised {k} times" for n, k in errors.items() if k]
    return values, attempted, failed, problems
