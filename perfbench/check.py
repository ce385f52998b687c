"""Output check: compare collected results with the DuckDB oracle.

The comparison canonicalises every cell in Python, so the queries are
checked in a few worker processes at once. The check runs after the timed
phases and is not part of any metric.
"""

from __future__ import annotations

import json
import multiprocessing
from concurrent.futures import ProcessPoolExecutor


def check_one(data_dir: str, name: str, oracle_sql: str, frame) -> tuple[str, str | None]:
    """(name, None) when ``frame`` matches the oracle, else (name, problem)."""
    import duckdb

    from sql_redshift_etl_spark.oracle import compare_frames, register_duckdb_views

    con = duckdb.connect()
    try:
        register_duckdb_views(con, data_dir)
        report = compare_frames(frame, con.execute(oracle_sql).df())
    finally:
        con.close()
    if report["columns_match"] and report["rowcount_match"] and report["values_match"]:
        return name, None
    return name, json.dumps({k: v for k, v in report.items() if k != "first_diffs"}, default=str)


def check_outputs(frames: dict, queries, mix: tuple[str, ...], data_dir: str, workers: int) -> dict[str, str]:
    """Query -> problem, for every query of ``mix`` whose collected result
    is missing or differs from its oracle."""
    problems: dict[str, str] = {}
    todo = []
    for name in mix:
        if name not in frames:
            problems[name] = "no result collected"
        elif queries[name].oracle is None:
            problems[name] = "no oracle"
        else:
            todo.append(name)
    if not todo:
        return problems
    todo.sort(key=lambda n: -len(frames[n]))  # the longest comparisons start first
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=max(1, min(workers, len(todo))), mp_context=ctx) as pool:
        futures = [pool.submit(check_one, data_dir, n, queries[n].oracle, frames[n]) for n in todo]
        for fut in futures:
            name, problem = fut.result()
            if problem is not None:
                problems[name] = problem
    return problems
