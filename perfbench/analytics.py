"""``analytics``: passes over the headline registry queries.

Set-up writes the seeded star schema. The first pass is the cold one a
fresh session pays; it collects every query's result, which is then
checked against the query's DuckDB oracle outside the timed region.
Warm passes follow until the window is spent, each building every
query with ``q.fn(spark, sf_dir)`` and running it to the noop sink in a
seed-shuffled order. One operation is one pass; only the calls into
the engine are timed.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from fixture import write_star_schema
from spans import PHASES, exec_counters, wall

SF = 0.005
MIN_PASSES = 1    # warm passes at least, whatever the window


def _headline():
    from jcf_nb_migration_spark import registry

    return sorted((q for q in registry.all_queries().values() if q.headline),
                  key=lambda q: q.name)


def _one(run, q, sf_dir, collect: bool):
    """Build and run one query; returns its result if ``collect``."""
    with run.span("query", query=q.name):
        with run.span("queries.build", query=q.name):
            df = q.fn(run.spark, sf_dir)
        with run.span("exec.action", query=q.name) as rec:
            run.tracer.plan_phases(rec, df)
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
    return out


def run(run) -> None:
    queries = _headline()
    sf_dir = os.path.join(run.work, "star")
    write_star_schema(sf_dir, run.seed, SF)
    rng = np.random.default_rng(run.seed)

    results = {}
    for i in rng.permutation(len(queries)):
        q = queries[i]
        try:
            with run.timed(q.name):
                results[q.name] = _one(run, q, sf_dir, collect=True)
        except Exception as e:  # a failing query is counted, not fatal
            results[q.name] = e
    run.end_op()
    _check(run, queries, results, sf_dir)
    run.ready()

    n_pass = 0
    for n_pass in run.window(MIN_PASSES):
        for i in rng.permutation(len(queries)):
            try:
                with run.timed(queries[i].name):
                    _one(run, queries[i], sf_dir, collect=False)
            except Exception as e:
                run.check(False, f"{queries[i].name}: {e!r}"[:300])
        run.end_op()
    if run.tracer.enabled:
        _layers(run, queries, n_pass + 1)


def _check(run, queries, results, sf_dir) -> None:
    from jcf_nb_migration_spark.testing import (compare_frames,
                                                duckdb_with_views)

    con = duckdb_with_views(sf_dir)
    try:
        for q in queries:
            got = results[q.name]
            if isinstance(got, Exception):
                run.check(False, f"{q.name}: {got!r}"[:300])
                continue
            try:
                res = compare_frames(q.name, got,
                                     con.execute(q.oracle).fetchdf())
            except Exception as e:  # a malformed result is a wrong one
                run.check(False, f"{q.name}: check raised {e!r}"[:300])
                continue
            run.check(res.ok, f"{q.name}: differs from its oracle "
                              f"({res.rows_spark} vs {res.rows_duck} rows) "
                              f"{res.detail}"[:300])
    finally:
        con.close()


def _layers(run, queries, n_pass: int) -> None:
    """Per-layer numbers of the warm passes, per pass."""
    tr = run.tracer
    warm = tr.named("query")[len(queries):]
    warm_ids = {s["id"] for s in warm}
    builds = [s for s in tr.named("queries.build") if s["parent"] in warm_ids]
    actions = [s for s in tr.named("exec.action") if s["parent"] in warm_ids]
    L = run.layer
    L["queries.build_s"] = sum(map(wall, builds)) / n_pass
    L["queries.build_jobs"] = sum(s["jobs"] for s in builds) / n_pass
    for p in PHASES:
        L[f"catalyst.{p}_ms"] = sum(s[f"{p}_ms"] for s in actions) / n_pass
    exec_counters(L, warm, actions, n_pass)
    for q in queries:
        mine = [s for s in warm if s["query"] == q.name]
        L[f"query.{q.name}.build_s"] = statistics.median(
            wall(s) for s in builds if s["query"] == q.name)
        L[f"query.{q.name}.exec_s"] = statistics.median(
            wall(s) for s in actions if s["query"] == q.name)
        L[f"query.{q.name}.jobs"] = statistics.median(
            s["jobs"] for s in mine)

