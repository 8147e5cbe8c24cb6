"""``migration``: the STM-driven CSV-to-CSV migration job.

Set-up writes a seeded all-string CRM extract (``fixture.write_crm_extract``)
and builds its STM: 24 tag rules, 40 two-source merges, 20 out-of-scope
columns and straight renames for the rest, the ``Faith`` lookup and
the ``Join Date`` rewrite. One operation is one pipeline run, as the
CLI makes it: ``read_csv(all_string=True)``, ``run_migration``, the
output through ``write_csv``, then ``write_single_csv`` for the purge
audit and for each distinct-value list. The first run is the cold one
a fresh session pays; runs repeat until the window is spent. After
each run, outside the timed region, the rows out, rows purged and
columns out are compared with what the generator implies, the
``Observation`` row count with the rows written, and the distinct-value
list with the lookup's replacements.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
import statistics

from fixture import CRM_FAITH, crm_stm, write_crm_extract
from spans import PHASES, exec_counters, wall

ROWS = 2000
GENERIC = 64          # generic columns; the extract has 4 more
MIN_RUNS = 3          # warm runs at least, whatever the window


def _stm():
    from jcf_nb_migration_spark.pipeline import MigrationConfig
    from jcf_nb_migration_spark.rules import ColumnRule, RuleSet

    rules = RuleSet([ColumnRule(**r) for r in crm_stm(GENERIC)])
    return rules, MigrationConfig(key_col="Email", date_cols=("Join Date",))


def _expected(rules, made: dict) -> dict:
    """Rows out, rows purged and columns out the generator implies."""
    n_cols = (len(rules.rename_and_merge_plan())
              + len(rules.tag_only_sources()) + 1)     # + the tags column
    return {"rows": made["rows"] - made["marked"], "purged": made["marked"],
            "cols": [n_cols], "faith": sorted(CRM_FAITH.values())}


def _pipeline(run, src: str, out: str, rules, cfg):
    """One CLI-shaped run into ``out``; returns its result."""
    from jcf_nb_migration_spark.io.readers import read_csv
    from jcf_nb_migration_spark.io.writers import write_csv, write_single_csv
    from jcf_nb_migration_spark.operators.cleaning import qcol
    from jcf_nb_migration_spark.pipeline import run_migration

    spark = run.spark
    with run.timed("lookup"):
        lookup = spark.createDataFrame(
            list(CRM_FAITH.items()),
            "`Values in Data` string, `Replacement Values` string")
    cfg.value_lookups = {"Faith": (lookup, "Values in Data",
                                   "Replacement Values")}
    with run.span("migration"):
        with run.span("io.readers.read_csv"), run.timed("read_csv"):
            crm = read_csv(spark, src, all_string=True)
        with run.span("pipeline.run_migration"), run.timed("run_migration"):
            res = run_migration(crm, rules, cfg)
        with run.span("io.writers.write_csv") as rec, run.timed("write_csv"):
            run.tracer.plan_phases(rec, res.output)
            write_csv(res.output, os.path.join(out, "output"))
        with run.span("io.writers.audit_sinks"), run.timed("audit_sinks"):
            write_single_csv(res.purge.removed,
                             os.path.join(out, "deleted_test_rows.csv"))
            for c, vals in res.distinct_lists.items():
                write_single_csv(vals.orderBy(qcol(c)),
                                 os.path.join(out, "values", f"{c}.csv"))
    return res


def _read(path: str) -> list[list[str]]:
    """The records of a CSV file with a header, header excluded."""
    with open(path, newline="") as fh:
        return list(csv.reader(fh))[1:]


def _check(run, res, out: str, want: dict) -> int:
    """Compare one run's sinks with the generator; returns the bytes
    of the output CSV."""
    parts = sorted(glob.glob(os.path.join(out, "output", "part-*.csv")))
    records = [r for p in parts for r in _read(p)]
    observed = res.metrics.get["n_rows"]
    got = {"rows": len(records), "purged": len(_read(
               os.path.join(out, "deleted_test_rows.csv"))),
           "cols": sorted({len(r) for r in records}),
           "faith": sorted(r[0] for r in _read(
               os.path.join(out, "values", "Faith.csv")))}
    run.check(got == want and observed == got["rows"],
              f"migration sinks {got} (observed {observed} rows), "
              f"want {want}")
    return sum(os.path.getsize(p) for p in parts)


def run(run) -> None:
    src = os.path.join(run.work, "crm.csv")
    made = write_crm_extract(src, run.seed, ROWS, GENERIC)
    rules, cfg = _stm()
    want = _expected(rules, made)

    def once(n: int) -> int:
        out = os.path.join(run.work, f"out{n}")
        try:
            res = _pipeline(run, src, out, rules, cfg)
        except Exception as e:  # a failing run is counted, not fatal
            run.check(False, f"migration run {n}: {e!r}"[:300])
            return 0
        finally:
            run.end_op()
        try:
            return _check(run, res, out, want)
        except Exception as e:  # missing or malformed sinks are wrong ones
            run.check(False, f"migration run {n}: check raised {e!r}"[:300])
            return 0
        finally:
            shutil.rmtree(out, ignore_errors=True)

    once(0)
    run.ready()
    for n in run.window(MIN_RUNS):
        size = once(n + 1)
    if run.tracer.enabled:
        _layers(run, size)


def _layers(run, output_bytes: int) -> None:
    """Per-layer numbers of the warm runs, medians per run."""
    tr = run.tracer
    warm = tr.named("migration")[1:]
    ids = {s["id"] for s in warm}
    L = run.layer
    for name in ("io.readers.read_csv", "pipeline.run_migration",
                 "io.writers.write_csv", "io.writers.audit_sinks"):
        L[f"{name}_s"] = statistics.median(
            wall(s) for s in tr.named(name) if s["parent"] in ids)
    L["io.writers.output_bytes"] = output_bytes
    sinks = [s for s in tr.named("io.writers.write_csv") if s["parent"] in ids]
    for p in PHASES:
        L[f"catalyst.{p}_ms"] = statistics.median(s[f"{p}_ms"] for s in sinks)
    exec_counters(L, warm, warm, len(warm))
