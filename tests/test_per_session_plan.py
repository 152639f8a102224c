"""``tables.per_session_plan`` may wrap PURE-LAZY plan functions only: this
module finds every use in ``sol_spark/`` by an AST scan and checks, per use,
that a fresh build runs no Spark job, that a second call returns the
identical object, and that another ``sf_dir`` gets its own object.

Jobs are counted per job group through the status tracker. The tracker is
fed asynchronously by the listener bus, so each count waits for a sentinel
job run afterwards in a second group: the bus delivers events in order.
"""

from __future__ import annotations

import ast
import importlib
import os
import time
from pathlib import Path

import pytest

from sol_spark.tables import load_tables

PKG = Path(__file__).resolve().parent.parent / "sol_spark"


def _is_memoiser(node: ast.AST) -> bool:
    return (isinstance(node, ast.Name) and node.id == "per_session_plan") or (
        isinstance(node, ast.Attribute) and node.attr == "per_session_plan"
    )


def _uses() -> tuple[list[str], int]:
    """Dotted names of the functions decorated with ``@per_session_plan``,
    and the number of references to it that are not such decorators."""
    decorated: list[str] = []
    refs = 0
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        module = ".".join(path.relative_to(PKG.parent).with_suffix("").parts)
        for node in ast.walk(tree):
            if _is_memoiser(node) and not isinstance(getattr(node, "ctx", None), ast.Store):
                refs += 1
            if isinstance(node, ast.FunctionDef):
                hits = [d for d in node.decorator_list if _is_memoiser(d)]
                decorated += [f"{module}.{node.name}"] * len(hits)
    return decorated, refs - len(decorated)


USES, OTHER_REFS = _uses()


def test_every_use_is_a_decorator_the_scan_sees():
    # The three stars/feeder families and the catalog: a scan finding
    # fewer means it stopped seeing them, not that they are gone.
    assert len(USES) >= 7, USES
    assert "sol_spark.tables._catalog" in USES
    # Anything but ``@per_session_plan def f`` (a call, an alias) would
    # escape the per-use check below.
    assert OTHER_REFS == 0


def _count_jobs(spark, group: str, build):
    """Run ``build()`` under job group ``group``; return (result, jobs)."""
    sc = spark.sparkContext
    done = f"{group}:done"
    try:
        sc.setJobGroup(group, group)
        out = build()
        sc.setJobGroup(done, done)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(done):
        assert time.monotonic() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


@pytest.fixture
def alias_sf_dir(tmp_path, sf_dir, spark):
    """A fresh path to the same fixtures: its absolute path is a new memo
    key, so every memoised function really builds under it. Temp views go
    back to ``sf_dir`` afterwards."""
    link = tmp_path / "sf"
    link.symlink_to(os.path.abspath(sf_dir), target_is_directory=True)
    yield str(link)
    load_tables(spark, sf_dir)


def test_job_counter_sees_catalog_footer_reads(spark, alias_sf_dir):
    # Non-vacuity: the catalog's parquet footer reads are jobs, so a
    # counter reading 0 below is a real 0.
    group = f"per_session_plan:catalog:{alias_sf_dir}"
    _, jobs = _count_jobs(spark, group, lambda: load_tables(spark, alias_sf_dir))
    assert jobs > 0


@pytest.mark.parametrize("use", USES)
def test_memoised_plan_is_lazy_and_keyed(spark, sf_dir, alias_sf_dir, use):
    module, name = use.rsplit(".", 1)
    fn = getattr(importlib.import_module(module), name)
    # Every query starts from load_tables, whose footer reads are the one
    # sanctioned job inside a memoised plan function.
    load_tables(spark, alias_sf_dir)
    group = f"per_session_plan:{use}:{alias_sf_dir}"
    first, jobs = _count_jobs(spark, group, lambda: fn(spark, alias_sf_dir))
    assert jobs == 0, f"{use}: {jobs} job(s) while building a memoised plan; it must stay pure-lazy"
    assert fn(spark, alias_sf_dir) is first, f"{use}: second call rebuilt"
    assert fn(spark, sf_dir) is not first, f"{use}: another sf_dir shared the entry"
