"""run_import applies each table with one Spark action, its target write,
and reads the report's counts from that write.  These tests pin the counts
against DuckDB over the source files, pin the number of SQL executions,
check where the observed metrics sit in the write plan, and check that
the decompressed package does not outlive the import."""

from __future__ import annotations

import os
import re
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from bigdatamigratecloud_spark.catalog import PRIMARY_KEYS
from bigdatamigratecloud_spark.plans.pipeline import apply_staged_table, run_import
from bigdatamigratecloud_spark.plans.spec import FieldSpec, PackageSpec, TableSpec
from bigdatamigratecloud_spark.sources.acid_table import AcidTable
from bigdatamigratecloud_spark.sources.xml_package import (
    export_package_xml,
    import_package_to_staging,
)

# every source column is text, so the package carries cells that do not
# parse into the typed target schema below.  Two dependency ranks: nation,
# then customer and supplier side by side.
SOURCE = {
    "nation": {
        "n_nationkey": ["0", "1", "2", "3"],
        "n_name": ["N0", "N1", "N2", "N3"],
    },
    "customer": {
        # '7x' leaves a valid record with a NULL key; the last record has
        # no valid cell.  'x' is a dirty FK (NULL after the parse), 42 an
        # orphan, and None stages as an empty cell
        "c_custkey": ["1", "2", "3", "4", "5", "6", "7x", "bad"],
        "c_nationkey": ["0", "1", "x", "42", None, "3", "2", "?"],
        "c_acctbal": ["10.50", "N/A", "7.25", "1O.5", "0.00", "3.10", "6.00", "N/A"],
        "c_since": [
            "1995-01-02", "1996-02-03", "unknown", "1997-13-01x",
            "1998-04-05", "31/12/97", "1999-06-07", "n.d.",
        ],
    },
    "supplier": {
        # 30 and 31 have no nation: create-missing-codes adds them
        "s_suppkey": ["1", "2", "3", "4"],
        "s_nationkey": ["0", "30", "31", "30"],
    },
}
TARGET_TYPES = {
    "n_nationkey": ("bigint", T.LongType()),
    "c_custkey": ("bigint", T.LongType()),
    "c_nationkey": ("bigint", T.LongType()),
    "c_acctbal": ("decimal(12,2)", T.DecimalType(12, 2)),
    "c_since": ("date", T.DateType()),
    "s_suppkey": ("bigint", T.LongType()),
    "s_nationkey": ("bigint", T.LongType()),
}
FKS = {  # child -> (child col, parent, parent col), as in catalog.FOREIGN_KEYS
    "customer": ("c_nationkey", "nation", "n_nationkey"),
    "supplier": ("s_nationkey", "nation", "n_nationkey"),
}
CMC = ("supplier", "s_nationkey")


def _schema(table: str) -> T.StructType:
    return T.StructType([
        T.StructField(c, TARGET_TYPES.get(c, ("", T.StringType()))[1], True)
        for c in SOURCE[table]
    ])


def _spec(skip: frozenset = frozenset()) -> PackageSpec:
    return PackageSpec("ONEPASS", tables=[
        TableSpec(t, i, skip_validation=t in skip, fields=[
            FieldSpec(
                c, primary_key=c in PRIMARY_KEYS[t], processing_order=j,
                create_missing_codes=(t, c) == CMC,
            )
            for j, c in enumerate(cols)
        ])
        for i, (t, cols) in enumerate(SOURCE.items())
    ])


@pytest.fixture(scope="module")
def package(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("onepass_src")
    for t, cols in SOURCE.items():
        pq.write_table(pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()}), src / f"{t}.parquet")
    pkg = str(tmp_path_factory.mktemp("onepass_pkg") / "onepass.rapidstart")
    export_package_xml(spark, _spec(), str(src), pkg)
    return str(src), pkg


def oracle(src: str, skip: frozenset = frozenset()) -> dict[str, tuple[int, int, int]]:
    """(rows_applied, rows_quarantined, fk_violations) per table, from
    DuckDB over the text sources.  The package renders a NULL as an empty
    element, so a cell's staged value is its text or ''.  A cell is
    quarantined when that value does not cast to its target type (and
    its table is validated); a record is applied when it has a valid
    cell; an FK violates when its parsed key has no applied parent key."""
    db = duckdb.connect()
    for t, cols in SOURCE.items():
        staged = ", ".join(f"coalesce({c}, '') AS {c}" for c in cols)
        bad = {
            c: f"TRY_CAST({c} AS {TARGET_TYPES[c][0]}) IS NULL"
            if t not in skip and c in TARGET_TYPES else "FALSE"
            for c in cols
        }
        typed = ", ".join(
            f"CASE WHEN {bad[c]} THEN NULL ELSE TRY_CAST({c} AS {TARGET_TYPES[c][0]}) END AS {c}"
            if c in TARGET_TYPES else c
            for c in cols
        )
        n_bad = " + ".join(f"({b})::INT" for b in bad.values())
        kept = " OR ".join(f"NOT ({b})" for b in bad.values())
        db.execute(
            f"CREATE TABLE {t} AS SELECT {typed}, {n_bad} AS n_bad, ({kept}) AS kept "
            f"FROM (SELECT {staged} FROM read_parquet('{src}/{t}.parquet'))"
        )
    out = {}
    for t in SOURCE:
        rows, quar = db.execute(f"SELECT count(*) FILTER (WHERE kept), sum(n_bad) FROM {t}").fetchone()
        viol = 0
        if t in FKS and (t, FKS[t][0]) != CMC:
            col, parent, pcol = FKS[t]
            (viol,) = db.execute(
                f"SELECT count(*) FROM {t} c WHERE c.kept AND NOT EXISTS "
                f"(SELECT 1 FROM {parent} p WHERE p.kept AND p.{pcol} = c.{col})"
            ).fetchone()
        out[t] = [rows, int(quar), viol]
    child, col = CMC
    _, parent, pcol = FKS[child]
    (created,) = db.execute(
        f"SELECT count(DISTINCT {col}) FROM {child} c WHERE c.kept AND NOT EXISTS "
        f"(SELECT 1 FROM {parent} p WHERE p.kept AND p.{pcol} = c.{col})"
    ).fetchone()
    out[parent][0] += created
    return {t: tuple(v) for t, v in out.items()}


def counts(report) -> dict[str, tuple[int, int, int]]:
    assert not report.errors
    return {
        t: (r.rows_applied, r.rows_quarantined, r.fk_violations)
        for t, r in report.tables.items()
    }


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def _last_execution(spark) -> int:
    """Id of the newest SQL execution in Spark's SQL status store."""
    store = _sql_store(spark)
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _executions_after(spark, last: int) -> dict[int, str]:
    """Execution id -> physical plan text, for executions after ``last``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # the store fills asynchronously
    store, out = _sql_store(spark), {}
    while not (e := store.execution(last + 1)).isEmpty():
        last += 1
        out[last] = e.get().physicalPlanDescription()
    return out


def _final_plan_tree(plan: str) -> list[tuple[str, list[str], list[str]]]:
    """(operator, ancestors, descendants) for each node of an adaptive
    plan's final tree, parsed from its indented text."""
    text = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    nodes: list[tuple[int, str]] = []
    for line in text.split("\n\n")[0].splitlines()[1:]:
        m = re.match(r"^([ :]*(?:[+:]- )?)(?:\* )?(\w+)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
    out = []
    for i, (depth, name) in enumerate(nodes):
        ancestors, d = [], depth
        for pd, pn in reversed(nodes[:i]):
            if pd < d:
                ancestors.append(pn)
                d = pd
        descendants = []
        for cd, cn in nodes[i + 1:]:
            if cd <= depth:
                break
            descendants.append(cn)
        out.append((name, ancestors, descendants))
    return out


def assert_metrics_in_result_stage(plans: dict[int, str], n_writes: int) -> None:
    """Observed metrics are accumulators: Spark merges a result task's
    update once, but a shuffle-map task's again whenever its stage
    re-runs.  So every CollectMetrics must sit above the last shuffle
    (the pivot's) and below none, in the write's result stage."""
    writes = [p for p in plans.values() if "CollectMetrics" in p]
    assert len(writes) == n_writes
    for plan in writes:
        metrics = [n for n in _final_plan_tree(plan) if n[0] == "CollectMetrics"]
        assert metrics, plan
        for _, ancestors, descendants in metrics:
            assert "Exchange" in descendants, plan
            assert not [a for a in ancestors if "Exchange" in a or a.endswith("ShuffleRead")
                        or a in ("ShuffleQueryStage", "BroadcastQueryStage")], plan


def test_counts_match_independent_oracle_plain(spark, package, tmp_path):
    src, pkg = package
    target = str(tmp_path / "t")
    schemas = {t: _schema(t) for t in SOURCE}
    last = _last_execution(spark)
    report = run_import(spark, pkg, target, schemas, _spec(), expected_package_code="ONEPASS")
    plans = _executions_after(spark, last)
    want = oracle(src)
    assert counts(report) == want
    # the fixture is built to exercise every case
    assert want["customer"][1:] == (12, 3)
    assert want["customer"][0] < len(SOURCE["customer"]["c_custkey"])  # a record with no valid cell
    assert want["nation"][0] > len(SOURCE["nation"]["n_nationkey"])  # codes created
    for t, r in report.tables.items():
        assert pq.read_table(os.path.join(target, t)).num_rows == r.rows_applied, t

    # deterministic counter: one SQL execution per table (its target
    # write) plus one per parent that create-missing-codes appends to
    assert len(plans) == len(SOURCE) + 1, sorted(plans)

    assert_metrics_in_result_stage(plans, len(SOURCE) + 1)


def test_counts_match_independent_oracle_acid_table(spark, package, tmp_path):
    """acid=True on one table, first import then re-import, applied
    directly: the re-import ranks records by PK before it writes, and
    the all-invalid record (NULL key) must neither displace a valid one
    nor escape the counts."""
    src, pkg = package
    _, staged = import_package_to_staging(spark, pkg, workdir=str(tmp_path))
    want = oracle(src)
    nation_keys = spark.createDataFrame(
        [(int(k),) for k in SOURCE["nation"]["n_nationkey"]], "n_nationkey bigint"
    )
    args = (spark, staged["customer"], _schema("customer"), "customer", str(tmp_path), _spec())
    first = apply_staged_table(*args, parents={"nation": nation_keys}, acid=True)
    assert (first.rows_applied, first.rows_quarantined, first.fk_violations) == want["customer"]
    last = _last_execution(spark)
    again = apply_staged_table(*args, parents={"nation": nation_keys}, acid=True)
    assert (again.rows_applied, again.rows_quarantined, again.fk_violations) == want["customer"]
    plans = _executions_after(spark, last)
    assert_metrics_in_result_stage(plans, 1)
    assert "Window" in next(p for p in plans.values() if "CollectMetrics" in p)
    assert AcidTable(spark, first.target_path).latest_version() == 1


@pytest.mark.slow  # two acid imports of three tables: ~21 s on a 4-core host
def test_counts_match_independent_oracle_acid_import_and_reimport(spark, package, tmp_path):
    src, pkg = package
    target = str(tmp_path / "acid")
    schemas = {t: _schema(t) for t in SOURCE}
    want = oracle(src)
    first = run_import(spark, pkg, target, schemas, _spec(), expected_package_code="ONEPASS", acid=True)
    assert counts(first) == want
    again = run_import(spark, pkg, target, schemas, _spec(), expected_package_code="ONEPASS", acid=True)
    assert counts(again) == want


def test_counts_match_independent_oracle_skip_validation(spark, package, tmp_path):
    src, pkg = package
    skip = frozenset({"customer"})
    schemas = {t: _schema(t) for t in SOURCE}
    report = run_import(
        spark, pkg, str(tmp_path / "s"), schemas, _spec(skip), expected_package_code="ONEPASS"
    )
    want = oracle(src, skip)
    assert counts(report) == want
    assert want["customer"][:2] == (len(SOURCE["customer"]["c_custkey"]), 0)


class _Boom:
    """A progress reporter that fails once the package is decompressed."""

    def on_package_start(self, code, n_tables):
        raise RuntimeError("reporter failed")


def test_package_temp_dir_removed_after_return_and_raise(spark, package, tmp_path, monkeypatch):
    _, pkg = package
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    schemas = {"nation": _schema("nation")}
    report = run_import(spark, pkg, str(tmp_path / "ok"), schemas, _spec())
    assert report.tables["nation"].rows_applied == len(SOURCE["nation"]["n_nationkey"])
    assert os.listdir(tmp) == []
    with pytest.raises(RuntimeError, match="reporter failed"):
        run_import(spark, pkg, str(tmp_path / "boom"), schemas, _spec(), reporter=_Boom())
    assert os.listdir(tmp) == []
