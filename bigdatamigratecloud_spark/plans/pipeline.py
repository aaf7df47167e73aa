"""Migration pipeline orchestration — the reference's import lifecycle
(ImportPackageXMLDocument, Codeunit 60000:419-530) as a Spark job graph:

    package file -> staging (per table) -> ONE write per table that
       validates, pivots, probes FKs and counts as it goes
       -> create-missing-codes appends to parents,
       tables in dependency order, independent tables in parallel driver
       threads with a barrier before the next dependency rank
       (WaitForAllToFinish, XML:521-522).

Like ApplyConfigTables (XML:527), which records cell errors while it
evaluates them (EvaluateValue/FieldError, XML:774-785), each table is one
pass: the target write is the only action, and quarantined cells, rows
applied and FK violations are ``DataFrame.observe`` metrics of that
write.  Nothing is persisted and nothing is re-read to count it.

The reference's background-session fan-out (XML:482-493) maps to Spark's
own executor parallelism *within* a table plus driver-thread concurrency
*across* independent tables (Spark's scheduler interleaves their stages).
"""

from __future__ import annotations

import os
import tempfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import FOREIGN_KEYS, PRIMARY_KEYS
from ..operators.staging import ERROR_CELLS, VALID_CELLS, pivot_from_staging, quoted_col
from ..operators.upsert import apply_to_target, fk_markers, missing_codes
from ..operators.validation import validate_staging
from ..sources.acid_table import AcidTable
from .spec import PackageSpec
from .toposort import toposort_tables


@dataclass
class TableResult:
    table_name: str
    rows_applied: int
    rows_quarantined: int
    fk_violations: int
    target_path: str
    # create-missing-codes requests discovered while applying this table:
    # [(parent_table, parent_col, child_col)] — resolved by the
    # orchestrator AFTER the rank barrier (single-threaded), so concurrent
    # same-rank children can't race on a shared parent, and the new parent
    # rows are persisted to the parent's target (XML:112-113 inserts into
    # the real target table, not a transient frame).  The child keys are
    # read from this table's written target.
    missing_code_requests: list = field(default_factory=list)


@dataclass
class MigrationReport:
    package_code: str
    order: list[list[str]] = field(default_factory=list)  # dependency ranks
    tables: dict[str, TableResult] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)  # table -> error record (XML:543-547)


def dependency_ranks(tables: list[str], priority: dict[str, int] | None = None) -> list[list[str]]:
    """Kahn ranks over the catalog FK graph: tables in the same rank have
    no dependency between them and can run concurrently; a barrier sits
    between ranks (X2)."""
    edges = []
    tset = set(tables)
    for child, fks in FOREIGN_KEYS.items():
        if child not in tset:
            continue
        for _, parent, _ in fks:
            if parent in tset:
                edges.append((parent, child))
    ordered = toposort_tables(tables, edges, priority)
    # assign ranks: a table's rank = 1 + max(rank of parents in set)
    rank: dict[str, int] = {}
    for t in ordered:
        parents = [p for (p, c) in edges if c == t]
        rank[t] = 1 + max((rank[p] for p in parents), default=-1)
    out: list[list[str]] = []
    for t in ordered:
        while len(out) <= rank[t]:
            out.append([])
        out[rank[t]].append(t)
    return out


def apply_staged_table(
    spark: SparkSession,
    staging: DataFrame,
    schema: T.StructType,
    table_name: str,
    target_dir: str,
    spec: PackageSpec | None = None,
    parents: dict[str, DataFrame] | None = None,
    skip_validation: bool = False,
    acid: bool = False,
) -> TableResult:
    """Validate, pivot, FK-probe and write one staged table; the target
    write is the only Spark action.  Mirrors ApplyConfigTables (XML:527)
    + validation (XML:774-785).

    One plan feeds the write: validate_staging sets each cell's error,
    the pivot masks error cells and counts them per record, every
    probed parent's key set is left-joined on (fk_markers), and records
    without a valid cell are dropped.  Quarantined cells, rows applied
    and FK violations are observed on that plan while it is written.

    ``parents`` maps already-applied tables to their targets.  An FK
    whose field carries ``create_missing_codes`` is not probed; it comes
    back as a request that run_import resolves after the rank barrier.

    ``acid=True`` lands the table as an :class:`AcidTable` instead of
    plain parquet: first import creates version 0, a RE-import REPLACES
    the table contents as one atomic commit — the same X5
    delete-before-processing contents the plain-parquet path produces
    (a row removed from a re-imported package is removed from the
    target), but readers of the previous version are never torn, which
    is the isolation the reference inherits from SQL Server and plain
    parquet overwrite cannot give.  Incremental upsert-only loads (keep
    rows absent from the delta) are :meth:`AcidTable.merge`, outside
    the package-re-import path.  The counts come from the table's first
    action on the frame, so they assume a target without CHECK
    constraints or identity columns, whose write-time probes would run
    first."""
    ts = None
    if spec is not None:
        try:
            ts = spec.table(table_name)
        except KeyError:
            ts = None
    validate = not (skip_validation or (ts is not None and ts.skip_validation))  # X6, XML:83-87
    if validate:
        staging = validate_staging(staging, schema, max_len=None)
    wide = pivot_from_staging(staging, schema, keep_counts=True)

    parents = parents or {}
    cmc = {f.field_name for f in ts.fields if f.create_missing_codes} if ts is not None else set()
    mc_requests: list = []
    probe_fks: list = []
    for child_col, parent_table, parent_col in FOREIGN_KEYS.get(table_name, []):
        if parent_table not in parents:
            continue
        if child_col in cmc:
            # J5 action (XML:112-113, 690-692): resolved after the barrier
            mc_requests.append((parent_table, parent_col, child_col))
        else:
            probe_fks.append((child_col, parents[parent_table], parent_col))
    wide, markers = fk_markers(wide, probe_fks, table_name)

    path = os.path.join(target_dir, table_name)
    pk = list(PRIMARY_KEYS.get(table_name, ())) or None
    has_cell = F.col(VALID_CELLS) > 0
    kept = has_cell
    reimport = acid and AcidTable(spark, path).latest_version() is not None
    if reimport and pk:
        # catalog PKs are not guaranteed unique in the wild (TPC-H
        # test lineitem is not), so apply the reference's
        # replace-matching-rows rule within the package: one row per PK
        # (A7), a record with a valid cell ranked first.  Ranking keeps
        # every record up to the observation below, so the counts still
        # see all of them.
        by_pk = Window.partitionBy(*[quoted_col(c) for c in pk]).orderBy(has_cell.desc())
        wide = wide.withColumn("__pk_rank", F.row_number().over(by_pk))
        kept = kept & (F.col("__pk_rank") == 1)
    # The counts are accumulators merged as the write's tasks finish.
    # Spark merges a RESULT task's update once per partition, but merges
    # a shuffle-map task's update again whenever its stage re-runs — so
    # the observation must sit above the plan's last Exchange (the
    # pivot's, or the PK ranking's), in the write's result stage.
    counts = Observation()
    wide = wide.observe(
        counts,
        F.sum(ERROR_CELLS).alias("quarantined"),
        F.count(F.when(kept, F.lit(1))).alias("rows"),
        *[
            F.count(F.when(has_cell & F.col(m).isNull(), F.lit(1))).alias(m)
            for _, m in markers
        ],
    )
    out = wide.filter(kept).select(*[quoted_col(f.name) for f in schema.fields])
    if not acid:
        # X5: Delete Recs Before Processing parity
        apply_to_target(out, path, mode="overwrite", pk_cols=pk)
    elif reimport:
        # atomic REPLACE, not MERGE: X5 parity with the plain path — rows
        # absent from the re-imported package must not survive in the target
        AcidTable(spark, path).overwrite(out)
    else:
        AcidTable.create(spark, path, out, key_cols=pk or [])
    seen = counts.get
    return TableResult(
        table_name,
        seen["rows"],
        (seen["quarantined"] or 0) if validate else 0,
        sum(seen[m] for _, m in markers),
        path,
        mc_requests,
    )


def run_import(
    spark: SparkSession,
    package_path: str,
    target_dir: str,
    schemas: dict[str, T.StructType],
    spec: PackageSpec | None = None,
    expected_package_code: str | None = None,
    max_workers: int = 4,
    reporter=None,
    acid: bool = False,
) -> MigrationReport:
    """Full §3.1: package -> staging -> per-rank parallel apply with
    barriers.  Unknown tables become error records, not exceptions
    (TableObjectExists guard, XML:543-547, 1095-1100).  `reporter` (a
    plans.progress.ProgressReporter or duck-typed equivalent) observes
    per-table milestones — X3, the ConfigProgressBar analogue.

    Spark work: one SQL execution per applied table (its target write),
    plus one append per parent that create-missing-codes extends.  The
    decompressed package lives in a ``bdmc_pkg_*`` temp dir owned here
    and removed before returning or raising: every frame the report
    holds reads a written target, never the package."""
    from ..sources.xml_package import import_package_to_staging

    with tempfile.TemporaryDirectory(prefix="bdmc_pkg_") as workdir:
        header, staged = import_package_to_staging(
            spark, package_path, expected_package_code, workdir
        )
        report = MigrationReport(package_code=header.package_code)

        known = {t: s for t, s in staged.items() if t in schemas}
        for t in staged:
            if t not in schemas:
                report.errors[t] = f"table {t!r} does not exist in the target catalog"

        if reporter is not None:
            reporter.on_package_start(header.package_code, len(known))
        ranks = dependency_ranks(list(known))
        report.order = ranks
        applied: dict[str, DataFrame] = {}
        for rank_no, rank_tables in enumerate(ranks):
            def run_one(t: str) -> TableResult | None:
                if reporter is not None:
                    reporter.on_table_start(t, rank_no)
                try:
                    res = apply_staged_table(
                        spark, known[t], schemas[t], t, target_dir, spec,
                        parents=applied, acid=acid,
                    )
                except Exception as e:  # noqa: BLE001
                    # one failing table becomes an error RECORD, not an
                    # aborted import (XML:543-547) — siblings and later
                    # ranks continue
                    report.errors[t] = f"apply failed: {e}"
                    return None
                if reporter is not None:
                    reporter.on_table_finish(t, res.rows_applied)
                return res

            with ThreadPoolExecutor(max_workers=max_workers) as ex:  # X1 fan-out
                results = [r for r in ex.map(run_one, rank_tables) if r is not None]
            # barrier (X2): rank fully applied before children start
            for r in results:
                report.tables[r.table_name] = r
                applied[r.table_name] = _read_target(spark, r.target_path, acid)
            # resolve create-missing-codes AFTER the barrier,
            # single-threaded: same-rank children that add codes to one
            # parent key share one append, so they cannot race, and the
            # new rows land in the parent's target (the reference inserts
            # into the real table, XML:112-113, 690-692)
            wanted: dict[tuple[str, str], DataFrame] = {}
            for r in results:
                for parent_table, parent_col, child_col in r.missing_code_requests:
                    keys = applied[r.table_name].select(quoted_col(child_col).alias(parent_col))
                    key = (parent_table, parent_col)
                    wanted[key] = wanted[key].unionByName(keys) if key in wanted else keys
            for (parent_table, parent_col), keys in wanted.items():
                parent = report.tables[parent_table]
                new_rows = missing_codes(applied[parent_table], parent_col, keys, parent_col)
                added = Observation()
                new_rows = new_rows.observe(added, F.count(F.lit(1)).alias("rows"))
                # an append leaves the parent's existing files in place,
                # so the frame may read the target it extends
                if acid:
                    AcidTable(spark, parent.target_path).append(new_rows)
                else:
                    new_rows.write.mode("append").parquet(parent.target_path)
                parent.rows_applied += added.get["rows"]
                applied[parent_table] = _read_target(spark, parent.target_path, acid)
        if reporter is not None:
            reporter.on_package_finish()
        return report


def _read_target(spark: SparkSession, path: str, acid: bool) -> DataFrame:
    return AcidTable(spark, path).snapshot() if acid else spark.read.parquet(path)
