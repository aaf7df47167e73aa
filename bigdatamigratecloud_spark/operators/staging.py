"""Long (EAV) staging: melt wide tables to one row per (record, field), and
pivot staged data back to wide records.

This is the heart of the reference's data model: Config. Package Data
(table 8615) holds one row per (Package Code, Table ID, Record No.,
Field ID) with a Text[250] `Value` (Codeunit 60000:763-772, 1216-1218);
import melts XML records into it (`FillPackageDataFromXML`,
Codeunit 60000:706-798) and apply pivots it back into physical tables
(Codeunit 60000:527).

Scale notes (100 TB):
- melt is a narrow map (explode), no shuffle;
- pivot uses groupBy(record key) + map_from_entries(collect_list(...)),
  ONE shuffle keyed by record id, and — critically — never
  ``DataFrame.pivot()``, whose distinct-values scan on the pivot column is
  a driver-side bottleneck at scale (SURVEY §4);
- cells per record are bounded by the field count, so per-key skew is
  structurally bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Staging schema (≈ tables 8613/8614/8615 flattened):
# (package_code, table_name, record_no, field_name, value, error)
STAGING_COLS = ("package_code", "table_name", "record_no", "field_name", "value", "error")


def quoted_col(name: str) -> F.Column:
    """Column reference that treats ``name`` LITERALLY: `F.col('No.')` (and
    `df['No.']`) parse the dot as a struct accessor; backtick-quoting makes
    field names like 'No.' resolve as plain columns.  Backticks inside the
    name are escaped by doubling, per the SQL identifier rule."""
    return F.col("`" + name.replace("`", "``") + "`")


def serialize_cell(col: F.Column, data_type: T.DataType) -> F.Column:
    """Render a typed value to its canonical staging string, mirroring
    FormatFieldValue (Codeunit 60000:826-862): exact decimal text for
    numerics, ISO text for dates/timestamps, '0'/'1' for booleans
    (XML mode, Codeunit 60000:837-838)."""
    if isinstance(data_type, T.BooleanType):
        return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
            F.when(col, F.lit("1")).otherwise(F.lit("0"))
        )
    if isinstance(data_type, T.DoubleType) or isinstance(data_type, T.FloatType):
        # pin a decimal rendering so round-trips are exact for 2-dp money
        return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
            col.cast(T.DecimalType(28, 6)).cast("string")
        )
    if isinstance(data_type, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    if isinstance(data_type, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    if isinstance(data_type, T.BinaryType):
        return F.base64(col)  # BLOB -> Base64 (Codeunit 60000:1135-1142)
    return col.cast("string")


def melt_to_staging(
    df: DataFrame,
    table_name: str,
    package_code: str = "PKG",
    key_cols: tuple[str, ...] | None = None,
    include_fields: list[str] | None = None,
    record_key_col: str | None = None,
    colocate: bool = False,
) -> DataFrame:
    """Wide -> long EAV staging (A4 in SURVEY §2.4).

    record_no: composed from the key columns when given (stable across
    partitions — the reference's sequential InitPackageRecord numbering,
    Codeunit 60000:757, is replaced by a key-derived id because sequential
    counters don't distribute); else a monotonic id.  Only pass ``key_cols``
    when they are genuinely unique (the driver's synthetic lineitem is NOT
    unique on its TPC-H PK) — duplicate record ids would merge records in
    the pivot.

    ``colocate=True`` hash-partitions the WIDE rows by record id before
    the explode.  When a pivot follows (the melt->validate->pivot spine),
    its groupBy then needs NO exchange and no map-side partials — the
    alternative shuffles the exploded cell stream (≈|fields|× the row
    count, each cell paying row overhead) into mostly-singleton partial
    hash tables.  Measured 2.2× on the sf0.1 roundtrip; the advantage
    grows with field count.  Leave False when staging is the terminal
    output (export paths), where the extra shuffle buys nothing.
    """
    fields = include_fields or [f.name for f in df.schema.fields]
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    if record_key_col:
        # use a natural key column verbatim as the record id (oracle-friendly:
        # an external system can reproduce it without knowing xxhash64)
        record_no = F.col(record_key_col).cast("long")
    elif key_cols:
        record_no = F.xxhash64(*[F.col(c) for c in key_cols])
    else:
        record_no = F.monotonically_increasing_id()

    base = df.withColumn("__record_no", record_no)
    if colocate:
        base = base.repartition(F.col("__record_no"))
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("field_name"),
                serialize_cell(quoted_col(name), dtypes[name]).alias("value"),
            )
            for name in fields
        ]
    )
    return (
        base.select(
            F.lit(package_code).alias("package_code"),
            F.lit(table_name).alias("table_name"),
            F.col("__record_no").alias("record_no"),
            F.explode(pairs).alias("cell"),
        )
        .select(
            "package_code",
            "table_name",
            "record_no",
            F.col("cell.field_name").alias("field_name"),
            F.col("cell.value").alias("value"),
            F.lit(None).cast("string").alias("error"),
        )
    )


def wide_to_staging(
    wide: DataFrame, package_code: str, table_name: str, fields: list[str]
) -> DataFrame:
    """Wide string-typed rows -> the long EAV staging contract
    (STAGING_COLS).  Shared by the XML import paths (single-file and
    sharded) so the staging schema is defined in exactly one place —
    `melt_to_staging` is its typed-source twin."""
    cells = F.array(
        *[
            F.struct(F.lit(f).alias("field_name"), quoted_col(f).alias("value"))
            for f in fields
        ]
    )
    return (
        wide.withColumn("__record_no", F.monotonically_increasing_id())
        .select(
            F.lit(package_code).alias("package_code"),
            F.lit(table_name).alias("table_name"),
            F.col("__record_no").alias("record_no"),
            F.explode(cells).alias("cell"),
        )
        .select(
            "package_code",
            "table_name",
            "record_no",
            F.col("cell.field_name").alias("field_name"),
            F.col("cell.value").alias("value"),
            F.lit(None).cast("string").alias("error"),
        )
    )


# per-record cell counts that pivot_from_staging(keep_counts=True) appends
ERROR_CELLS = "__error_cells"
VALID_CELLS = "__valid_cells"


def pivot_from_staging(
    staging: DataFrame,
    schema: T.StructType,
    drop_errors: bool = True,
    keep_counts: bool = False,
) -> DataFrame:
    """Long EAV -> wide records (A5), with typed parse back per §1.2.

    ONE shuffle keyed by record id; the reshape is conditional
    aggregation — ``max(when(field_name = f, value))`` per target column —
    which benchmarked ~30% faster than map_from_entries(collect_list(...))
    and, like it, never uses ``DataFrame.pivot()`` (whose distinct-values
    driver scan is a bottleneck at 100 TB; SURVEY §4).  The field list
    comes from the target schema at plan time, so no data-dependent
    planning.

    ``drop_errors`` masks cells whose ``error`` is set out of the values
    (their field reads NULL) and drops records left with no valid cell —
    the same rows as filtering the error cells out before the shuffle.
    ``keep_counts=True`` keeps every record instead and appends two
    columns: ERROR_CELLS, the record's error-cell count, and VALID_CELLS,
    its valid-cell count.  A caller that counts quarantined cells inside
    its own write (``plans.pipeline``) drops ``VALID_CELLS = 0`` itself.
    """
    valid = F.col("error").isNull() if drop_errors else F.lit(True)
    # group-key ORDER matters for speed, not semantics: max(string)
    # forces SortAggregate (string agg buffers are not hash-mutable),
    # and the sort compares keys left to right — record_no FIRST makes
    # every comparison short-circuit on the one high-cardinality key
    # instead of equal-comparing the two constant-per-melt strings
    # (package_code, table_name) first.  Measured ~20% on the sf0.1
    # orders roundtrip; output is key-order-independent.
    cells = staging.groupBy("record_no", "package_code", "table_name").agg(
        *[
            F.max(F.when(valid & (F.col("field_name") == f.name), F.col("value"))).alias(f.name)
            for f in schema.fields
        ],
        F.count(F.when(~valid, F.lit(1))).alias(ERROR_CELLS),
        F.count(F.when(valid, F.lit(1))).alias(VALID_CELLS),
    )
    counts = [ERROR_CELLS, VALID_CELLS] if keep_counts else []
    if not keep_counts:
        cells = cells.filter(F.col(VALID_CELLS) > 0)
    return cells.select(
        *[deserialize_cell(quoted_col(f.name), f.dataType).alias(f.name) for f in schema.fields],
        *counts,
    )


def deserialize_cell(raw: F.Column, data_type: T.DataType) -> F.Column:
    """Typed parse of a staging string (EvaluateValue, Codeunit 60000:777).
    Inverse of serialize_cell.

    All parses are try_-variants: with ANSI mode on (Spark 4 default) a
    plain cast THROWS on bad input, but the reference records cell errors
    and never aborts (XML:774-785) — a bad cell that bypassed validation
    (Skip Table Triggers, X6) must degrade to NULL, not kill the job."""
    if isinstance(data_type, T.BooleanType):
        return F.when(raw == "1", F.lit(True)).when(raw == "0", F.lit(False)).otherwise(
            raw.try_cast("boolean")
        )
    if isinstance(data_type, T.BinaryType):
        return F.unbase64(raw)
    if isinstance(data_type, (T.DoubleType, T.FloatType)):
        return raw.try_cast(data_type)
    if isinstance(data_type, T.TimestampNTZType):
        # parquet ms-precision timestamps surface as NTZ in Spark 4; keep
        # the exact type so roundtrips are schema-identical (CASE guards
        # the strict parse — CaseWhen evaluates branches lazily per row).
        # try_cast FALLBACK keeps the parse domain a superset of what
        # validation accepts: a cell that passed validate_staging (lenient
        # try_cast) must never silently become NULL here — e.g.
        # '2020-05-01 12:00:00' without fractional seconds from the Excel
        # bridge or a foreign package.
        ok = F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss.SSSSSS")).isNotNull()
        return F.coalesce(
            F.when(ok, F.to_timestamp_ntz(raw, F.lit("yyyy-MM-dd HH:mm:ss.SSSSSS"))),
            raw.try_cast(data_type),
        )
    if isinstance(data_type, T.TimestampType):
        return F.coalesce(
            F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
            raw.try_cast(data_type),
        )
    if isinstance(data_type, T.DateType):
        return F.coalesce(
            F.try_to_timestamp(raw, F.lit("yyyy-MM-dd")).cast("date"),
            raw.try_cast(data_type),
        )
    return raw.try_cast(data_type)
