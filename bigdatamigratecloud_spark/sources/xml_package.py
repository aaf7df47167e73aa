"""XML package source/sink (S2/S3/S4/S9/S11): the reference's `.rapidstart`
gzipped-XML migration package, re-expressed Spark-first.

Reference shape (ExportPackageXMLDocument, Codeunit 60000:305-359;
ImportPackageXMLDocument, 60000:419-530):

    <DataList PackageCode=".." PackageName=".." LanguageID=".."
              ProductVersion=".." ProcessingOrder=".." ExcludeConfigTables="..">
      <CustomerList TableName="customer" ProcessingOrder="..">
        <Customer>
          <c_custkey PrimaryKey="1">1</c_custkey>   (attrs on FIRST record only,
          <c_name>...</c_name>                       "ExportMetadata" XML:192,227)
        </Customer>
        ...
      </CustomerList>
    </DataList>

compressed with gzip (ServersideCompress XML:296, 1103-1122).

Spark-first split of responsibilities:
- **row serialization is distributed**: each record becomes one XML string
  via pure Catalyst expressions (concat of escaped, typed-formatted field
  elements — FormatFieldValue semantics, XML:826-862); executors never see
  a DOM;
- **single-file mode** streams the collected record strings through one
  gzip writer on the driver (the package is a client-download artifact in
  the reference — inherently single-stream; memory stays bounded via
  toLocalIterator);
- **sharded mode** (the 100 TB path) writes each table's records with
  `df.write.text(..., compression="gzip")` — fully parallel, splittable
  by file, one directory per table + a small JSON manifest standing in
  for the <DataList> attributes;
- **import** decompresses (driver, streaming), then hands each table
  section to Spark's native XML source (`spark.read.format("xml")` with
  per-table rowTag) for distributed parsing; included fields are inferred
  from the first record node exactly like FillPackageMetadataFromXML
  (XML:670-702).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import tempfile
import xml.etree.ElementTree as ET
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..functions.scalars import sanitize_xml_name, suppress_zero_fk, xsd_type
from ..operators.staging import quoted_col, serialize_cell, wide_to_staging
from ..plans.spec import FieldSpec, PackageSpec, TableSpec


def _xml_escape(col):
    # & first, then entities (so the entity ampersands are not re-escaped);
    # newlines become character references because a record string must
    # stay ONE physical line — the sharded path writes one record per text
    # line, and a raw \n would split the record into two unparseable
    # fragments that silently stage as all-NULL rows
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    out = F.replace(out, F.lit("\r"), F.lit("&#13;"))
    out = F.replace(out, F.lit("\n"), F.lit("&#10;"))
    return out


def _attr_escape(s: str) -> str:
    """Python-side escape for attribute values written via f-strings
    (header/table attrs): a package named 'Q&A' must not emit a malformed
    PackageName attribute."""
    return (
        str(s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("\r", "&#13;")
        .replace("\n", "&#10;")
    )


def record_xml_col(df: DataFrame, table_spec: TableSpec, record_tag: str, fk_cols: set[str] | None = None):
    """One Catalyst expression producing the full `<Record>...</Record>`
    string for each row — the distributed analogue of CreateRecordNodes
    (XML:158-251).  Nulls render as empty elements (NAV has no NULL)."""
    fk_cols = fk_cols or set()
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    parts = [F.lit(f"<{record_tag}>")]
    for name in table_spec.included_fields():
        el = sanitize_xml_name(name)
        col = quoted_col(name)  # dot-safe: F.col('No.') parses the dot
        if name in fk_cols:
            col = suppress_zero_fk(col)  # P4, XML:831-834
        val = serialize_cell(col, dtypes[name])
        val = F.coalesce(_xml_escape(val), F.lit(""))
        parts.append(F.concat(F.lit(f"<{el}>"), val, F.lit(f"</{el}>")))
    parts.append(F.lit(f"</{record_tag}>"))
    return F.concat(*parts)


@dataclass
class _TableNames:
    table: str
    record_tag: str
    list_tag: str


def _names(table_name: str) -> _TableNames:
    base = sanitize_xml_name(table_name).capitalize()
    return _TableNames(table_name, base, base + "List")


def _names_for(ts: TableSpec) -> _TableNames:
    """Record/list tags for a table, dodging the record tag when a FIELD
    element would collide with it (XML rowTag splitters do not handle
    same-name nesting): table 'currency' with a field literally named
    'Currency' gets record tag 'CurrencyRecord'.  The import side never
    assumes the tag — peek_package/manifest read it from the artifact."""
    nm = _names(ts.table_name)
    field_els = {sanitize_xml_name(f) for f in ts.included_fields()}
    while nm.record_tag in field_els:
        nm.record_tag += "Record"
    return nm


def _field_metadata_attrs(ts: TableSpec, field_name: str) -> str:
    """PrimaryKey / ValidateField / CreateMissingCodes attributes, emitted
    on the first record only (ExportMetadata flag, XML:192, 215-216)."""
    attrs = []
    for f in ts.fields:
        if f.field_name == field_name:
            if f.primary_key:
                attrs.append('PrimaryKey="1"')
            if f.validate and not f.primary_key:
                attrs.append('ValidateField="1"')
            if f.create_missing_codes:
                attrs.append('CreateMissingCodes="1"')
    # element names are sanitized (XML can't carry 'No.'); the ORIGINAL
    # field name rides an attribute on the first record so the import
    # side can stage/validate/pivot under the real schema name
    if sanitize_xml_name(field_name) != field_name:
        attrs.append(f'FieldName="{_attr_escape(field_name)}"')
    return (" " + " ".join(attrs)) if attrs else ""


def export_package_xml(
    spark: SparkSession,
    spec: PackageSpec,
    sf_dir: str,
    out_path: str,
    fk_map: dict[str, set[str]] | None = None,
) -> None:
    """Single-file gzipped XML package (ExportPackageXML, XML:267-302).

    Row serialization is distributed; the driver only streams finished
    strings into one gzip file.  Use export_package_sharded at scale.
    """
    from ..operators.navfilter import nav_filter

    fk_map = fk_map or {}
    with gzip.open(out_path, "wt", encoding="utf-8") as out:
        out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
        out.write(
            f'<DataList PackageCode="{_attr_escape(spec.package_code)}" '
            f'PackageName="{_attr_escape(spec.package_name)}" '
            f'LanguageID="{spec.language_id}" ProductVersion="{_attr_escape(spec.product_version)}" '
            f'ProcessingOrder="{spec.processing_order}" '
            f'ExcludeConfigTables="{1 if spec.exclude_config_tables else 0}">'
        )
        for ts in spec.tables:
            nm = _names_for(ts)
            df = load_table(spark, sf_dir, ts.table_name)
            for fld, expr in ts.filters.items():  # P2 pushdown, XML:141-156
                df = df.filter(nav_filter(fld, expr))
            df = df.select(*[quoted_col(c) for c in df.columns if c in set(ts.included_fields())])
            out.write(f'<{nm.list_tag} TableName="{_attr_escape(ts.table_name)}" ProcessingOrder="{ts.processing_order}">')
            xml_col = record_xml_col(df, ts, nm.record_tag, fk_map.get(ts.table_name))
            first = True
            for row in df.select(xml_col.alias("x")).toLocalIterator():
                rec = row.x
                if first:
                    # inject metadata attrs into the first record's fields;
                    # search AFTER the opening record tag so a field element
                    # spelled like the record tag can't hijack the injection
                    head = f"<{nm.record_tag}>"
                    body = rec[len(head):] if rec.startswith(head) else rec
                    for fname in ts.included_fields():
                        el = sanitize_xml_name(fname)
                        attrs = _field_metadata_attrs(ts, fname)
                        if attrs:
                            body = body.replace(f"<{el}>", f"<{el}{attrs}>", 1)
                    rec = (head + body) if rec.startswith(head) else body
                    first = False
                out.write(rec)
            if first:
                # empty table: template record of empty fields (XML:229-250),
                # marked template="1" so import drops it instead of staging
                # a phantom all-null row
                tmpl = "".join(
                    f"<{sanitize_xml_name(f)}{_field_metadata_attrs(ts, f)}/>" for f in ts.included_fields()
                )
                out.write(f'<{nm.record_tag} template="1">{tmpl}</{nm.record_tag}>')
            out.write(f"</{nm.list_tag}>")
        out.write("</DataList>")


def export_package_sharded(
    spark: SparkSession,
    spec: PackageSpec,
    sf_dir: str,
    out_dir: str,
    fk_map: dict[str, set[str]] | None = None,
) -> None:
    """Scale path: one gzip-compressed text directory per table (fully
    parallel write), plus manifest.json carrying the <DataList> and
    per-table attributes + field metadata."""
    from ..operators.navfilter import nav_filter

    fk_map = fk_map or {}
    os.makedirs(out_dir, exist_ok=True)
    manifest = {
        "package_code": spec.package_code,
        "package_name": spec.package_name,
        "language_id": spec.language_id,
        "product_version": spec.product_version,
        "processing_order": spec.processing_order,
        "exclude_config_tables": spec.exclude_config_tables,
        "tables": [],
    }
    for ts in spec.tables:
        nm = _names_for(ts)
        df = load_table(spark, sf_dir, ts.table_name)
        for fld, expr in ts.filters.items():
            df = df.filter(nav_filter(fld, expr))
        xml_col = record_xml_col(df, ts, nm.record_tag, fk_map.get(ts.table_name))
        (
            df.select(xml_col.alias("value"))
            .write.mode("overwrite")
            .option("compression", "gzip")
            .text(os.path.join(out_dir, ts.table_name))
        )
        manifest["tables"].append(
            {
                "table_name": ts.table_name,
                "record_tag": nm.record_tag,
                "processing_order": ts.processing_order,
                "fields": [vars(f) for f in ts.fields],
            }
        )
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)


def import_sharded_to_staging(
    spark: SparkSession, package_dir: str, expected_package_code: str | None = None
) -> tuple[dict, dict[str, DataFrame]]:
    """Distributed import of a SHARDED package (the 100 TB read path,
    inverse of export_package_sharded): the manifest carries the header +
    field metadata, each table is a gzip text directory of one
    `<Record>...</Record>` string per line, parsed JVM-side with
    ``from_xml`` — no driver-side XML pass at all, unlike the single-file
    path whose header peek streams the file once.

    Returns (manifest dict, {table_name: staging DataFrame}) with the
    same staging contract as import_package_to_staging."""
    with open(os.path.join(package_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    if (
        expected_package_code is not None
        and manifest["package_code"] != expected_package_code
    ):
        raise ValueError(
            f"package code mismatch: manifest has {manifest['package_code']!r}, "
            f"expected {expected_package_code!r}"
        )
    out: dict[str, DataFrame] = {}
    for t in manifest["tables"]:
        ts = TableSpec(
            table_name=t["table_name"],
            processing_order=t.get("processing_order", 0),
            fields=[FieldSpec(**f) for f in t.get("fields", [])],
        )
        fields = ts.included_fields()
        sanitized = [sanitize_xml_name(f) for f in fields]
        lines = spark.read.text(os.path.join(package_dir, ts.table_name))
        schema_str = ", ".join(f"`{s}` string" for s in sanitized)
        wide = lines.select(F.from_xml(F.col("value"), schema_str).alias("r")).select(
            *[F.col(f"r.`{s}`").alias(orig) for s, orig in zip(sanitized, fields)]
        )
        out[ts.table_name] = wide_to_staging(
            wide, manifest["package_code"], ts.table_name, fields
        )
    return manifest, out


# ---------------------------------------------------------------------------
# import
# ---------------------------------------------------------------------------

@dataclass
class PackageHeader:
    package_code: str
    package_name: str
    language_id: int
    product_version: str
    processing_order: int
    exclude_config_tables: bool
    tables: list[dict]  # [{table_name, record_tag, list_tag, fields: [...]}]


def peek_package(path: str) -> PackageHeader:
    """Stream-parse just enough of the package to learn the header attrs,
    table list, and each table's included fields + metadata attrs from its
    FIRST record node (FillPackageMetadataFromXML, XML:590-704) — without
    materializing a DOM."""
    tables: list[dict] = []
    header: dict | None = None
    with gzip.open(path, "rb") as fh:
        current: dict | None = None
        in_first_record = False
        depth = 0
        for event, el in ET.iterparse(fh, events=("start", "end")):
            if event == "start":
                depth += 1
                if depth == 1:
                    if el.tag != "DataList":
                        raise ValueError(f"not a package file: root <{el.tag}>")
                    header = dict(el.attrib)
                elif depth == 2:
                    current = {
                        "list_tag": el.tag,
                        "record_tag": None,
                        "table_name": el.attrib.get("TableName", el.tag.removesuffix("List").lower()),
                        "processing_order": int(el.attrib.get("ProcessingOrder", "0")),
                        "fields": [],
                    }
                    in_first_record = False
                elif depth == 3 and current is not None and current["record_tag"] is None:
                    current["record_tag"] = el.tag
                    in_first_record = True
                elif depth == 4 and in_first_record and current is not None:
                    current["fields"].append(
                        {
                            # element tags are sanitized; FieldName carries
                            # the original schema name when they differ
                            "field_name": el.attrib.get("FieldName", el.tag),
                            "element": el.tag,
                            "primary_key": el.attrib.get("PrimaryKey") == "1",
                            "validate": el.attrib.get("ValidateField") == "1",
                            "create_missing_codes": el.attrib.get("CreateMissingCodes") == "1",
                        }
                    )
            else:
                if depth == 3 and in_first_record:
                    in_first_record = False  # first record finished
                if depth == 2 and current is not None:
                    tables.append(current)
                    current = None
                depth -= 1
                el.clear()
    if header is None:
        raise ValueError("empty package")
    return PackageHeader(
        package_code=header.get("PackageCode", ""),
        package_name=header.get("PackageName", ""),
        language_id=int(header.get("LanguageID", "0")),
        product_version=header.get("ProductVersion", ""),
        processing_order=int(header.get("ProcessingOrder", "0")),
        exclude_config_tables=header.get("ExcludeConfigTables") == "1",
        tables=tables,
    )


def read_package_table(
    spark: SparkSession,
    path: str,
    record_tag: str,
    field_names: list[str],
    elements: list[str] | None = None,
) -> DataFrame:
    """Distributed parse of one table's records from the (decompressed)
    package via Spark's native XML source — all columns read as strings
    (typed parse happens in the validation stage, EvaluateValue XML:777).

    ``elements`` are the XML element tags to read when they differ from
    the target field names (sanitization); columns come back under
    ``field_names``.  The empty-table template record (record-tag
    attribute template="1") is dropped here — it carries field METADATA,
    not data, and would otherwise stage a phantom all-null row."""
    elements = elements or field_names
    schema = T.StructType(
        [T.StructField(e, T.StringType(), True) for e in elements]
        + [T.StructField("_template", T.StringType(), True)]
    )
    wide = (
        spark.read.format("xml")
        .option("rowTag", record_tag)
        .schema(schema)
        .load(path)
    )
    return wide.filter(F.col("_template").isNull()).select(
        *[F.col(f"`{e}`").alias(f) for e, f in zip(elements, field_names)]
    )


def decompress_package(path: str, workdir: str | None = None) -> str:
    """gzip -> plain XML temp file (DecompressPackage, XML:1103-1108).
    Returns the XML path."""
    workdir = workdir or tempfile.mkdtemp(prefix="bdmc_pkg_")
    out = os.path.join(workdir, os.path.basename(path).removesuffix(".gz") + ".xml")
    with gzip.open(path, "rb") as src, open(out, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return out


def import_package_to_staging(
    spark: SparkSession,
    path: str,
    expected_package_code: str | None = None,
    workdir: str | None = None,
) -> tuple[PackageHeader, dict[str, DataFrame]]:
    """Package file -> {table_name: long staging DataFrame} (§3.1 up to the
    EAV fill).  Enforces the package-code check (XML:410-413: mismatched
    code is a hard error).  Values stay raw strings; validation/typing is
    the caller's next stage.

    The staging frames read the XML that :func:`decompress_package`
    writes into ``workdir`` (default: a fresh ``bdmc_pkg_*`` temp dir).
    A caller that passes ``workdir`` owns it and may remove it once no
    frame built from the package will run again."""
    header = peek_package(path)
    if expected_package_code is not None and header.package_code != expected_package_code:
        raise ValueError(
            f"package code mismatch: file has {header.package_code!r}, expected {expected_package_code!r}"
        )
    xml_path = decompress_package(path, workdir)
    out: dict[str, DataFrame] = {}
    for t in header.tables:
        fields = [f["field_name"] for f in t["fields"]]
        elements = [f.get("element", f["field_name"]) for f in t["fields"]]
        wide = read_package_table(spark, xml_path, t["record_tag"], fields, elements)
        out[t["table_name"]] = wide_to_staging(
            wide, header.package_code, t["table_name"], fields
        )
    return header, out


def xsd_schema_for(df: DataFrame) -> dict[str, str]:
    """Field -> XSD type map (GetXSDType, XML:1030-1051) — export metadata
    for schema-mapped consumers (the Excel bridge reuses this)."""
    return {f.name: xsd_type(f.dataType.simpleString()) for f in df.schema.fields}
