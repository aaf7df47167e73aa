"""The benchmark's workloads.  Each is one client in a closed loop: it calls
the package's public functions and starts the next call only when the
previous one has returned.  A *cycle* is the unit the loop repeats;
``main_op`` and ``second_op`` name the two calls whose latencies are the
workload's headline figures.

Every check runs outside the timed region.  A timed call that raises, or
whose output fails its check, counts as a failed op.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import duckdb
import pyarrow.parquet as pq

import inputs as gen

PKG_CODE = "BENCH"


class Ops:
    """Latency samples of the timed calls, plus attempted/failed counts."""

    def __init__(self, on_boundary=None):
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.recording = False  # off during warm-up: its calls are discarded
        self.busy_s = 0.0  # timed seconds since the last reset
        self.on_boundary = on_boundary

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        except Exception as e:
            self.fail(f"{name} raised {e!r}", attempted=True)
            e.perfbench_counted = True
            raise
        dt = time.perf_counter() - t0
        self.busy_s += dt
        if self.recording:
            self.attempted += 1
            self.samples.setdefault(name, []).append(dt)
        if self.on_boundary is not None:
            self.on_boundary()

    def fail(self, problem: str, attempted: bool = False) -> None:
        """Record a failed op.  ``attempted``: the op was not counted yet
        (it raised); a warm-up op is only counted when it fails."""
        self.problems.append(problem[:400])
        self.failed += 1
        self.attempted += attempted or not self.recording

    def fail_uncounted(self, e: Exception, tb: str) -> None:
        """A cycle aborted: count it unless a timed op already did."""
        if not getattr(e, "perfbench_counted", False):
            self.fail(tb[-400:], attempted=True)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A whole-run check: one attempted op of its own."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}"[:400])


def spark_type(arrow_type):
    import pyarrow as pa
    from pyspark.sql import types as T

    return {
        pa.int32(): T.IntegerType(), pa.int64(): T.LongType(), pa.float64(): T.DoubleType(),
        pa.string(): T.StringType(), pa.date32(): T.DateType(),
    }[arrow_type]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# per-layer counters the workloads measure themselves; a workload that
# does not reach a layer reports 0 for it
OWN_LAYER_METRICS = (
    "validation.cells_checked", "validation.cells_quarantined", "acid_table.files_live",
    "acid_table.lookup_files_read_frac", "acid_table.scan_files_read_frac", "dedup.candidate_yield",
)


class Workload:
    name = ""
    main_op = ""  # the calls whose median latencies are main_op_s and second_op_s
    second_op = ""
    delta_rows = 0  # rows per ACID merge, for write amplification
    imports = 0  # run_import calls, warm-up included

    def __init__(self, spark, data_dir: str, work_dir: str, ops: Ops, inputs, expected):
        self.spark, self.data, self.work, self.ops, self.inputs, self.expected = (
            spark, data_dir, work_dir, ops, inputs, expected,
        )

    @staticmethod
    def oracle(inputs):
        """What correct outputs look like, computed without Spark (it runs
        while the session starts)."""
        return None

    def start(self) -> None:
        """Spark-side load before the warm-up cycle."""

    def warmup(self) -> None:
        """Load, then one cycle whose samples are discarded (JIT, codegen)."""
        self.start()
        self.cycle(0)

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Whole-run checks after the last cycle."""

    def report(self) -> dict[str, list[float]]:
        """The workload's own end-to-end samples, by metric name."""
        return {}

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        """Per-layer counters the workload measures itself, given the
        tracer's per-layer figures."""
        return {}


# ----------------------------------------------------------- migration


class MigratePackage(Workload):
    """Export region..orders as one XML package, import it with run_import."""

    name = "migrate_package"
    main_op = "import"
    second_op = "export"

    @staticmethod
    def generate(seed: int, data_dir: str) -> gen.MigrationInputs:
        inp = gen.migration_inputs(seed)
        for name, table in inp.tables.items():
            gen.write_table(table, data_dir, name)
        return inp

    @staticmethod
    def oracle(inputs: gen.MigrationInputs) -> dict[str, str]:
        return {name: gen.content_hash(rows) for name, rows in inputs.expected.items()}

    def start(self) -> None:
        from pyspark.sql import types as T

        from bigdatamigratecloud_spark.catalog import PRIMARY_KEYS
        from bigdatamigratecloud_spark.plans.spec import FieldSpec, PackageSpec, TableSpec

        inp = self.inputs
        typed = {"o_totalprice": T.DecimalType(12, 2), "o_orderdate": T.DateType()}
        self.schemas = {
            name: T.StructType([
                T.StructField(f.name, typed.get(f.name) or spark_type(f.type), True) for f in table.schema
            ])
            for name, table in inp.tables.items()
        }
        self.spec = PackageSpec(PKG_CODE, package_name=self.name, tables=[
            TableSpec(name, i, fields=[
                FieldSpec(
                    c, primary_key=c in PRIMARY_KEYS[name], processing_order=j,
                    create_missing_codes=(name, c) == inp.cmc_fk,
                )
                for j, c in enumerate(table.column_names)
            ])
            for i, (name, table) in enumerate(inp.tables.items())
        ])
        self.rows = sum(t.num_rows for t in inp.tables.values())
        self.cells = sum(t.num_rows * t.num_columns for t in inp.tables.values())
        self.quarantined: list[int] = []
        self.rows_per_s: list[float] = []
        self.last_report = None

    def cycle(self, i: int) -> None:
        from bigdatamigratecloud_spark.plans.pipeline import run_import
        from bigdatamigratecloud_spark.sources.xml_package import export_package_xml

        pkg = os.path.join(self.work, f"pkg-{i}.rapidstart")
        target = os.path.join(self.work, f"target-{i}")
        t0 = time.perf_counter()
        with self.ops.timed("export"):
            export_package_xml(self.spark, self.spec, self.data, pkg)
        with self.ops.timed("import"):
            report = run_import(
                self.spark, pkg, target, self.schemas, spec=self.spec,
                expected_package_code=PKG_CODE,
            )
        wall = time.perf_counter() - t0
        self.imports += 1
        problems = self.verify(report, target)
        if problems:
            self.ops.fail(f"import {i}: " + "; ".join(problems))
        if self.ops.recording:
            self.rows_per_s.append(self.rows / wall)
            self.quarantined.append(sum(r.rows_quarantined for r in report.tables.values()))
        self.last_report = report
        shutil.rmtree(target, ignore_errors=True)
        os.remove(pkg)

    def verify(self, report, target: str) -> list[str]:
        inp = self.inputs
        out = [f"{t}: {e}" for t, e in report.errors.items()]
        for name, want in inp.expected.items():
            res = report.tables.get(name)
            if res is None:
                out.append(f"{name}: not applied")
                continue
            if res.rows_applied != len(want):
                out.append(f"{name}: {res.rows_applied} rows applied, want {len(want)}")
            got = gen.content_hash(gen.table_rows(pq.read_table(os.path.join(target, name))))
            if got != self.expected[name]:
                out.append(f"{name}: target content differs from the clean source")
        quar = sum(r.rows_quarantined for r in report.tables.values())
        if quar != inp.dirty_cells:
            out.append(f"{quar} cells quarantined, {inp.dirty_cells} injected")
        viol = sum(r.fk_violations for r in report.tables.values())
        if viol != inp.fk_orphans:
            out.append(f"{viol} FK violations, {inp.fk_orphans} orphans injected")
        return out

    def report(self) -> dict[str, list[float]]:
        return {
            "migrate.export_s": self.ops.samples.get("export", []),
            "migrate.import_s": self.ops.samples.get("import", []),
            "migrate.rows_per_s": self.rows_per_s,
        }

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        return {
            "validation.cells_checked": float(self.cells),
            "validation.cells_quarantined": float(self.quarantined[-1]) if self.quarantined else 0.0,
        }


# ---------------------------------------------------------------- ACID


class AcidUpsert(Workload):
    """A seeded merge/lookup/scan/delete/compact log against one AcidTable."""

    LOG_STEPS = 8  # a longer run replays the log again from step 0
    COMPACT_EVERY = 2  # every other step compacts (and vacuums)
    DELETE_EVERY = 2
    CHECKPOINT_INTERVAL = 4
    FILES = 8
    COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

    @classmethod
    def generate(cls, seed: int, data_dir: str):
        base = gen.write_table(gen.acid_base(seed), data_dir, "orders")
        log = gen.acid_log(seed, cls.LOG_STEPS, cls.COMPACT_EVERY, cls.DELETE_EVERY)
        for s, step in enumerate(log):
            gen.write_table(step.delta, data_dir, f"delta-{s}")
        return base, log

    @staticmethod
    def oracle(inputs):
        """The replay model: a DuckDB table the log is applied to in step."""
        model = duckdb.connect()
        model.execute("CREATE TABLE t AS SELECT * FROM read_parquet(?)", [inputs[0]])
        return model

    def start(self) -> None:
        from bigdatamigratecloud_spark.sources.acid_table import AcidTable

        base, self.log = self.inputs
        self.root = os.path.join(self.work, "acid")
        self.table = AcidTable.create(
            self.spark, self.root,
            self.spark.read.parquet(base).repartitionByRange(self.FILES, "o_orderkey"),
            key_cols=["o_orderkey"], checkpoint_interval=self.CHECKPOINT_INTERVAL,
        )
        self.model = self.expected
        self.files = {"lookup": [0, 0], "scan": [0, 0]}
        self.fresh: tuple[int, int] | None = None  # (bytes, live rows) right after a compaction
        self.space_amp = 0.0

    def _select(self, where: str, params=()) -> list[tuple]:
        cols = ", ".join(self.COLS)
        return self.model.execute(f"SELECT {cols} FROM t WHERE {where}", list(params)).fetchall()

    def _same(self, op: str, rows, want: list[tuple]) -> None:
        got = [tuple(r[c] for c in self.COLS) for r in rows]
        if gen.content_hash(got) != gen.content_hash(want):
            self.ops.fail(f"{op}: {len(got)} rows differ from the replayed log ({len(want)} rows)")

    def cycle(self, i: int) -> None:
        i %= self.LOG_STEPS
        step = self.log[i]
        t = self.table
        delta = os.path.join(self.data, f"delta-{i}.parquet")
        with self.ops.timed("merge"):
            t.merge(self.spark.read.parquet(delta), ["o_orderkey"])
        self.model.execute(
            "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet(?))", [delta]
        )
        self.model.execute("INSERT INTO t SELECT * FROM read_parquet(?)", [delta])
        for keys in step.lookups:
            with self.ops.timed("lookup"):
                df, info = t.point_lookup("o_orderkey", keys)
                rows = df.collect()
            self._same("lookup", rows, self._select(f"o_orderkey IN ({', '.join(map(str, keys))})"))
            self._count_files("lookup", info)
        lo, hi = step.scan
        with self.ops.timed("scan"):
            df, info = t.scan({"o_orderkey": (lo, hi)})
            rows = df.collect()
        self._same("scan", rows, self._select("o_orderkey BETWEEN ? AND ?", (lo, hi)))
        self._count_files("scan", info)
        if step.delete:
            pred = f"o_orderkey IN ({', '.join(map(str, step.delete))})"
            with self.ops.timed("delete"):
                t.delete(pred)
            self.model.execute(f"DELETE FROM t WHERE {pred}")
        if step.compact:
            with self.ops.timed("compact"):
                t.compact(target_files=self.FILES)
                t.vacuum(keep_last=1, retain_seconds=0)
            if self.fresh is None:
                self.fresh = (dir_bytes(self.root), self._live_rows())

    def _live_rows(self) -> int:
        return self.model.execute("SELECT count(*) FROM t").fetchone()[0]

    def _count_files(self, op: str, info: dict) -> None:
        if self.ops.recording:
            self.files[op][0] += info["files_read"]
            self.files[op][1] += info["files_total"]

    def finish(self) -> None:
        if self.fresh is not None:
            # a compacted, vacuumed table is the fresh layout; scale it to
            # today's live rows
            fresh_bytes, fresh_rows = self.fresh
            self.space_amp = dir_bytes(self.root) / (fresh_bytes * self._live_rows() / fresh_rows)
        rows = self.table.snapshot().collect()
        got = [tuple(r[c] for c in self.COLS) for r in rows]
        want = self._select("TRUE")
        self.ops.check(
            "final snapshot", gen.content_hash(got) == gen.content_hash(want),
            f"{len(got)} rows vs {len(want)} in the DuckDB replay",
        )

    def report(self) -> dict[str, list[float]]:
        s = self.ops.samples
        return {
            "acid.merge_s": s.get("merge", []),
            "acid.lookup_s": s.get("lookup", []),
            "acid.scan_s": s.get("scan", []),
            "acid.compact_s": s.get("compact", []),
            "acid.space_amp": [self.space_amp],
        }

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        def frac(op):
            read, total = self.files[op]
            return read / total if total else 0.0

        return {
            "acid_table.files_live": float(self.table.detail()["num_files"]),
            "acid_table.lookup_files_read_frac": frac("lookup"),
            "acid_table.scan_files_read_frac": frac("scan"),
        }


# ---------------------------------------------------------- corpus dedup


class CorpusDedup(Workload):
    """The registry's minhash -> LSH -> rerank -> components dedup entry."""

    QUERY = "n1_dedup_clusters_minhash"

    @staticmethod
    def generate(seed: int, data_dir: str) -> str:
        return gen.write_table(gen.documents(seed), data_dir, "documents")

    @staticmethod
    def oracle(inputs: str) -> tuple[list[str], str, int]:
        """(columns, content hash, pairs kept) of a correct answer.

        The near-duplicate pairs come from the registry's own DuckDB
        replay of the minhash -> LSH -> rerank chain (``minhash_pairs_sql``,
        the pair set inside ``ORACLES[QUERY]``).  The oracle closes them
        with a recursive CTE, which costs DuckDB ~12 CPU-seconds per run
        on a 4-core host; union-find gives the same components (min id) in ~0.1 s."""
        from bigdatamigratecloud_spark.operators.dedup import minhash_pairs_sql

        con = duckdb.connect()
        path = inputs.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        pairs = con.execute(f"SELECT id_a, id_b FROM ({minhash_pairs_sql()})").fetchall()
        ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        root = {i: i for i in ids}

        def find(x: int) -> int:
            while root[x] != x:
                root[x] = root[root[x]]
                x = root[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        rows = [(i, find(i), int(find(i) == i)) for i in ids]
        return ["doc_id", "component", "is_kept"], gen.content_hash(rows), len(pairs)

    def start(self) -> None:
        from bigdatamigratecloud_spark import queries as q

        self.queries = q.QUERIES
        self.columns, self.digest, self.pairs = self.expected
        self.docs = pq.read_metadata(self.inputs).num_rows
        self.docs_per_s: list[float] = []

    def cycle(self, i: int) -> None:
        t0 = time.perf_counter()
        with self.ops.timed("build"):
            df = self.queries[self.QUERY](self.spark, self.data)
        with self.ops.timed("execute"):
            rows = df.collect()
        if self.ops.recording:
            self.docs_per_s.append(self.docs / (time.perf_counter() - t0))
        got = gen.content_hash(tuple(r[c] for c in self.columns) for r in rows)
        if got != self.digest:
            self.ops.fail(f"{self.QUERY} cycle {i}: result differs from its DuckDB oracle")

    def report(self) -> dict[str, list[float]]:
        return {"dedup.docs_per_s": self.docs_per_s}

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        cands = layers.get("dedup.candidates", 0.0)
        return {"dedup.candidate_yield": self.pairs / cands if cands else 0.0}


class AcidDedup(Workload):
    """The two non-migration families in one session: each cycle runs one
    step of the ACID log, then one pass of the corpus dedup entry.  Their
    calls are timed and reported separately."""

    name = "acid_dedup"
    main_op = "build"
    second_op = "merge"
    delta_rows = gen.ACID_DELTA_ROWS
    QUERY = CorpusDedup.QUERY

    @staticmethod
    def generate(seed: int, data_dir: str):
        return AcidUpsert.generate(seed, data_dir), CorpusDedup.generate(seed, data_dir)

    def __init__(self, spark, data_dir, work_dir, ops, inputs, expected):
        super().__init__(spark, data_dir, work_dir, ops, inputs, expected)
        self.acid = AcidUpsert(spark, data_dir, work_dir, ops, inputs[0], expected[0])
        self.dedup = CorpusDedup(spark, data_dir, work_dir, ops, inputs[1], expected[1])

    @staticmethod
    def oracle(inputs):
        return AcidUpsert.oracle(inputs[0]), CorpusDedup.oracle(inputs[1])

    def warmup(self) -> None:
        """The two halves share no state, so they warm up side by side."""
        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(part.warmup) for part in (self.acid, self.dedup)]:
                f.result()
        self.queries = self.dedup.queries

    def cycle(self, i: int) -> None:
        self.acid.cycle(i)
        self.dedup.cycle(i)

    def finish(self) -> None:
        self.acid.finish()

    def report(self) -> dict[str, list[float]]:
        return {**self.acid.report(), **self.dedup.report()}

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        return {**self.acid.layer_extras(layers), **self.dedup.layer_extras(layers)}


WORKLOADS = {w.name: w for w in (MigratePackage, AcidDedup)}
