"""Seeded input generators for the benchmark's workloads.

Everything here is pure Python (numpy + pyarrow): the program under test
never sees the seed, only the parquet files written from it.  The same
seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Migration source sizes (rows).  Spark's per-job overhead dominates at
# this size, so a bigger package mostly lengthens the run, not the signal.
MIGRATE_ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 200, "part": 2000, "orders": 15000}
DIRTY_RATE = 0.01  # unparseable cells per row, in each dirty column
ORPHAN_RATE = 0.005  # dangling foreign keys per child row
ACID_ROWS = 15000
ACID_DELTA_ROWS = 150  # ~1% of the table per merge
ACID_UPDATE_FRAC = 0.8
ACID_RECENT_WINDOW = 3000  # updates draw from the newest keys
DOC_BASE = 150
DOC_REPLICAS = 4

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
BAD_DECIMALS = ["N/A", "TBD", "1O.5", "12.3.4"]
BAD_DATES = ["unknown", "n.d.", "31/12/97", "1997-13-01x"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query fast the"
).split()
EPOCH = dt.date(1992, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding one input never shifts another."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


def _money(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """2-dp amounts as the doubles nearest their decimal text."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _dates(rng: np.random.Generator, n: int) -> list[dt.date]:
    return [EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, 2400, n)]


def _choice(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def canon(v):
    """One text form per value, shared by every side of a comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (Decimal, dt.date)):
        return str(v)
    if isinstance(v, np.generic):
        return canon(v.item())
    return v


def content_hash(rows) -> str:
    """Order-independent digest of a multiset of rows."""
    lines = sorted(repr(tuple(canon(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def table_rows(table: pa.Table) -> list[tuple]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols))


# --------------------------------------------------------------- migration


@dataclass
class MigrationInputs:
    tables: dict[str, pa.Table]
    expected: dict[str, list[tuple]]  # target rows after a correct import
    dirty_cells: int
    fk_orphans: int  # dangling keys on FKs that are reported, not repaired
    created_codes: list[int]  # parent keys create-missing-codes must add
    cmc_fk: tuple[str, str] = ("supplier", "s_nationkey")


def migration_inputs(seed: int) -> MigrationInputs:
    rng = _rng(seed, "migrate")
    n = MIGRATE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(n["region"]), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array(rng.integers(0, n["region"], n["nation"]), pa.int32()),
    })

    def orphans(count: int, first_bad: int, values: np.ndarray) -> int:
        k = max(1, round(ORPHAN_RATE * count))
        rows = rng.choice(count, k, replace=False)
        values[rows] = first_bad + np.arange(k)
        return k

    c_nation = rng.integers(0, n["nation"], n["customer"])
    cust_orphans = orphans(n["customer"], n["nation"] + 10, c_nation)
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(c_nation, pa.int32()),
        "c_acctbal": _money(rng, n["customer"], -999, 9999),
        "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
    })
    s_nation = rng.integers(0, n["nation"], n["supplier"])
    supp_orphans = orphans(n["supplier"], n["nation"] + 40, s_nation)
    created = sorted({int(v) for v in s_nation if v >= n["nation"]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(s_nation, pa.int32()),
        "s_acctbal": _money(rng, n["supplier"], -999, 9999),
    })
    assert supp_orphans == len(created)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, WORDS, n["part"]), _choice(rng, WORDS, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 6, n["part"])],
        "p_type": _choice(rng, ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": _money(rng, n["part"], 900, 2000),
    })

    no = n["orders"]
    o_cust = rng.integers(0, n["customer"], no)
    order_orphans = orphans(no, n["customer"] + 1000, o_cust)
    cents = rng.integers(100_000, 50_000_000, no)
    price_text = [f"{c // 100}.{c % 100:02d}" for c in cents]
    dates = _dates(rng, no)
    date_text = [d.isoformat() for d in dates]
    k_dirty = round(DIRTY_RATE * no)
    bad_price = rng.choice(no, k_dirty, replace=False)
    bad_date = rng.choice(no, k_dirty, replace=False)
    for i in bad_price:
        price_text[i] = BAD_DECIMALS[i % len(BAD_DECIMALS)]
    for i in bad_date:
        date_text[i] = BAD_DATES[i % len(BAD_DATES)]
    status = _choice(rng, STATUSES, no)
    prio = _choice(rng, PRIORITIES, no)
    # the two dirty columns travel as text; the target schema types them
    # decimal(12,2) and date, so validation must quarantine the bad cells
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": status,
        "o_totalprice": price_text,
        "o_orderdate": date_text,
        "o_orderpriority": prio,
    })

    expected = {name: table_rows(tab) for name, tab in t.items() if name != "orders"}
    expected["nation"] += [(k, None, None) for k in created]
    bp, bd = set(bad_price.tolist()), set(bad_date.tolist())
    expected["orders"] = [
        (
            i, int(o_cust[i]), status[i],
            None if i in bp else Decimal(price_text[i]),
            None if i in bd else dates[i],
            prio[i],
        )
        for i in range(no)
    ]
    return MigrationInputs(
        tables=t,
        expected=expected,
        dirty_cells=2 * k_dirty,
        fk_orphans=cust_orphans + order_orphans,
        created_codes=created,
    )


# -------------------------------------------------------------------- ACID


@dataclass
class AcidStep:
    delta: pa.Table
    lookups: list[list[int]]
    scan: tuple[int, int]
    delete: list[int] = field(default_factory=list)
    compact: bool = False


def acid_base(seed: int) -> pa.Table:
    rng = _rng(seed, "acid-base")
    return _orders_rows(rng, np.arange(ACID_ROWS))


def _orders_rows(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "o_orderstatus": _choice(rng, STATUSES, n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": pa.array(_dates(rng, n), pa.date32()),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })


def acid_log(seed: int, steps: int, compact_every: int, delete_every: int) -> list[AcidStep]:
    """Seeded op log: each step merges ~1% of the table (80% updates skewed
    to the newest keys, 20% inserts of new keys), then runs two point
    lookups and one range scan; every ``delete_every``-th step (step 0
    first) deletes a few keys and every ``compact_every``-th compacts."""
    rng = _rng(seed, "acid-log")
    next_key = ACID_ROWS
    out = []
    for s in range(steps):
        n_upd = round(ACID_UPDATE_FRAC * ACID_DELTA_ROWS)
        lo = max(0, next_key - ACID_RECENT_WINDOW)
        upd = rng.choice(np.arange(lo, next_key), n_upd, replace=False)
        ins = np.arange(next_key, next_key + ACID_DELTA_ROWS - n_upd)
        next_key += len(ins)
        delta = _orders_rows(rng, np.sort(np.concatenate([upd, ins])))
        lookups = [
            sorted(set(rng.integers(0, next_key, 3).tolist()) | set(rng.integers(lo, next_key, 2).tolist()))
            for _ in range(2)
        ]
        a = int(rng.integers(0, next_key - 200))
        step = AcidStep(delta=delta, lookups=lookups, scan=(a, a + 150))
        if s % delete_every == 0:
            step.delete = sorted(rng.choice(next_key, 5, replace=False).tolist())
        step.compact = s % compact_every == 0
        out.append(step)
    return out


# ---------------------------------------------------------------- documents


def documents(seed: int) -> pa.Table:
    """Base corpus x DOC_REPLICAS, replicas made near-duplicates the way
    bench_scale.py makes them: ids offset past the id space, text given a
    per-replica suffix."""
    rng = _rng(seed, "docs")
    base_len = rng.integers(10, 100, DOC_BASE)
    texts = [" ".join(_choice(rng, WORDS, int(k))) for k in base_len]
    langs = _choice(rng, ["en", "de", "fr", "es", "zh"], DOC_BASE)
    sources = [f"src{i % 20}" for i in range(DOC_BASE)]
    span = 10 ** len(str(DOC_BASE * DOC_REPLICAS))
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for r in range(DOC_REPLICAS):
        for i in range(DOC_BASE):
            text = f"{texts[i]} r{r}"
            cols["doc_id"].append(i + r * span)
            cols["text"].append(text)
            cols["lang"].append(langs[i])
            cols["source"].append(sources[i])
            cols["n_chars"].append(len(texts[i]))
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": cols["text"],
        "lang": cols["lang"],
        "source": cols["source"],
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })


def write_table(table: pa.Table, data_dir: str, name: str) -> str:
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path
