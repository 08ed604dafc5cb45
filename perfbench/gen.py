"""Deterministic workload generator: seed state and one transport file per
planned micro-batch, all derived from ``--seed``.

Every row image is a pure function of (table salt, key, version), so a
Debezium ``before`` image is the row's previous version without keeping the
state in memory, and the seed state can be built column-at-a-time in numpy.
Transport files are written directly with pyarrow, one file per batch, each
holding exactly the planned events (no Spark repartition decides the batch
boundaries).
"""

from __future__ import annotations

import base64
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SERVER = "srv"
DB = "db0"
M64 = (1 << 64) - 1

DECIMAL = "org.apache.kafka.connect.data.Decimal"
DATE = "io.debezium.time.Date"
TIMESTAMP = "io.debezium.time.Timestamp"
MICROTIME = "io.debezium.time.MicroTime"
ZONEDTS = "io.debezium.time.ZonedTimestamp"

STATUSES = ("open", "filled", "pending", "void")
# single quotes exercise the quote-strip decoder (F7)
NOTES = ("ok", "it's late", "rush", "o'neil", "fragile", "n/a", "call 'first'", "")


@dataclass(frozen=True)
class Column:
    """One replicated column: its Debezium wire type and logical type."""

    name: str
    wire: str                  # connect primitive type
    logical: str | None = None
    scale: int = 0
    precision: int = 18


BASE_COLUMNS = (
    Column("id", "int64"),
    Column("cust", "int64"),
    Column("status", "string"),
    Column("amount", "bytes", DECIMAL, scale=2, precision=12),
    Column("odate", "int32", DATE),
    Column("updated", "int64", TIMESTAMP),
    Column("otime", "int64", MICROTIME),
    Column("zts", "string", ZONEDTS),
    Column("flag", "boolean"),
    Column("note", "string"),
)


@dataclass(frozen=True)
class Workload:
    """Fixed input size and shape of one workload; only the content depends
    on the seed."""

    name: str
    tables: tuple[str, ...]
    state_rows: int            # seed rows per table
    batch_events: int          # envelopes per transport file
    warmup_batches: int        # discarded, counted in batches
    cycle: int                 # measured windows are whole cycles
    max_batches: int           # pre-generated files (warm-up included)
    p_insert: float
    p_update: float            # the rest are deletes
    hot_keys: int = 0          # updates and deletes hit only the newest keys; 0 = all keys
    # tables each batch of a cycle touches, in this order; empty = all
    table_sets: tuple[tuple[str, ...], ...] = ()
    churn: bool = False        # one schema change per cycle, 1% each of bad inputs


WORKLOADS = {
    w.name: w
    for w in (
        Workload("backfill", ("orders", "invoices"), 60_000, 3_000, 1, 2, 7, 0.5, 0.35, churn=True),
        # Zipf-skewed traffic as an exact per-cycle quota (t0 in every batch,
        # t1 in every second), so per-cycle counts repeat
        Workload(
            "trickle", ("t0", "t1"), 20_000, 300, 3, 2, 13, 0.1, 0.8, hot_keys=2_000,
            table_sets=(("t0",), ("t0", "t1")),
        ),
    )
}


# -- row images --------------------------------------------------------------

def _smix(z: int) -> int:
    z = (z + 0x9E3779B97F4A7C15) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return z ^ (z >> 31)


def _smix_np(z: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _row_hash(salt: int, key: int, ver: int) -> int:
    return _smix(salt ^ _smix((key * 1_000_003 + ver) & M64))


def encode_decimal(unscaled: int) -> str:
    """Minimal big-endian two's-complement bytes, base64 (Connect Decimal)."""
    n = (unscaled.bit_length() + 8) // 8
    return base64.b64encode(unscaled.to_bytes(n, "big", signed=True)).decode()


_EPOCH = datetime(1970, 1, 1)


def _zoned(secs: int) -> str:
    return (_EPOCH + timedelta(seconds=secs)).isoformat() + "Z"


def row_image(salt: int, key: int, ver: int, extra: tuple[Column, ...] = ()) -> dict:
    """Wire image (JSON values as Debezium sends them) of version ``ver`` of
    row ``key``."""
    h = _row_hash(salt, key, ver)
    img = {
        "id": key,
        "cust": h % 50_000,
        "status": STATUSES[(h >> 16) % 4],
        "amount": encode_decimal((h >> 20) % 20_000_000 - 2_000_000),
        "odate": 17_000 + (h >> 28) % 4_000,
        "updated": 1_500_000_000_000 + (h >> 8) % 200_000_000_000,
        "otime": (h >> 12) % 86_400_000_000,
        "zts": _zoned(1_500_000_000 + (h >> 4) % 200_000_000),
        "flag": bool((h >> 44) & 1),
        "note": NOTES[(h >> 50) % len(NOTES)],
    }
    for i, c in enumerate(extra):
        v = _smix(h + i + 1)
        img[c.name] = f"v{v % 100_000}" if c.wire == "string" else v % 1_000_000_007
    return img


def seed_state(salt: int, rows: int) -> pa.Table:
    """Version 0 of keys ``0..rows-1`` in decoded (replica) types, vectorized;
    equals ``oracle.decode_image(row_image(salt, k, 0))`` row by row."""
    keys = np.arange(rows, dtype=np.uint64)
    with np.errstate(over="ignore"):
        inner = _smix_np(keys * np.uint64(1_000_003))
    h = _smix_np(np.uint64(salt) ^ inner)
    sh = lambda n: h >> np.uint64(n)  # noqa: E731
    unscaled = (sh(20) % np.uint64(20_000_000)).astype(np.int64) - 2_000_000
    days = (sh(28) % np.uint64(4_000)).astype(np.int64) + 17_000
    ms = (sh(8) % np.uint64(200_000_000_000)).astype(np.int64) + 1_500_000_000_000
    us = (sh(12) % np.uint64(86_400_000_000)).astype(np.int64)
    zsecs = (sh(4) % np.uint64(200_000_000)).astype(np.int64) + 1_500_000_000 + 7 * 3600
    total = us // 1_000_000
    otime = [f"{a}:{b}:{c}" for a, b, c in zip(total // 3600, (total // 60) % 60, total % 60)]
    notes = np.array([n.replace("'", "") for n in NOTES], dtype=object)
    return pa.table(
        {
            "id": pa.array(keys.astype(np.int64)),
            "cust": pa.array((h % np.uint64(50_000)).astype(np.int64)),
            "status": pa.array(np.array(STATUSES, dtype=object)[(sh(16) % np.uint64(4)).astype(np.int64)]),
            "amount": pa.array(unscaled.astype(np.float64) / 100.0),
            "odate": pa.array(days.astype("datetime64[D]")),
            "updated": pa.array(ms.astype("datetime64[ms]").astype("datetime64[us]")),
            "otime": pa.array(otime, pa.string()),
            "zts": pa.array(zsecs.astype("datetime64[s]").astype("datetime64[us]")),
            "flag": pa.array(((sh(44)) & np.uint64(1)).astype(np.int32)),
            "note": pa.array(notes[(sh(50) % np.uint64(len(NOTES))).astype(np.int64)]),
        }
    )


def table_salt(seed: int, table: str) -> int:
    return _smix(seed ^ _smix(int.from_bytes(table.encode()[:8].ljust(8, b"\0"), "little")))


# -- envelopes ---------------------------------------------------------------

def connect_schema(columns: tuple[Column, ...]) -> str:
    """The self-describing Connect schema block Debezium prepends (JSON)."""
    def fld(c: Column) -> dict:
        d = {"type": c.wire, "optional": c.name != "id", "field": c.name}
        if c.logical:
            d["name"] = c.logical
        if c.logical == DECIMAL:
            d["parameters"] = {"scale": str(c.scale), "connect.decimal.precision": str(c.precision)}
        return d

    row = [fld(c) for c in columns]
    block = {
        "type": "struct",
        "fields": [
            {"type": "struct", "optional": True, "field": "before", "fields": row},
            {"type": "struct", "optional": True, "field": "after", "fields": row},
        ],
    }
    return json.dumps(block, separators=(",", ":"))


def dml_value(table: str, schema_json: str, before, after, pos: int, query: str | None = None) -> bytes:
    op = "c" if before is None else ("d" if after is None else "u")
    source = {"name": SERVER, "db": DB, "table": table, "pos": pos, "row": 0}
    if query is not None:
        source["query"] = query
    payload = {"before": before, "after": after, "source": source, "op": op,
               "ts_ms": 1_700_000_000_000 + pos}
    return f'{{"schema":{schema_json},"payload":{json.dumps(payload)}}}'.encode()


def ddl_value(table: str, ddl: str, pos: int) -> bytes:
    return json.dumps(
        {
            "payload": {
                "source": {"name": SERVER, "db": DB, "table": table, "pos": pos},
                "databaseName": DB,
                "ddl": ddl,
            }
        },
        separators=(",", ":"),
    ).encode()


# -- plan --------------------------------------------------------------------

@dataclass
class Batch:
    """One transport file: its envelopes plus what the oracle must expect."""

    topics: list[str] = field(default_factory=list)
    values: list[bytes] = field(default_factory=list)
    added: list[tuple[str, Column]] = field(default_factory=list)  # (table, column) added by DDL
    planned: dict[str, int] = field(default_factory=dict)     # counts by kind

    def add(self, topic: str, value: bytes, kind: str) -> None:
        self.topics.append(topic)
        self.values.append(value)
        self.planned[kind] = self.planned.get(kind, 0) + 1


class _Keys:
    """Live/dead key sets of one table with O(1) random choice."""

    def __init__(self, live: list[int], next_key: int):
        self.live = live
        self.pos = {k: i for i, k in enumerate(live)}
        self.dead: list[int] = []
        self.ver: dict[int, int] = {}
        self.next_key = next_key

    def pick(self, rng: random.Random) -> int:
        return self.live[rng.randrange(len(self.live))]

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i
        self.dead.append(k)

    def add(self, k: int) -> None:
        self.pos[k] = len(self.live)
        self.live.append(k)


class Plan:
    """Seed state and planned batches of one (workload, seed)."""

    def __init__(self, workload: Workload, seed: int):
        self.w = workload
        self.seed = seed
        self.rng = random.Random(seed * 7919 + len(workload.name))
        self.salt = {t: table_salt(seed, t) for t in workload.tables}
        self.columns = {t: BASE_COLUMNS for t in workload.tables}
        self.pos = 0
        first_live = workload.state_rows - workload.hot_keys if workload.hot_keys else 0
        self.keys = {t: _Keys(list(range(first_live, workload.state_rows)), workload.state_rows) for t in workload.tables}
        self._schema_json = {t: connect_schema(BASE_COLUMNS) for t in workload.tables}
        self._ddl_cycle = 0

    def seed_table(self, table: str) -> pa.Table:
        return seed_state(self.salt[table], self.w.state_rows)

    def topic(self, table: str) -> str:
        return f"{SERVER}.{DB}.{table}"

    def _next_pos(self) -> int:
        self.pos += 1
        return self.pos

    def _dml(self, b: Batch, table: str, op: str) -> None:
        ks, salt, cols = self.keys[table], self.salt[table], self.columns[table][len(BASE_COLUMNS):]
        if op == "insert":
            if ks.dead and self.w.hot_keys:  # re-insert inside the hot range
                k = ks.dead.pop(self.rng.randrange(len(ks.dead)))
            else:
                k = ks.next_key
                ks.next_key += 1
            ver = ks.ver.get(k, -1) + 1
            before, after = None, row_image(salt, k, ver, cols)
            ks.add(k)
        else:
            k = ks.pick(self.rng)
            ver = ks.ver.get(k, 0)
            before = row_image(salt, k, ver, cols)
            if op == "update":
                ver += 1
                after = row_image(salt, k, ver, cols)
            else:
                after = None
                ks.remove(k)
        ks.ver[k] = ver
        b.add(self.topic(table), dml_value(table, self._schema_json[table], before, after, self._next_pos()), op)

    def _mix(self, b: Batch, tables: tuple[str, ...], n: int) -> None:
        for i in range(n):
            r = self.rng.random()
            op = "insert" if r < self.w.p_insert else ("update" if r < self.w.p_insert + self.w.p_update else "delete")
            self._dml(b, tables[i % len(tables)], op)

    def next_batch(self, index: int) -> Batch:
        b = Batch()
        w = self.w
        tables = w.tables
        if w.table_sets:
            tables = w.table_sets[index % w.cycle]
        if w.churn:
            if index % w.cycle == 0:
                self._churn_ddl(b)
            self._bad_inputs(b, w.batch_events // 100)
        self._mix(b, tables, w.batch_events - len(b.values))
        return b

    def _bad_inputs(self, b: Batch, n: int) -> None:
        for i in range(n):
            t = self.w.tables[i % len(self.w.tables)]
            b.add(self.topic(t), b'{"schema":{"type":"struct"},"payload":{"before":', "malformed")  # E4
            b.add(self.topic(t), b"", "tombstone")  # S7
            k = self.keys[t].pick(self.rng)
            img = row_image(self.salt[t], k, 1_000_000 + self._next_pos(), self.columns[t][len(BASE_COLUMNS):])
            value = dml_value(
                t, self._schema_json[t], img, img, self.pos,
                query=f"UPDATE {t} SET note='x' WHERE id={k}",
            )
            b.add(self.topic(t), value, "passthrough")  # P7

    def _churn_ddl(self, b: Batch) -> None:
        """Every schema-change batch carries the same statement mix: an ADD
        COLUMN and a MODIFY widening it (applied), an ADD INDEX (skipped as
        unsupported), an empty DDL (dead-lettered) and two blocklisted ones."""
        c = self._ddl_cycle
        self._ddl_cycle += 1
        t = self.w.tables[c % len(self.w.tables)]
        qualified = f"`{DB}`.`{t}`"
        if c % 2 == 0:
            col, add_type, modify_type = Column(f"s{c}", "string"), "VARCHAR(16) NULL", "VARCHAR(64)"
        else:
            col, add_type, modify_type = Column(f"n{c}", "int64"), "INT(11) DEFAULT NULL", "BIGINT(20)"
        stmts = [
            (f"ALTER TABLE {qualified} ADD COLUMN `{col.name}` {add_type}", "ddl_applied"),
            (f"ALTER TABLE {qualified} MODIFY COLUMN `{col.name}` {modify_type}", "ddl_applied"),
            (f"ALTER TABLE {qualified} ADD INDEX `idx_cust_{c}` (`cust`)", "ddl_skipped"),
            ("", "dead_letter"),                                  # P6 empty DDL
            (f"CREATE DATABASE `scratch_{c}`", "ddl_blocked"),     # P5 blocklist
            (f"DROP TABLE {qualified}", "ddl_blocked"),            # P5 without reclaim
        ]
        for sql, kind in stmts:
            b.add(SERVER, ddl_value(t, sql, self._next_pos()), kind)
        self.columns[t] = self.columns[t] + (col,)
        self._schema_json[t] = connect_schema(self.columns[t])
        b.added.append((t, col))


TRANSPORT_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("value", pa.binary()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


def write_batch(batch: Batch, path: str, index: int) -> None:
    n = len(batch.values)
    ts = np.full(n, 1_700_000_000_000_000 + index * 1_000_000, dtype=np.int64)
    table = pa.table(
        [
            pa.array(batch.topics, pa.string()),
            pa.array(batch.values, pa.binary()),
            pa.nulls(n, TRANSPORT_SCHEMA.field("headers").type),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=TRANSPORT_SCHEMA,
    )
    pq.write_table(table, path)


def generate(workload: Workload, seed: int, out_dir: str) -> tuple[Plan, list[Batch]]:
    """Write ``seed/<table>.parquet`` and ``pending/batch-NNNNN.parquet``
    under ``out_dir``; return the plan and its batches."""
    plan = Plan(workload, seed)
    os.makedirs(f"{out_dir}/seed", exist_ok=True)
    os.makedirs(f"{out_dir}/pending", exist_ok=True)
    for t in workload.tables:
        pq.write_table(plan.seed_table(t), f"{out_dir}/seed/{t}.parquet")
    out = []
    for i in range(workload.max_batches):
        b = plan.next_batch(i)
        write_batch(b, batch_path(out_dir, i), i)
        out.append(b)
    return plan, out


def batch_path(out_dir: str, index: int) -> str:
    return f"{out_dir}/pending/batch-{index:05d}.parquet"
