"""Independent correctness oracle: a sequential fold of seed state plus the
committed envelopes, written without any engine code.

It decodes the wire images itself (base64 Decimal, Date, Timestamp,
MicroTime, ZonedTimestamp, boolean, quote-stripped strings) and applies the
streaming pipeline's documented semantics (``operators/apply.py``, upsert
mode): classification by before/after nullness, the latest event per key
wins, insert and update write the after image, delete removes the row.
Malformed envelopes and tombstones are dropped, ``source.query`` events are
passthrough (not applied), schema-topic events only change the schema.
Replica and oracle are compared with DuckDB by an order-independent
checksum and an exact multiset difference.
"""

from __future__ import annotations

import base64
import json
import re
from datetime import date, datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from perfbench.gen import (
    BASE_COLUMNS, DATE, DECIMAL, MICROTIME, SERVER, TIMESTAMP, ZONEDTS, Batch, Column,
)

EPOCH = datetime(1970, 1, 1)
ZONED_GATE = re.compile(r"((19|20)\d\d)-(0?[1-9]|1[012])-(0?[1-9]|[12][0-9]|3[01])")
TZ_HOURS = 7
PAYLOAD = b',"payload":'


def arrow_type(c: Column) -> pa.DataType:
    if c.logical == DECIMAL:
        return pa.float64()
    if c.logical == DATE:
        return pa.date32()
    if c.logical in (TIMESTAMP, ZONEDTS):
        return pa.timestamp("us")
    if c.wire == "boolean":
        return pa.int32()
    if c.wire.startswith("int") and c.logical is None:
        return pa.int64()
    return pa.string()


def decode_value(c: Column, raw):
    if raw is None:
        return None
    if c.logical == DECIMAL:
        return float(int.from_bytes(base64.b64decode(raw), "big", signed=True)) / 10.0 ** c.scale
    if c.logical == DATE:
        return date(1970, 1, 1) + timedelta(days=int(raw))
    if c.logical == TIMESTAMP:
        return EPOCH + timedelta(milliseconds=int(raw))
    if c.logical == MICROTIME:
        s = int(raw) // 1_000_000
        return f"{s // 3600}:{(s // 60) % 60}:{s % 60}"
    if c.logical == ZONEDTS:
        text = raw.replace("T", " ").replace("Z", "") if ZONED_GATE.search(raw) else raw
        return datetime.fromisoformat(text) + timedelta(hours=TZ_HOURS)
    if c.wire == "boolean":
        return 1 if raw is True or str(raw).lower() == "true" else 0
    if c.wire.startswith("int"):
        return int(raw)
    return str(raw).replace("'", "")


class Oracle:
    """Fold of one workload's committed batches over its seed state."""

    def __init__(self, seed_tables: dict[str, pa.Table]):
        self.seed = seed_tables
        self.columns = {t: list(BASE_COLUMNS) for t in seed_tables}
        self.latest: dict[str, dict[int, tuple[dict, int] | None]] = {t: {} for t in seed_tables}
        self.events_per_key: dict[str, dict[int, int]] = {t: {} for t in seed_tables}
        self.planned: dict[str, int] = {}
        self.events = 0

    def apply(self, batch: Batch) -> None:
        """Fold one committed batch: its schema changes first (the pipeline
        applies DDL before DML), then its row events in order."""
        self.events += len(batch.values)
        for kind, n in batch.planned.items():
            self.planned[kind] = self.planned.get(kind, 0) + n
        for table, col in batch.added:
            self.columns[table].append(col)
        for topic, value in zip(batch.topics, batch.values):
            if topic == SERVER or not value:
                continue
            # the Connect schema block is fixed per table version; parse the
            # payload object only
            start = value.find(PAYLOAD)
            try:
                payload = json.loads(value[start + len(PAYLOAD):-1]) if start >= 0 else None
            except ValueError:
                continue  # E4: malformed envelope dropped
            if not isinstance(payload, dict) or len((payload.get("source") or {}).get("query") or "") > 5:
                continue  # P7 passthrough is recorded, never applied
            table = payload["source"]["table"]
            before, after = payload.get("before"), payload.get("after")
            if table not in self.latest or (before is None and after is None):
                continue
            key = int((after or before)["id"])
            # decoded in expected(), against the columns this image was
            # written under
            self.latest[table][key] = None if after is None else (after, len(self.columns[table]))
            per_key = self.events_per_key[table]
            per_key[key] = per_key.get(key, 0) + 1

    def expected(self, table: str) -> pa.Table:
        cols = self.columns[table]
        schema = pa.schema([(c.name, arrow_type(c)) for c in cols])
        latest = self.latest[table]
        seed = self.seed[table]
        keep = pc.invert(pc.is_in(seed["id"], pa.array(list(latest), pa.int64())))
        kept = seed.filter(keep)
        kept = pa.table(
            [kept[c.name] if c.name in kept.column_names else pa.nulls(len(kept), schema.field(c.name).type)
             for c in cols],
            schema=schema,
        )
        images = [v for v in latest.values() if v is not None]
        written = pa.table(
            [
                pa.array(
                    [decode_value(c, img.get(c.name)) if i < width else None for img, width in images],
                    schema.field(i).type,
                )
                for i, c in enumerate(cols)
            ],
            schema=schema,
        )
        return pa.concat_tables([kept, written])


def canonical(table: pa.Table) -> pa.Table:
    """Replica rows in the oracle's types: timestamps naive UTC, columns by name."""
    arrays, names = [], []
    for name in sorted(table.column_names):
        a = table[name]
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us"))
        arrays.append(a)
        names.append(name)
    return pa.table(arrays, names=names)


def checksum(table: pa.Table) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes)."""
    t = canonical(table)
    cols = ", ".join(f'"{c}"' for c in t.column_names)
    con = duckdb.connect()
    try:
        con.register("t", t)
        n, s = con.execute(f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM t").fetchone()
    finally:
        con.close()
    return int(n), int(s)


def mismatched_keys(expected: pa.Table, replica: pa.Table) -> list[int]:
    """Keys whose rows differ between the two tables (multiset difference),
    or every key when the column sets or types differ."""
    e, r = canonical(expected), canonical(replica)
    if e.schema != r.schema:
        return sorted(set(e["id"].to_pylist()) | set(r["id"].to_pylist()))
    cols = ", ".join(f'"{c}"' for c in e.column_names)
    con = duckdb.connect()
    try:
        con.register("e", e)
        con.register("r", r)
        rows = con.execute(
            f"SELECT id FROM (SELECT {cols} FROM e EXCEPT ALL SELECT {cols} FROM r) "
            f"UNION SELECT id FROM (SELECT {cols} FROM r EXCEPT ALL SELECT {cols} FROM e)"
        ).fetchall()
    finally:
        con.close()
    return sorted(int(k) for (k,) in rows)


def failed_events(oracle: Oracle, table: str, keys: list[int]) -> int:
    """Events whose final outcome disagrees: every event on a mismatched key
    (a seed row that no event touched counts as one)."""
    per_key = oracle.events_per_key[table]
    return sum(max(1, per_key.get(k, 0)) for k in keys)
