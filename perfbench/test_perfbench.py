"""Checks of the benchmark's own generator and oracle (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import filecmp
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc
import pytest

from perfbench import gen, oracle

SMALL = {
    name: dataclasses.replace(w, state_rows=400, batch_events=300, max_batches=4, hot_keys=min(w.hot_keys, 100))
    for name, w in gen.WORKLOADS.items()
}


def _fold(workload, seed, out_dir):
    plan, batches = gen.generate(workload, seed, str(out_dir))
    orc = oracle.Oracle({t: plan.seed_table(t) for t in workload.tables})
    for b in batches:
        orc.apply(b)
    return orc


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_files_and_checksum(tmp_path, name):
    w = SMALL[name]
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    orc_a, orc_b, orc_c = _fold(w, 5, a), _fold(w, 5, b), _fold(w, 6, c)
    files = _files(a)
    assert files == _files(b) and len(files) == len(w.tables) + w.max_batches
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    assert [oracle.checksum(orc_a.expected(t)) for t in w.tables] == [
        oracle.checksum(orc_b.expected(t)) for t in w.tables
    ]
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert set(differ) == set(files)
    assert oracle.checksum(orc_a.expected(w.tables[0])) != oracle.checksum(orc_c.expected(w.tables[0]))


def test_one_file_per_batch_with_planned_events(tmp_path):
    w = SMALL["backfill"]
    _, batches = gen.generate(w, 3, str(tmp_path))
    for i, b in enumerate(batches):
        t = pq.read_table(gen.batch_path(str(tmp_path), i))
        assert t.num_rows == len(b.values) == w.batch_events
        assert sum(b.planned.values()) == w.batch_events


def test_perturbed_replica_fails_the_check(tmp_path):
    w = SMALL["backfill"]
    orc = _fold(w, 9, tmp_path)
    table = w.tables[0]
    expected = orc.expected(table)
    replica = expected.take(pa.array(range(len(expected) - 1, -1, -1)))  # any row order
    assert oracle.mismatched_keys(expected, replica) == []
    assert oracle.checksum(expected) == oracle.checksum(replica)

    key = expected["id"][7].as_py()
    changed = replica.set_column(
        replica.schema.get_field_index("cust"), "cust",
        pc.if_else(pc.equal(replica["id"], key), pa.scalar(-1, pa.int64()), replica["cust"]),
    )
    assert oracle.mismatched_keys(expected, changed) == [key]
    assert oracle.checksum(expected) != oracle.checksum(changed)
    assert oracle.failed_events(orc, table, [key]) >= 1

    dropped = replica.filter(pc.not_equal(replica["id"], key))
    assert oracle.mismatched_keys(expected, dropped) == [key]
    assert oracle.checksum(expected) != oracle.checksum(dropped)

    # an evolved column missing from the replica fails every key
    assert len(oracle.mismatched_keys(expected, replica.drop_columns([expected.column_names[-1]]))) == len(expected)


def test_seed_state_is_version_zero_of_the_wire_images():
    salt = gen.table_salt(4, "t0")
    seed = gen.seed_state(salt, 64)
    for k in range(64):
        img = gen.row_image(salt, k, 0)
        assert tuple(oracle.decode_value(c, img[c.name]) for c in gen.BASE_COLUMNS) == tuple(
            seed[c.name][k].as_py() for c in gen.BASE_COLUMNS
        )


def test_benchmark_json_names_what_run_prints():
    import json

    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.RESULT_E2E)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.UNITS
    assert [w["name"] for w in bench["workloads"]] == sorted(gen.WORKLOADS)
    setup = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup == max(m["bound"] for m in bench["end_to_end"])
