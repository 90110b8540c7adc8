"""KeyedTable storage-layer tests: bucket-granular MERGE rewrites and
crash-restart from a streaming checkpoint (ST9)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tv_event_streaming_spark.streaming.storage import BUCKET_COL, KeyedTable

KV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, KV_SCHEMA)


def _bucket_dirs(root: str, version: int) -> list[str]:
    vdir = os.path.join(root, "data", f"v={version}")
    if not os.path.isdir(vdir):
        return []
    return sorted(d for d in os.listdir(vdir) if d.startswith(f"{BUCKET_COL}="))


def test_single_key_upsert_rewrites_one_bucket(spark, tmp_path):
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=8)
    r0 = table.upsert(_kv(spark, [(i, f"x{i}") for i in range(64)]))
    assert r0 == {"version": 0, "inserts": 64, "modifies": 0}
    n_seeded = len(_bucket_dirs(root, 0))
    assert n_seeded > 1  # 64 keys spread over several buckets

    r1 = table.upsert(_kv(spark, [(3, "y")]))
    assert r1 == {"version": 1, "inserts": 0, "modifies": 1}
    # O(touched buckets), not O(table): exactly ONE bucket dir in v=1
    assert len(_bucket_dirs(root, 1)) == 1

    # the manifest stitches v=1's new bucket with v=0's untouched ones
    with open(os.path.join(root, "_manifests", "v=1.json")) as fh:
        manifest = json.load(fh)
    assert len(manifest) == n_seeded
    froms = {p.split(os.sep)[1] for p in manifest.values()}
    assert froms == {"v=0", "v=1"}

    # and the read is still the complete, updated table
    got = {r.k: r.v for r in table.read().collect()}
    assert len(got) == 64 and got[3] == "y" and got[5] == "x5"


def test_delete_emptying_bucket_drops_it(spark, tmp_path):
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(i, "x") for i in range(16)]))
    before = len(json.load(open(os.path.join(root, "_manifests", "v=0.json"))))
    # delete every key of one bucket (xxhash64 spread: collect them)
    rows = (
        _kv(spark, [(i, "x") for i in range(16)])
        .select("k", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int").alias("b"))
        .collect()
    )
    target = rows[0].b
    victims = [r.k for r in rows if r.b == target]
    r = table.delete(_kv(spark, [(k, "x") for k in victims]).select("k"))
    assert r["deletes"] == len(victims)
    manifest = json.load(open(os.path.join(root, "_manifests", "v=1.json")))
    assert len(manifest) == before - 1 and str(target) not in manifest
    assert table.read().count() == 16 - len(victims)


def test_crash_restart_from_checkpoint(spark, tmp_path):
    """ST9 — a query that dies AFTER applying its side-effect but BEFORE
    committing the checkpoint must, on restart, replay the batch and
    converge to exactly-once table contents (idempotent keyed MERGE)."""
    events = tmp_path / "in"
    events.mkdir()
    with open(events / "batch1.json", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"k": i, "v": f"val{i}"}) + "\n")

    table = KeyedTable(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    wire_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )

    def source():
        return spark.readStream.schema(wire_schema).json(str(events))

    def crash(batch_df, epoch_id):
        table.upsert(batch_df)  # side-effect lands...
        raise RuntimeError("simulated crash before checkpoint commit")

    q = (
        source()
        .writeStream.foreachBatch(crash)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="simulated crash|Terminated with exception"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert table.current_version() == 0  # the effect DID land pre-crash

    def ok(batch_df, epoch_id):
        table.upsert(batch_df)

    q2 = (
        source()
        .writeStream.foreachBatch(ok)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # the uncommitted batch was replayed (a new version was written) ...
    assert table.current_version() == 1
    # ... but contents are exactly-once
    got = sorted((r.k, r.v) for r in table.read().collect())
    assert got == [(i, f"val{i}") for i in range(5)]

    # a third restart has nothing pending: no replay, no new version
    q3 = (
        source()
        .writeStream.foreachBatch(ok)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    assert table.current_version() == 1


def test_delete_and_update_of_nonexistent_keys(spark, tmp_path):
    """The reference's preference-removal path tolerates removing a key
    that isn't there (preferences.py:153-161 — DynamoDB DeleteItem is a
    no-op on absent keys). An empty change journal must yield counts of
    0, not a TypeError from NULL observation sums."""
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4)
    table.upsert(_kv(spark, [(1, "a"), (2, "b")]))

    r = table.delete(_kv(spark, [(99, "x"), (100, "x")]).select("k"))
    assert r["deletes"] == 0
    assert table.read().count() == 2

    r2 = table.update_fields(_kv(spark, [(99, "nope")]), ["v"])
    assert r2["modifies"] == 0
    got = {row.k: row.v for row in table.read().collect()}
    assert got == {1: "a", 2: "b"}

    # delete on a still-empty table (no versions at all) also returns 0
    empty = KeyedTable(spark, str(tmp_path / "e"), ["k"], KV_SCHEMA, n_buckets=4)
    r3 = empty.delete(_kv(spark, [(1, "x")]).select("k"))
    assert r3["deletes"] == 0


def test_journal_false_twin_equivalence(spark, tmp_path):
    """VERDICT r7 #5: journal=False skips the NEW_IMAGE change-journal
    append (for tables no CDC consumer tails — the consumer's index
    leg). Contract: identical final table state AND identical merge
    counts vs a journaled twin through the same upsert / update_fields /
    delete sequence — only the journal side effects differ."""
    roots = {j: str(tmp_path / f"t{j}") for j in (True, False)}
    tables = {
        j: KeyedTable(spark, r, ["k"], KV_SCHEMA, n_buckets=4, journal=j)
        for j, r in roots.items()
    }
    seq = [
        ("upsert", _kv(spark, [(1, "a"), (2, "b"), (3, "c")])),
        ("upsert", _kv(spark, [(2, "B"), (4, "d")])),  # 1 insert + 1 modify
        ("update_fields", _kv(spark, [(1, "A"), (99, "zz")])),  # 1 hit, 1 miss
        ("delete", _kv(spark, [(3, None), (3, None), (42, None)])),  # dup + miss
        ("upsert", _kv(spark, [])),  # empty batch: no version
    ]
    results = {True: [], False: []}
    for j, t in tables.items():
        for op, batch in seq:
            if op == "upsert":
                results[j].append(t.upsert(batch))
            elif op == "update_fields":
                results[j].append(t.update_fields(batch, ["v"]))
            else:
                results[j].append(t.delete(batch.select("k")))
    assert results[True] == results[False], results
    state = {
        j: {(r.k, r.v) for r in t.read().collect()} for j, t in tables.items()
    }
    assert state[True] == state[False] == {(1, "A"), (2, "B"), (4, "d")}

    # the journaled twin has a journal; the journal-free one has neither
    # files nor a live-looking API
    assert tables[True].read_changes().count() > 0
    assert not os.path.isdir(os.path.join(roots[False], "_changes"))
    with pytest.raises(ValueError, match="journal=False"):
        tables[False].read_changes()
    with pytest.raises(ValueError, match="journal=False"):
        tables[False].stream_changes()


def test_journal_false_merges_inside_foreachbatch(spark, tmp_path):
    """Regression for the foreachBatch Observation hang: a
    CollectMetrics node inside a union child whose sibling is an empty
    relation (the v=-1 first merge) never delivers its metrics under
    foreachBatch — Observation.get blocked forever and the cascade
    fuzz timed out. The no-journal paths observe ABOVE the union now;
    this pins all three merge kinds driven from a real stream."""
    import time

    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=4, journal=False)
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (2, "b")], KV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(2, "B"), (3, "c")], KV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    results = []

    def fb(batch, epoch):
        results.append(table.upsert(batch))
        results.append(table.update_fields(batch.select("k", F.lit("u").alias("v")), ["v"]))
        results.append(table.delete(batch.filter(F.col("k") == 99).select("k")))

    q = (
        spark.readStream.schema(KV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish (obs hang?)"
    counts = [(r.get("inserts"), r.get("modifies"), r.get("deletes")) for r in results]
    assert counts == [
        (2, 0, None), (None, 2, None), (None, None, 0),  # batch 1: 1,2 new
        (1, 1, None), (None, 2, None), (None, None, 0),  # batch 2: 3 new, 2 mod
    ], counts
    got = {(r.k, r.v) for r in table.read().collect()}
    assert got == {(1, "u"), (2, "u"), (3, "u")}, got


def test_journal_false_update_delete_on_empty_table(spark, tmp_path):
    """journal=False update_fields/delete against a never-written table:
    the fully-empty observed plan must still deliver counts of 0, not
    hang or TypeError."""
    table = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4, journal=False
    )
    assert table.update_fields(_kv(spark, [(1, "x")]), ["v"])["modifies"] == 0
    assert table.delete(_kv(spark, [(1, "x")]).select("k"))["deletes"] == 0
    assert table.read().count() == 0


def _parquet_files(root: str, version: int) -> dict[str, int]:
    """bucket dir -> number of parquet files it holds in ``version``."""
    vdir = os.path.join(root, "data", f"v={version}")
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(vdir, d)))
        for d in _bucket_dirs(root, version)
    }


def test_merge_writes_one_file_per_touched_bucket(spark, tmp_path):
    """Every merge writes exactly one parquet file per touched bucket it
    leaves non-empty — the read side then opens one file per bucket."""
    root = str(tmp_path / "t")
    table = KeyedTable(spark, root, ["k"], KV_SCHEMA, n_buckets=8)
    # several input partitions, so one file per bucket is the merge's doing
    table.upsert(_kv(spark, [(i, f"x{i}") for i in range(200)]).repartition(5))
    files = _parquet_files(root, 0)
    assert len(files) == 8 and set(files.values()) == {1}, files

    table.merge(
        puts=_kv(spark, [(i, "y") for i in range(0, 200, 7)]).repartition(3),
        deletes=_kv(spark, [(i, None) for i in range(1, 200, 11)]).select("k"),
    )
    files = _parquet_files(root, 1)
    assert files and set(files.values()) == {1}, files
    table.update_fields(_kv(spark, [(5, "u"), (6, "u")]), ["v"])
    files = _parquet_files(root, 2)
    assert 1 <= len(files) <= 2 and set(files.values()) == {1}, files


def test_put_with_adds_and_removals_writes_one_version(spark, tmp_path):
    """PUT /preferences applies its adds and removals as one table
    version, and that version's journal holds both its INSERT and its
    REMOVE rows; a no-op PUT writes no version."""
    from tv_event_streaming_spark.operators.preferences import (
        PREF_KEY,
        set_user_preferences,
    )
    from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA

    table = KeyedTable(spark, str(tmp_path / "prefs"), PREF_KEY, USER_PREF_SCHEMA)
    assert set_user_preferences(table, "u1", ["1", "2"], ["4"]) == {"adds": 3, "deletes": 0}
    assert table.current_version() == 0
    r = set_user_preferences(table, "u1", ["2", "3"], ["5"])
    assert r == {"adds": 2, "deletes": 2}
    assert table.current_version() == 1
    got = {
        (row.event_name, row.kind, row.pref_id)
        for row in table.read_changes().filter(F.col("version") == 1).collect()
    }
    assert got == {
        ("INSERT", "source", "3"),
        ("INSERT", "genre", "5"),
        ("REMOVE", "source", "1"),
        ("REMOVE", "genre", "4"),
    }
    assert set_user_preferences(table, "u1", ["2", "3"], ["5"]) == {"adds": 0, "deletes": 0}
    assert table.current_version() == 1


@pytest.mark.parametrize("journal", [True, False])
def test_key_put_and_deleted_in_one_merge_is_deleted(spark, tmp_path, journal):
    """A key that is both put and deleted in one call is deleted (deletes
    win): an existing key is REMOVEd with its old image, a new key is
    never created."""
    table = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, n_buckets=4, journal=journal
    )
    table.upsert(_kv(spark, [(1, "a"), (2, "b")]))
    r = table.merge(
        puts=_kv(spark, [(1, "new"), (2, "B"), (3, "c"), (4, "d")]),
        deletes=_kv(spark, [(1, None), (3, None)]).select("k"),
    )
    assert r == {"version": 1, "inserts": 1, "modifies": 1, "deletes": 1}
    assert {(row.k, row.v) for row in table.read().collect()} == {(2, "B"), (4, "d")}
    if journal:
        got = {
            (row.event_name, row.k, row.v)
            for row in table.read_changes().filter(F.col("version") == 1).collect()
        }
        assert got == {("REMOVE", 1, "a"), ("MODIFY", 2, "B"), ("INSERT", 4, "d")}
