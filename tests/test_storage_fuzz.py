"""Model-based fuzzing of the KeyedTable MERGE sink (S6/S7/ST3).

Random operation sequences — upsert / field-level update / delete /
mixed put+delete merge over a small key space, with natural
redeliveries (identical batches recur), empty batches, duplicate keys
inside one batch, and deletes/updates of nonexistent keys — are
applied both to a KeyedTable and to a plain Python dict model of the
reference's DynamoDB semantics. After the sequence, three invariants
must hold exactly:

1. ``read()`` equals the model (idempotent keyed puts, fetch-then-update
   field merges, keyed deletes);
2. the CDC journal REPLAYS to the same state (latest change per key
   wins; a trailing REMOVE means absent) — the guarantee the
   enrichment cascade's crash-restart path leans on;
3. every op's Observation-based merge counts (inserts/modifies/deletes)
   match the model's transition counts — the per-batch A7 metrics.

Each op runs real Spark jobs, so the tier uses a reduced example count
like the composition tier.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from tv_event_streaming_spark.streaming.storage import KeyedTable

_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "4"))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)

# (kind, keys, tag, del_keys): tag comes from a tiny space so hypothesis
# naturally generates REDELIVERIES — the same (kind, keys, tag) batch
# applied again later must be a no-op state-wise (MODIFY to the same
# image) exactly like the reference consumer's at-least-once input.
# ``del_keys`` are the deletes of a "merge" op (puts = ``keys``); the
# two lists may overlap, and a key in both is deleted.
_keys = st.lists(st.integers(0, 7), min_size=0, max_size=5)
_op = st.tuples(
    st.sampled_from(["upsert", "update", "delete", "merge"]),
    _keys,
    st.integers(0, 2),
    _keys,
)


@settings(
    max_examples=max(2, _EXAMPLES // 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=7), journal=st.booleans())
def test_keyed_table_matches_model_on_random_op_sequences(
    spark, tmp_path_factory, ops, journal
):
    """``journal`` is drawn too: a journal=False table must satisfy the
    same state + counts model; the journal-replay invariant only applies
    when there IS a journal."""
    root = str(tmp_path_factory.mktemp("ktfuzz") / "t")
    kt = KeyedTable(spark, root, ["k"], SCHEMA, n_buckets=4, journal=journal)
    model: dict[int, tuple[str | None, str | None]] = {}

    for kind, keys, tag, del_keys in ops:
        if kind == "upsert":
            rows = [(k, f"v{tag}", f"e{tag}") for k in keys]
            got = kt.upsert(spark.createDataFrame(rows, SCHEMA))
            uniq = set(keys)
            expect_ins = len(uniq - set(model))
            expect_mod = len(uniq & set(model))
            for k in uniq:
                model[k] = (f"v{tag}", f"e{tag}")
            assert got["inserts"] == expect_ins, (got, expect_ins, ops)
            assert got["modifies"] == expect_mod, (got, expect_mod, ops)
        elif kind == "update":
            rows = [(k, f"u{tag}", None) for k in keys]
            got = kt.update_fields(
                spark.createDataFrame(rows, SCHEMA), ["val"]
            )
            uniq = set(keys)
            expect_mod = len(uniq & set(model))
            for k in uniq & set(model):
                model[k] = (f"u{tag}", model[k][1])
            assert got["modifies"] == expect_mod, (got, expect_mod, ops)
        elif kind == "delete":
            rows = [(k, None, None) for k in keys]
            got = kt.delete(spark.createDataFrame(rows, SCHEMA))
            uniq = set(keys)
            expect_del = len(uniq & set(model))
            for k in uniq:
                model.pop(k, None)
            assert got["deletes"] == expect_del, (got, expect_del, ops)
        else:
            got = kt.merge(
                puts=spark.createDataFrame(
                    [(k, f"m{tag}", f"e{tag}") for k in keys], SCHEMA
                ),
                deletes=spark.createDataFrame(
                    [(k, None, None) for k in del_keys], SCHEMA
                ),
            )
            dels, puts = set(del_keys), set(keys) - set(del_keys)
            expect = {
                "inserts": len(puts - set(model)),
                "modifies": len(puts & set(model)),
                "deletes": len(dels & set(model)),
            }
            for k in puts:
                model[k] = (f"m{tag}", f"e{tag}")
            for k in dels:
                model.pop(k, None)
            assert {k: got[k] for k in expect} == expect, (got, expect, ops)

    # 1. table state == model
    state = {(r.k): (r.val, r.extra) for r in kt.read().collect()}
    assert state == model, (state, model, ops)

    # 2. CDC journal replays to the same state: latest change per key
    # wins (one change row per key per version by construction)
    if not journal:
        return
    ch = kt.read_changes()
    latest = (
        ch.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.desc("version"))
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    )
    replayed = {
        r.k: (r.val, r.extra) for r in latest if r.event_name != "REMOVE"
    }
    assert replayed == model, (replayed, model, ops)
