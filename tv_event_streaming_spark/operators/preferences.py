"""User-preference reads and delta mutations.

Reference: src/user_preferences/preferences.py and the duplicate
implementation in src/web_api/web_api.py:101-145 (SURVEY.md S4/J5/SO1/SO2).
The reference computes ``new − old`` (adds) and ``old − new`` (deletes)
with in-memory Python sets; here the same algebra is two anti-joins —
shuffle-free when the per-user pref sets are broadcast-sized, and fully
distributed for the batch (all-users) shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PREF_KEY = ["user_id", "kind", "pref_id"]


def get_preferences(user_prefs: DataFrame, user_filter: Column | None = None) -> DataFrame:
    """S4 — all preference rows for the selected users
    (preferences.py:90-100)."""
    return user_prefs.filter(user_filter) if user_filter is not None else user_prefs


def preferences_response(user_prefs: DataFrame) -> DataFrame:
    """The ``GET /preferences`` response shape — sorted id arrays per kind
    (web_api.py:86-96; sorted for determinism like ingestion.py:116)."""
    return user_prefs.groupBy("user_id").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("kind") == "source", F.col("pref_id")))
        ).alias("sources"),
        F.sort_array(
            F.collect_set(F.when(F.col("kind") == "genre", F.col("pref_id")))
        ).alias("genres"),
    )


def prefs_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """J5/SO2 — the PUT /preferences delta plan (preferences.py:128-161):
    rows to add (new − old) and rows to delete (old − new), tagged with an
    ``op`` column. An empty result is the reference's no-op early-exit
    (preferences.py:148-150).
    """
    adds = new.join(old, PREF_KEY, "left_anti").select(
        F.lit("add").alias("op"), *PREF_KEY
    )
    deletes = old.join(new, PREF_KEY, "left_anti").select(
        F.lit("delete").alias("op"), *PREF_KEY
    )
    return adds.unionAll(deletes)


def set_user_preferences(
    prefs_table, user_id: str, sources: list[str], genres: list[str]
) -> dict[str, int]:
    """The full PUT /preferences mutation against a KeyedTable
    (preferences.py:128-175): read current, compute the delta, and apply
    its adds and removals as ONE table version (one ``merge`` call).
    Returns the counts the merge observed; ``{adds: 0, deletes: 0}`` is
    the reference's no-op 204 early-exit (preferences.py:148-150) — no
    table version is written."""
    spark = prefs_table.spark
    rows = [(user_id, "source", s) for s in sources] + [
        (user_id, "genre", g) for g in genres
    ]
    from ..schemas import USER_PREF_SCHEMA  # noqa: PLC0415

    new = spark.createDataFrame(rows, USER_PREF_SCHEMA)
    old = prefs_table.read().filter(F.col("user_id") == user_id)
    delta = prefs_delta(old, new)
    got = prefs_table.merge(
        puts=delta.filter(F.col("op") == "add").select(*PREF_KEY),
        deletes=delta.filter(F.col("op") == "delete").select(*PREF_KEY),
    )
    return {"adds": got["inserts"], "deletes": got["deletes"]}


def apply_prefs_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """The post-merge state: old minus deletes plus adds ≡ new for the
    touched users, old elsewhere. Expressed as a single MERGE-shaped plan
    (SURVEY.md §3.3): rows of ``old`` for untouched users ∪ ``new``."""
    touched = new.select("user_id").distinct()
    untouched = old.join(touched, "user_id", "left_anti")
    return untouched.unionAll(new.select(*untouched.columns))
