"""The ingest half of ``service``: scheduled rounds into one persistent store.

A round is the reference's scheduled cascade: the producer publishes
``FETCH_LIMIT`` titles tagged with the full preference arrays, the
consumer drains the bus into the titles and index tables, the CDC
enrichment stream drains the titles change journal, and the round's
titles are read back. Rounds alternate with the API cycles (closed
loop, one client). The store build in set-up publishes ``STORE_TITLES``
titles at once, so a timed round merges into a store many times its own
size: a merge whose cost follows the table size shows in round time and
in bytes written per round.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from tv_event_streaming_spark.streaming.consumer import (
    index_table,
    start_consumer,
    titles_table,
)
from tv_event_streaming_spark.streaming.enrichment import start_enrichment
from tv_event_streaming_spark.streaming.producer import build_title_events, publish

from common import Context, dir_stats
from metrics import pct
from stats import median

#: The reference producer's API_FETCH_LIMIT.
FETCH_LIMIT = 20
#: Titles of each round that were published by an earlier round (the
#: consumer's MODIFY path); the rest are new. The reference gives no
#: share: a quarter is an assumption that keeps most of a round on the
#: INSERT + enrichment path while every round also runs MODIFYs.
REPEATS_PER_ROUND = 5
#: Titles published by the store build in set-up: more than ten rounds'
#: worth of new titles.
STORE_TITLES = 200


class Ingest:
    """Set-up (the store build) runs on construction;
    :meth:`step` runs one timed round."""

    def __init__(self, ctx: Context, d: dict, n_titles: int) -> None:
        self.ctx = ctx
        spark = ctx.spark
        self.details = d["details"]
        self.user_prefs = d["user_prefs"]
        # the check's model, outside set-up timing
        prefs = self.user_prefs.select("kind", "pref_id").distinct().collect()
        n_src = sum(1 for r in prefs if r.kind == "source")
        n_gen = sum(1 for r in prefs if r.kind == "genre")
        self.rows_per_title = n_src * n_gen
        self.lookup = d["titles"].select(
            F.col("title_id").alias("id"),
            "title",
            F.col("year").cast("int").alias("year"),
            F.concat(F.lit("tt"), F.col("title_id").cast("string")).alias("imdb_id"),
            (F.col("title_id") * 2).alias("tmdb_id"),
            F.lit("tv").alias("tmdb_type"),
            "type",
        )
        self.has_details = {
            r.title_id for r in self.details.select("title_id").collect()
        }
        self.rng = random.Random(f"{ctx.seed}-ingest")
        self.unused = list(range(n_titles))
        self.rng.shuffle(self.unused)
        self.published: list[int] = []
        self.enriched_expected: set[int] = set()
        self.rounds: list[dict] = []

        root = os.path.join(ctx.work, "store")
        self.events_dir = os.path.join(root, "events")
        self.titles = titles_table(spark, os.path.join(root, "titles"))
        self.index = index_table(spark, os.path.join(root, "index"))
        self.ckpt_c = os.path.join(root, "ckpt_consumer")
        self.ckpt_e = os.path.join(root, "ckpt_enrichment")
        self.root = root
        # the store build runs the whole cascade, so it also warms up
        # every code path a round takes
        with ctx.layer("ingest.store.build"):
            self._round(self._pick(STORE_TITLES, 0), record=False)

    def _pick(self, n: int, repeats: int) -> list[int]:
        old = self.rng.sample(self.published, min(repeats, len(self.published)))
        new = [self.unused.pop() for _ in range(n - len(old))]
        return sorted(old + new)

    def _round(self, ids: list[int], record: bool = True) -> None:
        ctx = self.ctx
        spark = ctx.spark
        before = dir_stats(self.root)
        events_before = dir_stats(self.events_dir)
        store_titles = len(self.published)
        mark = ctx.counters.mark() if ctx.tracer.enabled else None
        with ctx.tracer.op("ingest.round") as t_round:
            with ctx.tracer.span("ingest.produce") as t_produce:
                with ctx.tracer.span("ingest.produce.build"):
                    events = build_title_events(
                        self.user_prefs,
                        self.lookup.filter(F.col("id").isin(ids)),
                        fetch_limit=len(ids),
                    )
                publish(events, self.events_dir)
            with ctx.tracer.span("ingest.consume") as t_consume:
                q = start_consumer(
                    spark, self.events_dir, self.titles, self.index, self.ckpt_c
                )
                q.awaitTermination()
            with ctx.tracer.span("ingest.enrich") as t_enrich:
                q2 = start_enrichment(spark, self.titles, self.details, self.ckpt_e)
                q2.awaitTermination()
            with ctx.tracer.span("ingest.read") as t_read:
                back = (
                    self.titles.read()
                    .filter(F.col("title_id").isin(ids))
                    .select("title_id", "plot_overview")
                    .collect()
                )
        # every title published for the first time is an INSERT and gets
        # enriched when details has it; a repeat is a MODIFY that
        # overwrites the record with empty enrichment fields, which the
        # INSERT-only enrichment stream leaves alone (reference semantics)
        seen = set(self.published)
        for t in ids:
            if t in seen:
                self.enriched_expected.discard(t)
            elif t in self.has_details:
                self.enriched_expected.add(t)
        self.published = sorted(seen | set(ids))
        new_events = dir_stats(self.events_dir, since=events_before)
        written = dir_stats(self.root, since=before)
        rnd = {
            "s": t_round.seconds,
            "store_titles": store_titles,
            "produce_s": t_produce.seconds,
            "consume_s": t_consume.seconds,
            "enrich_s": t_enrich.seconds,
            "read_s": t_read.seconds,
            "index_rows": len(ids) * self.rows_per_title,
            "event_bytes": new_events["bytes"],
            "bytes_written": written["bytes"],
            "files_written": written["files"],
            "consume_progress": _durations(q.recentProgress),
            "enrich_progress": _durations(q2.recentProgress),
        }
        if mark is not None:
            rnd.update(ctx.counters.since(mark))
        self._check_round(ids, back)
        if record:
            self.rounds.append(rnd)

    def _check_round(self, ids: list[int], back) -> None:
        """Outside the timed region: the store equals the model."""
        enriched_back = {r.title_id for r in back if r.plot_overview is not None}
        titles = self.titles.read().select("title_id", "plot_overview").collect()
        per_title = self.index.read().groupBy("title_id").count().collect()
        ok = (
            sorted(r.title_id for r in back) == ids
            and enriched_back == self.enriched_expected.intersection(ids)
            and sorted(r.title_id for r in titles) == self.published
            and {r.title_id for r in titles if r.plot_overview is not None}
            == self.enriched_expected
            and sorted(r.title_id for r in per_title) == self.published
            and all(r["count"] == self.rows_per_title for r in per_title)
        )
        self.ctx.check(ok, f"ingest store after the round of titles {ids}")

    def step(self) -> float:
        """One timed round; returns its seconds."""
        self._round(self._pick(FETCH_LIMIT, REPEATS_PER_ROUND))
        return self.rounds[-1]["s"]

    def result(self) -> tuple[dict, dict]:
        """(per-layer metrics, run record) over the timed rounds."""
        rounds = self.rounds
        secs = [r["s"] for r in rounds]
        total = sum(secs)
        rows = sum(r["index_rows"] for r in rounds)
        cons = [r["consume_progress"] for r in rounds]
        enr = [r["enrich_progress"] for r in rounds]
        add_c = sum(c.get("addBatch", 0) for c in cons) / 1000.0
        trig_c = sum(c.get("triggerExecution", 0) for c in cons) / 1000.0
        add_e = sum(c.get("addBatch", 0) for c in enr) / 1000.0

        def leg(key: str) -> float:
            return sum(r[key] for r in rounds)

        layers = {
            "ingest.produce_pct": pct(leg("produce_s"), total),
            "ingest.consume_pct": pct(leg("consume_s"), total),
            "ingest.consume.addBatch_pct": pct(add_c, total),
            "ingest.consume.overhead_pct": pct(trig_c - add_c, total),
            "ingest.enrich_pct": pct(leg("enrich_s"), total),
            "ingest.enrich.addBatch_pct": pct(add_e, total),
            "ingest.read_pct": pct(leg("read_s"), total),
            "ingest.jobs_per_round": median([r.get("jobs", 0) for r in rounds]),
            "ingest.storage.bytes_written": median([r["bytes_written"] for r in rounds]),
            "ingest.storage.files_written": median([r["files_written"] for r in rounds]),
            "ingest.storage.write_amp": median(
                [r["bytes_written"] / r["event_bytes"] for r in rounds]
            ),
        }
        n = len(rounds)
        record = {
            "ingest.round_p50_s": median(secs),
            "ingest.index_rows_per_s": rows / total,
            "ingest.round_first_s": secs[0],
            "ingest.round_last_s": secs[-1],
            **{f"ingest.{k}": leg(f"{k}_s") / n for k in ("produce", "consume", "enrich", "read")},
            "ingest.consume.addBatch_ms": 1000.0 * add_c / n,
            "ingest.consume.overhead_ms": 1000.0 * (trig_c - add_c) / n,
            "ingest.enrich.addBatch_ms": 1000.0 * add_e / n,
            "rounds": n,
            "round_s": secs,
            "round_store_titles": [r["store_titles"] for r in rounds],
            "repeats_per_round": REPEATS_PER_ROUND,
            "fetch_limit": FETCH_LIMIT,
            "index_rows_per_title": self.rows_per_title,
            "titles_in_store": len(self.published),
        }
        return layers, record


def _durations(progress: list[dict]) -> dict[str, float]:
    """Sum of each ``durationMs`` phase over a query's micro-batches."""
    out: dict[str, float] = {}
    for p in progress:
        for k, v in (p.get("durationMs") or {}).items():
            out[k] = out.get(k, 0.0) + v
    return out
