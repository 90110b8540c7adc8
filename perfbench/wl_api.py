"""The API half of ``service``: an assumed mix of the reference web API's
requests (the reference states no traffic; ``MIX`` and ``ZIPF_S`` say
what is assumed and why).

One client sends a request, waits for the reply, then sends the next,
as the reference's browser view does (closed loop). Requests run
against ``KeyedTable``s built at set-up through ``upsert``: titles with
the domain's 2x2 id arrays, the source x genre index, and the user
preferences. Every cycle
of ``len(MIX)`` requests holds the same mix in a seeded order, so the
mix does not vary between seeds; the seed draws the Zipf-skewed users
and the PUT contents.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from tv_event_streaming_spark.operators.preferences import (
    PREF_KEY,
    get_preferences,
    preferences_response,
    set_user_preferences,
)
from tv_event_streaming_spark.operators.titles import (
    arrays_from_index,
    recommendations_for_users,
    titles_for_users,
)
from tv_event_streaming_spark.schemas import USER_PREF_SCHEMA
from tv_event_streaming_spark.streaming.storage import KeyedTable

from common import Context, dir_stats
from metrics import op_layers, pct
from stats import median, tail

#: One cycle of requests; each cycle runs them in a seeded order. The
#: shares are assumed: GET /titles is the main list, so it is the most
#: frequent; GET /recommendations is the same plan narrowed to highly
#: rated titles, a second view; GET /preferences fills the settings form;
#: a PUT is a saved change, so one in fourteen requests.
MIX = ("titles",) * 6 + ("recommendations",) * 4 + ("preferences",) * 3 + ("put",)
#: The GET request kinds.
READS = ("titles", "recommendations", "preferences")
#: Zipf exponent of user popularity, assumed: just above 1, a few users
#: send most requests and the rest form a long tail.
ZIPF_S = 1.1

_RESPONSE_COLS = ("title_id", "title", "plot_overview", "poster", "user_rating")


def _titles_rows(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in _RESPONSE_COLS) for r in rows)


def _prefs_rows(rows) -> list[tuple]:
    return sorted((tuple(r.sources), tuple(r.genres)) for r in rows)


class Api:
    """Set-up (table build and one untimed request of each kind) runs on
    construction; :meth:`step` runs one timed cycle of ``MIX``."""

    def __init__(self, ctx: Context, d: dict) -> None:
        self.ctx = ctx
        spark = ctx.spark
        self.d = d
        root = os.path.join(ctx.work, "tables")
        titles = d["titles"].join(arrays_from_index(d["title_index"]), "title_id")
        self.prefs_dir = os.path.join(root, "prefs")
        with ctx.layer("api.store.build"):
            self.titles = KeyedTable(
                spark, os.path.join(root, "titles"), ["title_id"], titles.schema
            )
            self.titles.upsert(titles)
            self.index = KeyedTable(
                spark,
                os.path.join(root, "index"),
                ["source_id", "genre_id", "title_id"],
                d["title_index"].schema,
                journal=False,
            )
            self.index.upsert(d["title_index"])
            self.prefs = KeyedTable(spark, self.prefs_dir, PREF_KEY, USER_PREF_SCHEMA)
            self.prefs.upsert(d["user_prefs"])

        # the client's model of every user's preferences
        self.model: dict[str, frozenset] = {}
        for r in d["user_prefs"].collect():
            self.model[r.user_id] = self.model.get(r.user_id, frozenset()) | {
                (r.kind, r.pref_id)
            }
        self.users = sorted(self.model, key=int)
        self.rng = random.Random(f"{ctx.seed}-api")
        self.rng.shuffle(self.users)  # popularity rank -> user
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(len(self.users))]
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w
            self.cum.append(acc)
        self.source_ids = [r.source_id for r in d["sources"].collect()]
        self.genre_ids = [r.genre_id for r in d["genres"].collect()]
        self.reqs: list[dict] = []
        #: (kind, the user's preferences when sent, response rows)
        self.gets: list[tuple[str, frozenset, list]] = []
        # one untimed request of each kind: the first of a kind pays for
        # its plan's code generation
        with ctx.layer("api.warmup"):
            for kind in READS + ("put",):
                self._request(kind, record=False)

    def _user(self) -> str:
        x = self.rng.random() * self.cum[-1]
        lo, hi = 0, len(self.cum) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cum[mid] < x:
                lo = mid + 1
            else:
                hi = mid
        return self.users[lo]

    def _request(self, kind: str, record: bool = True) -> None:
        ctx = self.ctx
        user = self._user()
        who = F.col("user_id") == user
        before = dir_stats(self.prefs_dir) if kind == "put" else None
        mark = ctx.counters.mark() if ctx.tracer.enabled else None
        if kind == "put":
            sources = sorted(self.rng.sample(self.source_ids, self.rng.randint(1, 3)))
            genres = sorted(self.rng.sample(self.genre_ids, self.rng.randint(1, 3)))
            with ctx.tracer.op("api.put") as t_req:
                set_user_preferences(self.prefs, user, sources, genres)
            build_s = read_s = 0.0
            rows = None
        else:
            with ctx.tracer.op(f"api.get.{kind}") as t_req:
                with ctx.tracer.span("api.storage.read") as t_read:
                    prefs = self.prefs.read()
                    if kind != "preferences":
                        index = self.index.read()
                        titles = self.titles.read()
                with ctx.tracer.span("api.build") as t_build:
                    if kind == "titles":
                        df = titles_for_users(prefs, index, titles, who)
                    elif kind == "recommendations":
                        df = recommendations_for_users(prefs, index, titles, who)
                    else:
                        df = preferences_response(get_preferences(prefs, who))
                with ctx.tracer.span("api.exec"):
                    rows = df.collect()
            build_s, read_s = t_build.seconds, t_read.seconds
        req = {
            "kind": kind,
            "s": t_req.seconds,
            "build_s": build_s,
            "exec_s": t_req.seconds - build_s - read_s,
            "storage_read_s": read_s,
        }
        if mark is not None:
            req.update(ctx.counters.since(mark))
        # outside the timed region: update the model and check
        if kind == "put":
            req["bytes_written"] = dir_stats(self.prefs_dir, since=before)["bytes"]
            self.model[user] = frozenset(
                [("source", s) for s in sources] + [("genre", g) for g in genres]
            )
            got = preferences_response(get_preferences(self.prefs.read(), who)).collect()
            ctx.check(
                _prefs_rows(got) == [(tuple(sources), tuple(genres))],
                f"GET /preferences of {user} after its PUT",
            )
        elif record:
            self.gets.append((kind, self.model[user], rows))
        if record:
            self.reqs.append(req)

    def step(self) -> float:
        """One timed cycle of ``MIX`` in a seeded order; returns its seconds."""
        cycle = list(MIX)
        self.rng.shuffle(cycle)
        n = len(self.reqs)
        for kind in cycle:
            self._request(kind)
        return sum(r["s"] for r in self.reqs[n:])

    def check_gets(self) -> None:
        """Each GET equals the same operator run on the derive_domain
        frames, with the preferences the user had when it was sent.
        Every GET becomes one virtual user, so each operator runs once."""
        spark = self.ctx.spark
        d = self.d
        rows = [
            (f"{i}", kind, pid)
            for i, (_, prefs, _) in enumerate(self.gets)
            for kind, pid in sorted(prefs)
        ]
        virtual = spark.createDataFrame(rows, USER_PREF_SCHEMA)
        expected: dict[str, dict[str, list]] = {}
        index, titles = d["title_index"], d["titles"]
        for kind, df in (
            ("titles", titles_for_users(virtual, index, titles, broadcast_pairs=False)),
            ("recommendations", recommendations_for_users(virtual, index, titles)),
            ("preferences", preferences_response(virtual)),
        ):
            by_user: dict[str, list] = {}
            for r in df.collect():
                by_user.setdefault(r.user_id, []).append(r)
            expected[kind] = by_user
        for i, (kind, _, got) in enumerate(self.gets):
            want = expected[kind].get(f"{i}", [])
            norm = _prefs_rows if kind == "preferences" else _titles_rows
            self.ctx.check(norm(got) == norm(want), f"GET /{kind} #{i}")

    def result(self) -> tuple[dict, dict]:
        """(per-layer metrics, run record) over the timed requests."""
        reqs = self.reqs
        reads = [r for r in reqs if r["kind"] != "put"]
        puts = [r for r in reqs if r["kind"] == "put"]
        total = sum(r["s"] for r in reqs)
        read_s = [r["s"] for r in reads]
        p50 = median(read_s)

        def share(kind: str) -> float:
            return pct(sum(r["s"] for r in reqs if r["kind"] == kind), total)

        layers = {
            **op_layers(reads),
            **{f"api.read.{k}_pct": share(k) for k in READS},
            "api.write_pct": share("put"),
            "api.storage.read_pct": pct(sum(r["storage_read_s"] for r in reqs), total),
            "api.read_jobs": median([r.get("jobs", 0) for r in reads]),
            "api.write_jobs": median([r.get("jobs", 0) for r in puts]),
            "api.storage.bytes_written_per_write": median([r["bytes_written"] for r in puts]),
            "api.storage.versions": self.prefs.current_version() + 1,
        }
        record = {
            "api.read_p50_ms": 1000.0 * p50,
            "api.read_tail": tail(read_s),
            "api.write_p50_ms": 1000.0 * median([r["s"] for r in puts]),
            "api.requests_per_s": len(reqs) / total,
            **{
                f"api.read.{k}_p50_ms": 1000.0
                * median([r["s"] for r in reads if r["kind"] == k])
                for k in READS
            },
            "api.storage.read_ms": 1000.0 * median([r["storage_read_s"] for r in reads]),
            "requests": len(reqs),
            "request_s": [(r["kind"], r["s"]) for r in reqs],
            "reads": len(reads),
            "writes": len(puts),
        }
        return layers, record
