"""``catalog``: timed passes over a fixed subset of the query catalog.

Each entry runs ``build`` and then a noop-sink write, as ``bench.py``
does. One untimed pass in set-up lets codegen and the JIT warm up; it
collects every entry's result with ``toPandas``. Then passes repeat until
``--seconds`` of pass time is spent. The seed makes the tables and
shuffles the entry order of every pass. After the timed passes, the
collected results are compared with the entries' DuckDB oracles on
columns and on their sorted canonical rows, outside all timing.

A full pass over all entries takes about a minute even at the smallest
table size, too long for one benchmark run, so the subset holds one
heavy entry of each operator kernel (dedup, text, similarity, graph)
and fourteen lighter entries from the three plan modules, most of them
sub-second and bound by the per-job floor.
"""

from __future__ import annotations

import os
import random

from tv_event_streaming_spark.domain import derive_domain
from tv_event_streaming_spark.plans import CATALOG
from tests.oracle import canonicalize, duck_connection

import datagen
from common import Result, Workload
from metrics import HEAVY_ENTRIES, op_layers, pct
from stats import median, tail

#: Light entries, by plan module: ``plans.catalog`` (TV domain),
#: ``plans.tpch`` and ``plans.datapipe``. Most catalog entries are
#: sub-second, so most of the subset is too, and its median entry is a
#: sub-second one as the whole catalog's is. ``work_per_s`` is their
#: throughput, the per-job floor apart from the heavy kernels.
LIGHT_ENTRIES = (
    "titles_for_users",
    "recommendations",
    "prefs_response",
    "index_build",
    "titles_display",
    "envelope_roundtrip",
    "pricing_summary",
    "top_orders",
    "big_spenders",
    "revenue_cube",
    "dedup_exact",
    "char_stats",
    "token_counts",
    "lang_id",
)
ENTRIES = LIGHT_ENTRIES + HEAVY_ENTRIES
PLAN_MODULES = ("catalog", "tpch", "datapipe")
#: An entry under this wall time is bound by Spark's per-job floor.
SUBSECOND_S = 1.0


def plan_module(name: str) -> str:
    return CATALOG[name].build.__module__.rsplit(".", 1)[-1]


class Catalog(Workload):
    name = "catalog"

    def setup(self) -> None:
        ctx = self.ctx
        self.data = datagen.write_tables(
            os.path.join(ctx.work, "data"), ctx.seed, datagen.TINY
        )
        self.rng = random.Random(ctx.seed)
        self.passes: list[dict[str, dict]] = []
        with ctx.layer("domain.derive", count_jobs=True):
            derive_domain(ctx.spark, self.data)
        self.results: dict = {}
        with ctx.layer("warmup"):
            for name in self._order():
                with ctx.tracer.op(f"catalog.warmup.{name}"):
                    df = CATALOG[name].build(ctx.spark, self.data)
                    self.results[name] = df.toPandas()
                ctx.spark.catalog.clearCache()

    def _order(self) -> list[str]:
        order = list(ENTRIES)
        self.rng.shuffle(order)
        return order

    def _entry(self, name: str) -> dict:
        ctx = self.ctx
        spark = ctx.spark
        entry = CATALOG[name]
        spark.catalog.clearCache()
        mark = ctx.counters.mark() if ctx.tracer.enabled else None
        with ctx.tracer.op(f"catalog.entry.{name}") as t_entry:
            with ctx.tracer.span(f"catalog.build.{plan_module(name)}") as t_build:
                df = entry.build(spark, self.data)
            build_mark = ctx.counters.mark() if mark is not None else None
            with ctx.tracer.span("catalog.exec"):
                df.write.format("noop").mode("overwrite").save()
        out = {
            "s": t_entry.seconds,
            "build_s": t_build.seconds,
            "exec_s": t_entry.seconds - t_build.seconds,
        }
        if mark is not None:
            out.update(ctx.counters.since(mark))
            out["build_jobs"] = build_mark[0] - mark[0]
        return out

    def _pass(self) -> float:
        with self.ctx.tracer.span("catalog.pass") as t:
            p = {name: self._entry(name) for name in self._order()}
        self.ctx.spark.catalog.clearCache()
        self.passes.append(p)
        return t.seconds

    def run(self, seconds: float) -> None:
        spent = 0.0
        while spent < seconds:
            spent += self._pass()
        self._check()

    def _check(self) -> None:
        """Every entry's result against its DuckDB oracle: same columns
        and the same rows in ``tests/oracle.canonicalize`` form."""
        con = duck_connection(self.data)
        con.execute("SET enable_progress_bar = false")
        try:
            for name in ENTRIES:
                got = self.results[name]
                want = con.execute(CATALOG[name].oracle).fetchdf()
                ok = sorted(got.columns) == sorted(want.columns) and (
                    canonicalize(got) == canonicalize(want)
                )
                self.ctx.check(ok, f"catalog entry {name} against its oracle")
        finally:
            con.close()

    def result(self) -> Result:
        passes = self.passes
        samples = [e for p in passes for e in p.values()]
        pass_s = [sum(e["s"] for e in p.values()) for p in passes]
        total = sum(pass_s)
        n = len(passes)

        def per_pass(key: str, names=ENTRIES) -> float:
            return sum(p[e].get(key, 0) for p in passes for e in names) / n

        typical = {name: median([p[name]["s"] for p in passes]) for name in ENTRIES}
        sub = [name for name, s in typical.items() if s < SUBSECOND_S]
        by_module = {
            m: [e for e in ENTRIES if plan_module(e) == m] for m in PLAN_MODULES
        }
        layers = {
            **op_layers(samples),
            "catalog.build_pct": pct(per_pass("build_s"), total / n),
            "catalog.exec_pct": pct(per_pass("exec_s"), total / n),
            "catalog.jobs": per_pass("jobs"),
            "catalog.build_jobs": per_pass("build_jobs"),
            "catalog.stages": per_pass("stages"),
            "catalog.tasks": per_pass("tasks"),
            "catalog.subsecond_n": len(sub),
            "catalog.subsecond_pct": pct(per_pass("s", sub), total / n),
        }
        for m, names in by_module.items():
            layers[f"catalog.plans.{m}_pct"] = pct(per_pass("s", names), total / n)
            layers[f"catalog.plans.{m}_jobs"] = per_pass("jobs", names)
        for e in HEAVY_ENTRIES:
            layers[f"catalog.entry.{e}.build_pct"] = pct(per_pass("build_s", [e]), total / n)
            layers[f"catalog.entry.{e}.exec_pct"] = pct(per_pass("exec_s", [e]), total / n)
            layers[f"catalog.entry.{e}.jobs"] = per_pass("jobs", [e])
        record = {
            "catalog.pass_s": median(pass_s),
            "catalog.entry_p50_s": median([e["s"] for e in samples]),
            "catalog.entry_tail": tail([e["s"] for e in samples]),
            "catalog.build_s": per_pass("build_s"),
            "catalog.exec_s": per_pass("exec_s"),
            "catalog.subsecond_s": per_pass("s", sub),
            **{f"catalog.plans.{m}_s": per_pass("s", names) for m, names in by_module.items()},
            **{
                f"catalog.entry.{e}.{k}_s": per_pass(f"{k}_s", [e])
                for e in HEAVY_ENTRIES
                for k in ("build", "exec")
            },
            "passes": n,
            "pass_s": pass_s,
            "entries": list(ENTRIES),
            "entry_s": typical,
        }
        light = [p[e]["s"] for p in passes for e in LIGHT_ENTRIES]
        e2e = {
            "op_mean_ms": 1000.0 * total / len(samples),
            "work_per_s": len(light) / sum(light),
        }
        return Result(e2e=e2e, layers=layers, record=record, samples=len(samples))

