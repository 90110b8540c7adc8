"""Metric names, units and how a run's measurements become them.

Every run prints every metric of its kind (end-to-end with tracing off,
per-layer with tracing on), whatever the workload.

End-to-end metrics mean the same thing on every workload, applied to the
workload's own work. ``op_mean_ms`` is the mean latency of the
operation its user waits on: a catalog entry (build + noop-sink write),
or a web-API request (GET collected to the client, or PUT). It is a
mean, not a median, because a run holds too few operations for a steady
median. ``work_per_s`` is the throughput: on ``catalog``, light entries
(``wl_catalog.LIGHT_ENTRIES``, bound by the per-job floor) per second of
their own wall time, so that it is not the reciprocal of ``op_mean_ms``,
which the heavy kernels dominate; on ``service``, index rows made
durable per second of ingest-round time.

Per-layer times that every workload exercises are absolute. A layer only
one workload exercises is reported as its share (%) of that workload's
timed operation time, or as a count, so that on the other workloads it
reads 0 without being a time; its absolute seconds are in the run record.
"""

from __future__ import annotations

from common import Context, Result
from stats import check_names, median

WORKLOADS = ("catalog", "service")

#: Catalog entries with their own per-entry metrics: the heavy entries
#: of the timed subset (see wl_catalog.ENTRIES).
HEAVY_ENTRIES = (
    "simhash_neardup",
    "shared_span_pairs",
    "ann_ivfpq_residual",
    "neardup_clusters",
)

END_TO_END = {
    "setup_s": "s",
    "op_mean_ms": "ms",
    "work_per_s": "1/s",
}

PER_LAYER = {
    # every workload
    "session.get_spark_s": "s",
    "domain.derive_s": "s",
    "domain.derive_jobs": "count",
    "op.build_ms": "ms",
    "op.exec_ms": "ms",
    "op.jobs": "count",
    "op.stages": "count",
    "op.tasks": "count",
    # catalog: plans + operators + Spark
    "catalog.build_pct": "%",
    "catalog.exec_pct": "%",
    "catalog.jobs": "count",
    "catalog.build_jobs": "count",
    "catalog.stages": "count",
    "catalog.tasks": "count",
    "catalog.subsecond_n": "count",
    "catalog.subsecond_pct": "%",
    **{
        f"catalog.plans.{m}_{k}": u
        for m in ("catalog", "tpch", "datapipe")
        for k, u in (("pct", "%"), ("jobs", "count"))
    },
    **{
        f"catalog.entry.{e}.{k}": u
        for e in HEAVY_ENTRIES
        for k, u in (("build_pct", "%"), ("exec_pct", "%"), ("jobs", "count"))
    },
    # service, ingest rounds: streaming producer/consumer/enrichment + storage
    "ingest.produce_pct": "%",
    "ingest.consume_pct": "%",
    "ingest.consume.addBatch_pct": "%",
    "ingest.consume.overhead_pct": "%",
    "ingest.enrich_pct": "%",
    "ingest.enrich.addBatch_pct": "%",
    "ingest.read_pct": "%",
    "ingest.jobs_per_round": "count",
    "ingest.storage.bytes_written": "B",
    "ingest.storage.files_written": "count",
    "ingest.storage.write_amp": "x",
    # service, API requests: operators.titles / operators.preferences + storage
    "api.read.titles_pct": "%",
    "api.read.recommendations_pct": "%",
    "api.read.preferences_pct": "%",
    "api.write_pct": "%",
    "api.storage.read_pct": "%",
    "api.read_jobs": "count",
    "api.write_jobs": "count",
    "api.storage.bytes_written_per_write": "B",
    "api.storage.versions": "count",
}

_TIME_UNITS = {"s", "ms"}


def assemble(
    workload: str,
    traced: bool,
    res: Result,
    ctx: Context,
    session_s: float,
) -> dict[str, dict]:
    """The ``metrics`` object of the result line."""
    if not traced:
        values = {"setup_s": session_s + sum(ctx.setup.values()), **res.e2e}
        names = END_TO_END
    else:
        values = {
            "session.get_spark_s": session_s,
            "domain.derive_s": ctx.setup.get("domain.derive", 0.0),
            "domain.derive_jobs": ctx.setup_jobs.get("domain.derive", 0),
            **res.layers,
        }
        names = PER_LAYER
    extra = set(values) - set(names)
    if extra:
        raise ValueError(f"{workload} measured undeclared metrics {sorted(extra)}")
    out = {}
    for name, unit in names.items():
        if name not in values and unit in _TIME_UNITS:
            raise ValueError(f"{workload} did not measure time metric {name}")
        out[name] = {"value": float(values.get(name, 0)), "unit": unit}
    check_names(out)
    return out


def pct(part: float, whole: float) -> float:
    return 100.0 * part / whole if whole else 0.0


def op_layers(ops: list[dict]) -> dict[str, float]:
    """Generic per-op medians from records with ``build_s``, ``exec_s``
    and (traced) ``jobs``/``stages``/``tasks``."""
    return {
        "op.build_ms": 1000.0 * median([o["build_s"] for o in ops]),
        "op.exec_ms": 1000.0 * median([o["exec_s"] for o in ops]),
        **{
            f"op.{k}": median([o.get(k, 0) for o in ops])
            for k in ("jobs", "stages", "tasks")
        },
    }
