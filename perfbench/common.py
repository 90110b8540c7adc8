"""Shared pieces of the workloads."""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import SparkCounters, Tracer


@dataclass
class Result:
    """A workload's measurements: ``e2e`` feeds the end-to-end metrics,
    ``layers`` the per-layer ones (both by metric name), ``record``
    goes to the run record only."""

    e2e: dict[str, float]
    layers: dict[str, float]
    record: dict
    samples: int


@dataclass
class Context:
    spark: object
    tracer: Tracer
    counters: SparkCounters
    seed: int
    work: str
    #: set-up phase -> seconds
    setup: dict[str, float] = field(default_factory=dict)
    #: set-up phase -> Spark jobs (traced runs only)
    setup_jobs: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a failed one is also logged."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"check failed: {what}")

    @contextmanager
    def layer(self, name: str, count_jobs: bool = False):
        """Time one set-up phase; repeated phases accumulate."""
        mark = self.counters.mark() if count_jobs and self.tracer.enabled else None
        with self.tracer.span(name) as t:
            yield t
        self.setup[name] = self.setup.get(name, 0.0) + t.seconds
        if mark is not None:
            self.setup_jobs[name] = self.counters.since(mark)["jobs"]

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> None:
        raise NotImplementedError

    def result(self) -> Result:
        raise NotImplementedError


def dir_stats(root: str, since: dict | None = None) -> dict:
    """Data files under ``root`` (checksum and hidden files skipped):
    ``{"files", "bytes", "paths"}``; with ``since``, only files that are
    not in that earlier listing."""
    paths: dict[str, int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")) or f.endswith(".crc"):
                continue
            p = os.path.join(dirpath, f)
            try:
                paths[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    if since is not None:
        paths = {p: s for p, s in paths.items() if p not in since["paths"]}
    return {"files": len(paths), "bytes": sum(paths.values()), "paths": paths}
