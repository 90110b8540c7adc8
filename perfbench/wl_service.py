"""``service``: the reference's two kinds of user, in turn.

The scheduled ingest (producer -> consumer -> CDC enrichment, see
``wl_ingest``) and the web API (GET /titles, /recommendations,
/preferences and PUT /preferences, see ``wl_api``) run in one process
and one Spark session: one ingest round, then one cycle of API
requests, repeated until ``--seconds`` of round and request time is
spent. The two parts run on separate tables (the ingest store and the
API's tables), so no request reads what a round wrote; the API's PUTs
run the same ``KeyedTable`` storage code that the rounds run in bulk.
Nothing in this workload touches the catalog plans or the heavy
operator kernels.
"""

from __future__ import annotations

import os

from tv_event_streaming_spark.domain import derive_domain

import datagen
from common import Result, Workload
from wl_api import Api
from wl_ingest import Ingest

#: 2 000 titles to draw ingest rounds from and to serve; 1 500 users;
#: 20 sources x 25 genres, so every published title adds 500 index rows.
SIZES = {**datagen.TINY, "customer": 1500, "supplier": 20, "part": 2000}


class Service(Workload):
    name = "service"

    def setup(self) -> None:
        ctx = self.ctx
        data = datagen.write_tables(os.path.join(ctx.work, "data"), ctx.seed, SIZES)
        with ctx.layer("domain.derive", count_jobs=True):
            d = derive_domain(ctx.spark, data)
        self.ingest = Ingest(ctx, d, SIZES["part"])
        self.api = Api(ctx, d)

    def run(self, seconds: float) -> None:
        spent = 0.0
        while spent < seconds:
            spent += self.ingest.step()
            spent += self.api.step()
        self.api.check_gets()

    def result(self) -> Result:
        ing_layers, ing_record = self.ingest.result()
        api_layers, api_record = self.api.result()
        e2e = {
            "op_mean_ms": 1000.0 / api_record["api.requests_per_s"],
            "work_per_s": ing_record["ingest.index_rows_per_s"],
        }
        return Result(
            e2e=e2e,
            layers={**ing_layers, **api_layers},
            record={**ing_record, **api_record},
            samples=api_record["reads"],
        )
