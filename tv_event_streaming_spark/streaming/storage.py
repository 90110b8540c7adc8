"""Versioned keyed parquet tables: MERGE upserts + a CDC change journal.

Spark has no in-place update without a table format (SURVEY.md §7
phase 2). This layer gives the reference's DynamoDB semantics —
idempotent keyed puts (consumer.py:58-89), nested-field updates
(enrichment.py:114-125), keyed deletes (preferences.py:153-161) and a
NEW_IMAGE change stream (uktv-event-streaming-app.yaml:55-56) — on
plain parquet:

- the key space is hash-partitioned into ``n_buckets`` stable buckets
  (``pmod(xxhash64(keys), n)``); a MERGE rewrites ONLY the buckets its
  batch touches — O(batch ∪ touched buckets), never O(table);
- every MERGE is one pass: the bucket-tagged batch and the current rows
  of its touched buckets meet in ONE exchange clustered by bucket,
  grouped on (bucket, key); that step classifies each key as untouched,
  INSERT, MODIFY or REMOVE and picks its new image;
- the data write of that frame makes exactly one parquet file per
  touched bucket under ``data/v=N/``, then a version MANIFEST maps
  every bucket to the version directory that last wrote it and the
  ``_CURRENT`` pointer flips (atomic rename) — readers always see a
  consistent snapshot stitched from per-bucket paths;
- the INSERT/MODIFY/REMOVE rows (full image + version) of the same
  frame are appended to ``_changes/``, which Structured Streaming can
  tail as a file source — the Delta CDF stand-in;
- merge counts come from one ``DataFrame.observe`` on the data write,
  for every table — no extra count jobs per merge.

On a real deployment this class is replaced wholesale by Delta/Iceberg
``MERGE INTO`` + change data feed; the pipeline code above it doesn't
change. The bucket layout is exactly the rewrite-granularity story those
formats implement with file-level pruning; at 100 TB you'd raise
``n_buckets`` so a micro-batch touches a small fraction of files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "bucket__"
_OP = "op__"
# row tags of one merge, one bit each: a current table row, a batch
# image (put or field update), a batch delete
_CUR, _NEW, _DEL = 1, 2, 4
_COUNTS = ("inserts", "modifies", "deletes")


class KeyedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        schema: T.StructType,
        n_buckets: int = 16,
        journal: bool = True,
    ) -> None:
        """``journal=False`` turns off the NEW_IMAGE change journal for
        tables no CDC consumer tails (VERDICT r7 #5: the consumer's
        INDEX table has no stream_changes reader — only ``titles``
        feeds the enrichment cascade). It only skips the journal
        append: merge counts ride the data write for every table, so
        the return contract is unchanged; :meth:`stream_changes` /
        :meth:`read_changes` raise, keeping a silent no-op journal from
        masquerading as an empty-but-live one."""
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.schema = schema
        self.n_buckets = n_buckets
        self.journal = journal
        os.makedirs(path, exist_ok=True)

    # -- version bookkeeping ------------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    @property
    def changes_dir(self) -> str:
        return os.path.join(self.path, "_changes")

    def current_version(self) -> int:
        try:
            with open(self._pointer) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.path, "_manifests", f"v={v}.json")

    def _read_manifest(self, v: int) -> dict[int, str]:
        """bucket id -> data directory (relative to table root)."""
        if v < 0:
            return {}
        with open(self._manifest_path(v)) as fh:
            return {int(k): p for k, p in json.load(fh).items()}

    def _write_manifest(self, v: int, manifest: dict[int, str]) -> None:
        os.makedirs(os.path.dirname(self._manifest_path(v)), exist_ok=True)
        tmp = self._manifest_path(v) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({str(k): p for k, p in manifest.items()}, fh)
        os.replace(tmp, self._manifest_path(v))

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets)).cast("int")

    # -- read ---------------------------------------------------------------

    def _read_buckets(self, manifest: dict[int, str], buckets: list[int] | None = None) -> DataFrame:
        dirs = [
            os.path.join(self.path, p)
            for b, p in sorted(manifest.items())
            if buckets is None or b in buckets
        ]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def read(self) -> DataFrame:
        return self._read_buckets(self._read_manifest(self.current_version()))

    def read_changes(self) -> DataFrame:
        if not self.journal:
            raise ValueError(
                "table was created with journal=False — no change journal"
            )
        if not os.path.isdir(self.changes_dir) or not any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.changes_dir) for f in fs
        ):
            return self.spark.createDataFrame([], self._changes_schema())
        return self.spark.read.schema(self._changes_schema()).parquet(self.changes_dir)

    def stream_changes(self) -> DataFrame:
        """The CDC source (S10): tail the change journal as a stream.

        The journal directory is created if absent so a CDC consumer can
        start BEFORE the first write lands (fuzz-found: a file-source
        stream over a missing path raises PATH_NOT_FOUND at plan time,
        crashing an enrichment service deployed ahead of its producer)."""
        if not self.journal:
            raise ValueError(
                "table was created with journal=False — no change stream"
            )
        os.makedirs(self.changes_dir, exist_ok=True)
        return (
            self.spark.readStream.schema(self._changes_schema())
            .option("maxFilesPerTrigger", 16)
            .parquet(self.changes_dir)
        )

    def _changes_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("event_name", T.StringType(), False),
                T.StructField("version", T.LongType(), False),
                *self.schema.fields,
            ]
        )

    # -- merge --------------------------------------------------------------

    def upsert(self, batch: DataFrame) -> dict[str, int]:
        """MERGE: insert new keys, overwrite existing ones (the
        reference's idempotent put). A key repeated inside the batch
        keeps one of its rows (reference batches carry identical
        payloads per key, consumer.py:57)."""
        return self._counts(self.merge(puts=batch), "inserts", "modifies")

    def delete(self, keys: DataFrame) -> dict[str, int]:
        """Keyed delete (the preference-removal path, preferences.py:153-161);
        absent keys are a no-op, a bucket left empty drops out of the
        manifest."""
        return self._counts(self.merge(deletes=keys), "deletes")

    def update_fields(self, updates: DataFrame, fields: list[str]) -> dict[str, int]:
        """Field-level MERGE (the reference's UpdateItem on nested paths,
        enrichment.py:114-125): for keys present in ``updates``, set only
        ``fields``; all other columns and rows unchanged. Rows in
        ``updates`` whose key doesn't exist are ignored (fetch-then-update
        semantics)."""
        tagged = updates.select(
            F.lit(_NEW).alias(_OP), *self._image_cols(self.key_cols + list(fields))
        )
        return self._counts(self._merge(tagged, list(fields)), "modifies")

    def merge(
        self, puts: DataFrame | None = None, deletes: DataFrame | None = None
    ) -> dict[str, int]:
        """Puts and keyed deletes applied as ONE table version (the PUT
        /preferences shape: adds and removals together). A key that is
        both put and deleted in one call is deleted — deletes win.
        Returns ``version``, ``inserts``, ``modifies`` and ``deletes``; a
        call with no rows writes no version."""
        parts = []
        if puts is not None:
            parts.append(
                puts.select(F.lit(_NEW).alias(_OP), *self._image_cols(self.schema.names))
            )
        if deletes is not None:
            parts.append(
                deletes.select(F.lit(_DEL).alias(_OP), *self._image_cols(self.key_cols))
            )
        if not parts:
            raise ValueError("merge() needs puts, deletes or both")
        tagged = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return self._merge(tagged, None)

    def _image_cols(self, given: list[str]) -> list[F.Column]:
        """The schema's columns, typed like the table (a key typed
        differently would hash to another bucket); columns not in
        ``given`` are NULL."""
        return [
            (F.col(f.name) if f.name in given else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in self.schema.fields
        ]

    @staticmethod
    def _counts(result: dict[str, int], *keys: str) -> dict[str, int]:
        return {"version": result["version"], **{k: result[k] for k in keys}}

    def _merge(self, tagged: DataFrame, fields: list[str] | None) -> dict[str, int]:
        """The one merge pass. ``tagged`` holds the schema's columns plus
        an ``_OP`` tag (``_NEW`` / ``_DEL``); ``fields`` set means a
        field update: ``_NEW`` rows then carry only those fields and
        never create a key.

        The bucket-tagged batch is persisted: the distinct-bucket
        collect (which is also the emptiness probe) and the merge both
        read it, and without the barrier each re-ran the batch's
        upstream lineage (for the consumer's index leg a double explode
        of the full batch; SCALE.md §6e). The merged frame is persisted
        too when a journal append reads it after the data write."""
        tagged = tagged.withColumn(BUCKET_COL, self._bucket()).persist()
        merged = None
        try:
            touched = sorted(
                r[0] for r in tagged.select(BUCKET_COL).distinct().collect()
            )
            if not touched:  # empty batches must not write versions
                return {"version": self.current_version(), **dict.fromkeys(_COUNTS, 0)}
            v = self.current_version() + 1
            current = self._read_buckets(self._read_manifest(v - 1), touched)
            rows = current.select(
                F.lit(_CUR).alias(_OP), *self.schema.names, self._bucket().alias(BUCKET_COL)
            ).unionByName(tagged)
            merged = self._classify(rows, len(touched), fields)
            if self.journal:
                merged.persist()

            # the observe node must sit ABOVE the union: a CollectMetrics
            # inside a union child whose sibling is an empty relation
            # (the first merge) never delivers its metrics under
            # foreachBatch, and Observation.get then blocks forever
            obs = Observation()
            event = F.col("event_name")
            data_dir = os.path.join(self.path, "data", f"v={v}")
            merged.observe(
                obs,
                F.count_if(event == "INSERT").alias("inserts"),
                F.count_if(event == "MODIFY").alias("modifies"),
                F.count_if(event == "REMOVE").alias("deletes"),
            ).filter("live__").select(BUCKET_COL, *self.schema.names).write.partitionBy(
                BUCKET_COL
            ).mode("overwrite").parquet(data_dir)
            if self.journal:
                # one journal file per version: the CDC stream's
                # maxFilesPerTrigger then counts versions, not buckets
                merged.filter(event.isNotNull()).select(
                    event, F.lit(v).cast("long").alias("version"), *self.schema.names
                ).coalesce(1).write.mode("append").parquet(self.changes_dir)

            manifest = self._read_manifest(v - 1)
            for b in touched:
                bdir = os.path.join(data_dir, f"{BUCKET_COL}={b}")
                if os.path.isdir(bdir):
                    manifest[b] = os.path.relpath(bdir, self.path)
                else:
                    manifest.pop(b, None)  # bucket emptied (all rows deleted)
            self._write_manifest(v, manifest)
            self._flip(v)
            got = obs.get
            return {"version": v, **{k: int(got[k]) for k in _COUNTS}}
        finally:
            if merged is not None:
                merged.unpersist()
            tagged.unpersist()

    def _classify(
        self, rows: DataFrame, n_parts: int, fields: list[str] | None
    ) -> DataFrame:
        """One exchange clustered by bucket, grouped on (bucket, key):
        per key a bitmask of the row tags present plus the current and
        the batch image, then its ``event_name`` (NULL = untouched or
        no-op), ``live__`` (row stays in the table) and new image.
        Deletes win over puts of the same key. Partitioning by the bucket
        alone satisfies the (bucket, key) grouping, so the aggregate adds
        no exchange and each touched bucket lives in exactly one task —
        one file per bucket on write."""
        vals = [c for c in self.schema.names if c not in self.key_cols]
        replaced = vals if fields is None else [c for c in vals if c in fields]
        op = F.col(_OP)
        aggs = [F.bit_or(op).alias("ops__")]
        if vals:
            aggs.append(F.first(F.when(op == _CUR, F.struct(*vals)), True).alias("c__"))
        if replaced:
            aggs.append(F.first(F.when(op == _NEW, F.struct(*replaced)), True).alias("n__"))
        g = rows.repartition(n_parts, BUCKET_COL).groupBy(BUCKET_COL, *self.key_cols).agg(*aggs)

        def has(tag: int) -> F.Column:
            return F.col("ops__").bitwiseAND(tag) != 0

        cur, new, dele = has(_CUR), has(_NEW), has(_DEL)
        put = new if fields is None else F.lit(False)
        event = (
            F.when(dele, F.when(cur, F.lit("REMOVE")))
            .when(new & cur, F.lit("MODIFY"))
            .when(put, F.lit("INSERT"))
        )
        # a REMOVE journals the old image; a put replaces every value
        # column, a field update only ``fields`` of an existing row
        take_new = new & ~dele
        image = [
            (
                F.when(take_new, F.col(f"n__.{c}")).otherwise(F.col(f"c__.{c}"))
                if c in replaced
                else F.col(f"c__.{c}")
            ).alias(c)
            for c in vals
        ]
        return g.select(
            BUCKET_COL,
            event.alias("event_name"),
            (~dele & (cur | put)).alias("live__"),
            *self.key_cols,
            *image,
        )

    def _flip(self, v: int) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, self._pointer)
