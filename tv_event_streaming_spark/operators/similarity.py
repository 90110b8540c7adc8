"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **Brute-force cosine top-k** — the correctness baseline: query set ×
  corpus, JVM-side ``zip_with``/``aggregate`` dot products, per-query
  ``row_number`` top-k. O(|Q|·N); right when |Q| is small or as the
  re-rank stage.
- **Random-hyperplane LSH buckets** — the scale path: 16-bit signatures
  from deterministic (xxhash64-derived) hyperplanes; candidates share a
  bucket, then exact re-rank. Sub-linear candidate generation; recall
  tunable with bands/bits.

Determinism contract: dot products quantize each component to an int64
(floor(x·1e6)) so sums are exact integer arithmetic — bit-identical in
any engine and any summation order. Cosines derived from those integers
in double are then deterministic too (see plans/datapipe.py oracles).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from .fanout import fan_out_scan

QUANT = 1_000_000


def _q(x: Column) -> Column:
    """Quantize a float component to int64: floor(double(x)·1e6)."""
    return F.floor(x.cast("double") * QUANT).cast("long")


def quantized_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _q(x) * _q(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_norm_sq(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: _q(x) * _q(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )



def _empty_topk(embeddings: DataFrame, id_col: str, score_field: str) -> DataFrame:
    """Zero-row (query_id, neighbor_id, rank, <score>) frame with the
    id columns typed like ``id_col`` — the degenerate-input result shape
    shared by the top-k entry points."""
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return embeddings.sparkSession.createDataFrame(
        [],
        f"query_id {id_type}, neighbor_id {id_type}, rank int, {score_field}",
    )


def nonzero_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exclude zero-norm vectors from similarity scoring. A zero vector
    has no direction: every cosine against it is 0/0 — IEEE NaN in
    Spark (which sorts FIRST under DESC) but NULL in SQL engines (which
    sort last), so one dead-model output in the corpus would both
    corrupt top-k rankings and diverge them cross-engine (found by the
    embedding fuzzer). Exclusion is the defined semantics, applied at
    every cosine-scoring entry point and mirrored as a WHERE norm > 0
    in the SQL twins; PQ ENCODING keeps zero vectors (squared-L2 needs
    no normalization — they encode to the all-nearest-codeword row).
    The filter is one quantized-integer comparison, map-side."""
    return embeddings.filter(quantized_norm_sq(F.col(vec_col)) > 0)


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: queries (filtered subset) × corpus.

    The query side is broadcast (it's small by construction); the corpus
    never shuffles at scale. r12: when the corpus scan is one
    unsplittable file, the |corpus|×|queries| dot-product stage fans out
    across the cores (scale-adaptive no-op on splittable inputs —
    fanout.py; measured 1.0-1.2 s single-task at sf0.1 inside
    ann_recall_eval). Ranking ties break on neighbor id for determinism.
    """
    embeddings = nonzero_norm(embeddings, vec_col)
    q = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = fan_out_scan(embeddings, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        quantized_norm_sq(F.col(vec_col)).alias("cnorm"),
    )
    pairs = F.broadcast(q.withColumn("qnorm", quantized_norm_sq(F.col("qvec")))).join(
        c, F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            quantized_dot(F.col("qvec"), F.col("cvec")).cast("double")
            / F.sqrt(F.col("qnorm").cast("double") * F.col("cnorm").cast("double"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def plane_sign(p: int, d: int) -> int:
    """±1 component of hyperplane p at dimension d — a fixed integer
    mixing formula evaluated at PLAN BUILD time (python ints), so the
    identical pattern can be embedded in the DuckDB-oracle SQL. No
    driver-side randomness ships to executors; no per-row hashing."""
    return 1 if ((p * 2654435761 + d * 40503 + 12345) >> 7) % 2 == 0 else -1


def hyperplane_signature(
    vec: Column, dims: int, bits: int = 16, plane_offset: int = 0
) -> Column:
    """Random-hyperplane LSH signature as an integer bucket id.

    The signature bit is sign(Σ_d q(vec[d])·plane[p][d]) over the
    int64-quantized components — exact integer sums, so the sign decision
    (and therefore the bucket) is bit-identical in any engine and any
    summation order. ``plane_offset`` selects a disjoint plane set so
    several independent band signatures can be derived (LSH
    OR-construction)."""
    qv = F.transform(vec, _q)

    def bit(i: int) -> Column:
        p = plane_offset + i
        signs = F.array(*[F.lit(plane_sign(p, d)).cast("long") for d in range(dims)])
        dot = F.aggregate(
            F.zip_with(qv, signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + bit(i)
    return out


def banded_signatures_vectorized(
    dims: int, bands: int, bits_per_band: int
):
    """Arrow-batched hyperplane signatures: a ``pandas_udf`` mapping an
    ``array<float>`` column to ``array<bigint>`` band buckets with ONE
    int64 matmul per batch against the ±1 plane matrix — ~1000× fewer
    interpreter steps than evaluating
    bands·bits higher-order-function
    dots per row (HOF lambdas don't enter whole-stage codegen). Exact:
    quantization floor(double(x)·1e6)→int64 and the integer matmul
    reproduce :func:`hyperplane_signature` bit-for-bit, so the DuckDB
    oracle (plans.datapipe._lsh_bucket_sql) is unchanged."""
    import numpy as np  # noqa: PLC0415

    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    planes = np.array(
        [
            [plane_sign(b * bits_per_band + i, d) for d in range(dims)]
            for b in range(bands)
            for i in range(bits_per_band)
        ],
        dtype=np.int64,
    ).T  # dims × (bands·bits)
    quant = QUANT
    n_bands, n_bits = bands, bits_per_band
    weights = np.array([1 << i for i in range(bits_per_band)], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def sig(vecs):
        import numpy as _np  # noqa: PLC0415
        import pandas as _pd  # noqa: PLC0415

        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return _pd.Series([], dtype=object)
        mat = _np.floor(
            _np.stack(vecs.to_numpy()).astype(_np.float64) * quant
        ).astype(_np.int64)
        bits = (mat @ planes) > 0  # exact int64 dots, sign per plane
        buckets = bits.reshape(-1, n_bands, n_bits).astype(_np.int64) @ weights
        return _pd.Series(buckets.tolist())

    return sig


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    dims: int = 64,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """LSH-bucketed ANN: signature equi-join generates candidates, exact
    quantized cosine re-ranks. Approximate — recall depends on bits.
    Signatures are Arrow-vectorized (one int64 matmul per batch — see
    :func:`banded_signatures_vectorized`); the JVM expression form
    :func:`hyperplane_signature` computes the same buckets bit-for-bit
    and remains for pure-JVM callers.

    ``probe_hamming`` is the multi-probe recall lever (the standard
    scale trade: more probes beat more tables because the corpus side
    is built ONCE): with ``probe_hamming=1`` each query ALSO probes the
    ``bits`` buckets at Hamming distance 1 from its own (a true near
    neighbor that lands one sign-flip away — the most likely miss —
    is recovered). Implemented as a QUERY-side explode over the XOR
    masks, keeping the corpus-side join an equi-join on ``bucket``
    (never a popcount theta-join — that would defeat the bucket
    shuffle/broadcast). Query cost multiplies by ``bits+1``; the corpus
    is scanned and bucketed exactly once either way. A (query,
    neighbor) pair matches at most one mask (their bucket XOR is
    fixed), so no candidate dedup is needed."""
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming supports 0 (exact bucket) or 1")
    embeddings = nonzero_norm(embeddings, vec_col)
    sig_udf = banded_signatures_vectorized(dims, 1, bits)
    sig = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(sig_udf(F.col(vec_col)), 1).alias("bucket"),
    )
    # r12 NOTE: fan-out was A/B'd here and REJECTED — fanning the shared
    # sig frame put the exchange on the broadcast-build path too
    # (+0.25 s on ann_cosine_lsh at sf0.1), and a corpus-side-only fan
    # still measured ~+0.12 s: this entry's single-task stages are
    # broadcast builds that already overlap the main stage, so the
    # exchange buys nothing. The corpus stays on the plain scan.
    masks = [0] + ([1 << i for i in range(bits)] if probe_hamming else [])
    q = (
        sig.filter(query_filter)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(
                F.array(*[F.lit(m).cast("long") for m in masks])
            ).alias("_mask"),
            F.col("bucket").alias("_qbucket"),
        )
        .select(
            "query_id",
            "qvec",
            F.col("_qbucket").bitwiseXOR(F.col("_mask")).alias("bucket"),
        )
    )
    c = sig.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("bucket"),
    )
    pairs = F.broadcast(q).join(c, "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            quantized_dot(F.col("qvec"), F.col("cvec")).cast("double")
            / F.sqrt(
                quantized_norm_sq(F.col("qvec")).cast("double")
                * quantized_norm_sq(F.col("cvec")).cast("double")
            )
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed spherical-k-means refinement of the IVF seed centroids
    (Lloyd's iterations, cosine assignment, mean update).

    Scale shape per iteration:
    - assignment is pure map-side: all k centroids travel as ONE
      broadcast row; each vector argmaxes cosine locally (no corpus
      shuffle, no row blowup);
    - the update is ``posexplode(dim) → groupBy(cell, dim) → sum/count``
      — hash aggregation collapses each input partition to k·dims
      partials map-side, so the shuffle carries #partitions·k·dims tiny
      rows (the ``treeAggregate`` shape MLlib uses), never the corpus;
    - only the k·dims aggregated sums reach the driver.

    Internal float math (this is an index-build step, not an
    oracle-checked query); empty cells keep their previous centroid.
    """
    embeddings = nonzero_norm(embeddings, vec_col)
    spark = embeddings.sparkSession
    seeds = sorted(
        embeddings.filter(F.col(id_col) < k).select(id_col, vec_col).collect(),
        key=lambda r: r[0],
    )
    if len(seeds) != k:
        raise ValueError(
            f"k-means seeding expects ids 0..{k - 1} to exist; "
            f"found {len(seeds)} seed vectors"
        )
    cents: list[list[float]] = [[float(x) for x in r[1]] for r in seeds]
    dims = len(cents[0])

    for _ in range(iters):
        import math  # noqa: PLC0415

        cents_row = spark.createDataFrame(
            [
                (
                    [
                        (i, c, math.sqrt(sum(x * x for x in c)))
                        for i, c in enumerate(cents)
                    ],
                )
            ],
            "_cents array<struct<cent_id:int,cvec:array<double>,cnorm:double>>",
        )

        def cent_score(c: Column) -> Column:
            dot = F.aggregate(
                F.zip_with(F.col("_dv"), c["cvec"], lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            # |v| is constant per row ⇒ dot/|c| is argmax-equivalent to
            # cosine. A zero-norm centroid would make this NULL/NaN and
            # break array_max/array_position (silent cell -1) — score it
            # -inf so no row ever assigns to it.
            return F.when(c["cnorm"] > 0, dot / c["cnorm"]).otherwise(
                F.lit(float("-inf"))
            )

        # argmax via array_position(max): first match ⇒ lowest cent_id
        # tie-break, and cent_id IS the enumeration index
        scores = F.transform(F.col("_cents"), cent_score)
        best = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        staged = embeddings.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_dv")
        )
        sums = (
            staged.crossJoin(F.broadcast(cents_row))
            .select(best.alias("cell"), F.posexplode("_dv").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]
        acc: dict[int, list[tuple[int, float, int]]] = {}
        for r in sums:
            acc.setdefault(r.cell, []).append((r.dim, r.s, r.n))
        for cell, dim_rows in acc.items():
            for dim, s, n in dim_rows:
                new_cents[cell][dim] = s / n
        cents = new_cents

    return [(i, c) for i, c in enumerate(cents)]


def kmeans_update_stats(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE Lloyd iteration of spherical k-means as a driver-checkable
    DataFrame: assign every vector to its nearest seed centroid (the
    same quantized assignment :func:`cosine_topk_ivf` uses — int64
    component quantization, exact integer dot/norm sums, one double
    division per score, ties to the lowest centroid id), then emit the
    per-(cell, dim) sufficient statistics of the centroid update —
    exact int64 component sums + member counts — and the updated
    centroid mean as ONE final double division. This is exactly the
    arithmetic :func:`kmeans_centroids` iterates (assignment + mean
    update), in a cross-engine-deterministic form, so the IVF
    refinement math carries a DuckDB-oracle hash.

    Scale shape per the kmeans_centroids docstring: assignment is pure
    map-side against a single broadcast centroid row; the update is
    posexplode → groupBy(cell, dim) with map-side partial aggregation —
    the shuffle carries ≤ #partitions·k·dims partial rows, never the
    corpus."""
    import math  # noqa: PLC0415

    embeddings = nonzero_norm(embeddings, vec_col)
    cent_rows = sorted(
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    spark = embeddings.sparkSession
    # single broadcast row, quantized driver-side (see cosine_topk_ivf
    # for why data beats plan literals here)
    cents_row = spark.createDataFrame(
        [
            (
                [
                    (int(r[0]), qc, sum(q * q for q in qc))
                    for r in cent_rows
                    for qc in [[int(math.floor(float(x) * QUANT)) for x in r[1]]]
                ],
            )
        ],
        "_cents array<struct<cent_id:bigint,qcvec:array<bigint>,cnormsq:bigint>>",
    )
    staged = embeddings.select(
        F.transform(F.col(vec_col), _q).alias("_qv")
    ).withColumn(
        "_nv",
        F.aggregate(
            F.transform(F.col("_qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )

    def cent_cos(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(F.col("_qv"), c["qcvec"], lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double") / F.sqrt(
            F.col("_nv").cast("double") * c["cnormsq"].cast("double")
        )

    # argmin over (-score, cent_id) via default lexicographic array_sort
    # — evaluates the 16 centroid scores exactly ONCE per row and ties
    # break to the lowest cent_id, matching the oracle's row_number
    # (ORDER BY score DESC, cent_id). named_struct keeps real field
    # names (.alias() inside transform lambdas silently becomes col1).
    ordered = F.array_sort(
        F.transform(
            F.col("_cents"),
            lambda c: F.named_struct(
                F.lit("nscore"), -cent_cos(c), F.lit("cent_id"), c["cent_id"]
            ),
        )
    )
    # cell is computed BEFORE the posexplode: an expression alongside a
    # generator lands in the post-Generate Project and would re-evaluate
    # the 16-centroid scoring once per exploded dim (measured 15s vs 1s
    # at sf0.1)
    assigned = (
        staged.crossJoin(F.broadcast(cents_row))
        .select(F.element_at(ordered, 1)["cent_id"].alias("cell"), "_qv")
        .select("cell", F.posexplode("_qv").alias("dim", "qval"))
    )
    return (
        assigned.groupBy("cell", "dim")
        .agg(F.count("*").alias("n"), F.sum("qval").alias("sum_q"))
        .select(
            "cell",
            F.col("dim").cast("int").alias("dim"),
            F.col("n").cast("long").alias("n"),
            F.col("sum_q").cast("long").alias("sum_q"),
            (
                F.col("sum_q").cast("double")
                / (F.col("n") * F.lit(QUANT)).cast("double")
            ).alias("mean_c"),
        )
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into centroid cells,
    probe only the ``nprobe`` nearest cells per query, exact-rank inside.

    Centroids are the vectors with id < ``n_centroids`` — a deterministic
    seed assignment (production would refine with k-means rounds; the
    cell/probe/re-rank machinery is identical and this keeps the operator
    oracle-checkable). Cell assignment is a per-row sort of the
    n_centroids cosine scores against a SINGLE-ROW broadcast holding all
    centroids as one array column — pure map-side (broadcast
    nested-loop join adds a column, not rows), NO shuffle and NO ×16 row
    blowup before the cell join; at scale the one-time
    ``repartition(cell)`` of the assigned corpus IS the IVF index build,
    and queries touch only nprobe/n_centroids of the data.
    """
    import math  # noqa: PLC0415

    embeddings = nonzero_norm(embeddings, vec_col)
    if centroids is not None:
        # refined centroids (e.g. from kmeans_centroids) — same machinery
        cent_rows: list = list(centroids)
    else:
        cent_rows = sorted(
            embeddings.filter(F.col(id_col) < n_centroids)
            .select(id_col, vec_col)
            .collect(),
            key=lambda r: r[0],
        )
    # centroids travel as ONE broadcast row of array<struct> (data), NOT
    # as literal arrays in the plan — a 16×64-literal expression tree
    # costs seconds of analyzer time on every fresh plan. Components
    # quantize driver-side with the same floor(x·1e6) the column path
    # uses, norms precomputed exactly.
    spark = embeddings.sparkSession
    cents_row = spark.createDataFrame(
        [
            (
                [
                    (int(r[0]), qc, sum(q * q for q in qc))
                    for r in cent_rows
                    for qc in [[int(math.floor(float(x) * QUANT)) for x in r[1]]]
                ],
            )
        ],
        "_cents array<struct<cent_id:bigint,qcvec:array<bigint>,cnormsq:bigint>>",
    )

    staged = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.transform(F.col(vec_col), _q).alias("_qv"),
    ).withColumn(
        "_nv",
        F.aggregate(
            F.transform(F.col("_qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )

    def cent_cos(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(F.col("_qv"), c["qcvec"], lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double") / F.sqrt(
            F.col("_nv").cast("double") * c["cnormsq"].cast("double")
        )

    # per-row: score all centroids, sort (cos desc, cent_id asc) map-side
    ordered = F.array_sort(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                cent_cos(c).alias("ccos"), c["cent_id"].alias("cent_id")
            ),
        ),
        lambda a, b: F.when(a["ccos"] > b["ccos"], F.lit(-1))
        .when(a["ccos"] < b["ccos"], F.lit(1))
        .otherwise((a["cent_id"] - b["cent_id"]).cast("int")),
    )
    ranked = staged.crossJoin(F.broadcast(cents_row)).select(
        id_col, vec_col, "_nv", ordered.alias("_ordered")
    )
    assign = ranked.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at("_ordered", 1)["cent_id"].alias("cell"),
        F.col("_nv").alias("cnorm"),
    )
    probes = (
        ranked.filter(query_filter)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.col("_nv").alias("qnorm"),
            F.explode(F.slice("_ordered", 1, nprobe)).alias("_probe"),
        )
        .select("query_id", "qvec", F.col("_probe")["cent_id"].alias("cell"), "qnorm")
    )
    cands = F.broadcast(probes).join(assign, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        (
            quantized_dot(F.col("qvec"), F.col("cvec")).cast("double")
            / F.sqrt(F.col("qnorm").cast("double") * F.col("cnorm").cast("double"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the corpus written ONCE partitioned by
    its assigned cell (``cell=<id>/`` parquet directories). This is the
    one-time shuffle the in-memory :func:`cosine_topk_ivf` only talks
    about — after it, every query reads ONLY its probed cells via
    partition pruning (the scan's PartitionFilters, verified in
    tests/test_similarity.py), i.e. nprobe/n_centroids of the data.

    Cell assignment reuses the map-side argmax (one broadcast row of
    centroids, no corpus shuffle besides the partitioned write itself).
    """
    import math  # noqa: PLC0415

    embeddings = nonzero_norm(embeddings, vec_col)
    spark = embeddings.sparkSession
    if centroids is None:
        cent_rows: list = sorted(
            embeddings.filter(F.col(id_col) < n_centroids)
            .select(id_col, vec_col)
            .collect(),
            key=lambda r: r[0],
        )
    else:
        cent_rows = list(centroids)
    cents_row = spark.createDataFrame(
        [
            (
                [
                    (int(r[0]), qc, sum(q * q for q in qc))
                    for r in cent_rows
                    for qc in [[int(math.floor(float(x) * QUANT)) for x in r[1]]]
                ],
            )
        ],
        "_cents array<struct<cent_id:bigint,qcvec:array<bigint>,cnormsq:bigint>>",
    )
    staged = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.transform(F.col(vec_col), _q).alias("_qv"),
    ).withColumn(
        "_nv",
        F.aggregate(
            F.transform(F.col("_qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )

    def cent_cos(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(F.col("_qv"), c["qcvec"], lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double") / F.sqrt(
            F.col("_nv").cast("double") * c["cnormsq"].cast("double")
        )

    ordered = F.array_sort(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(cent_cos(c).alias("ccos"), c["cent_id"].alias("cent_id")),
        ),
        lambda a, b: F.when(a["ccos"] > b["ccos"], F.lit(-1))
        .when(a["ccos"] < b["ccos"], F.lit(1))
        .otherwise((a["cent_id"] - b["cent_id"]).cast("int")),
    )
    (
        staged.crossJoin(F.broadcast(cents_row))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_nv").alias("cnorm"),
            F.element_at(ordered, 1)["cent_id"].alias("cell"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def query_ivf_index(
    spark,
    path: str,
    query_vecs: list[tuple[int, list[float]]],
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors from a materialized IVF index: probe cells
    are chosen driver-side from the (small) centroid list, so the cell
    predicate reaches the scan as a PARTITION FILTER — only
    nprobe/n_centroids of the index files are read. The scored candidate
    set is |queries|·(probed cells), never the corpus."""
    import math  # noqa: PLC0415

    qcents = [
        (cid, [int(math.floor(float(x) * QUANT)) for x in vec])
        for cid, vec in centroids
    ]

    def probe_cells(qvec: list[float]) -> list[int]:
        qq = [int(math.floor(float(x) * QUANT)) for x in qvec]
        qn = sum(x * x for x in qq)
        scored = []
        for cid, cq in qcents:
            dot = sum(a * b for a, b in zip(qq, cq))
            cn = sum(x * x for x in cq)
            scored.append((-(dot / math.sqrt(qn * cn)) if qn and cn else 0.0, cid))
        return [cid for _, cid in sorted(scored)[:nprobe]]

    rows = [
        (int(qid), qvec, probe_cells(qvec))
        for qid, qvec in query_vecs
    ]
    qdf = spark.createDataFrame(
        [(qid, qvec, c) for qid, qvec, cells in rows for c in cells],
        "query_id long, qvec array<float>, cell int",
    )
    index = spark.read.parquet(path)
    cells_needed = sorted({c for _, _, cs in rows for c in cs})
    cands = (
        index.filter(F.col("cell").isin(cells_needed))
        .join(F.broadcast(qdf), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            quantized_dot(F.col("qvec"), F.col("embedding")).cast("double")
            / F.sqrt(
                quantized_norm_sq(F.col("qvec")).cast("double")
                * F.col("cnorm").cast("double")
            )
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


def allpairs_cosine_lsh(
    embeddings: DataFrame,
    bands: int = 4,
    bits_per_band: int = 8,
    dims: int = 64,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 2048,
) -> DataFrame:
    """All-pairs cosine over LSH candidates — fully distributed, no
    driver-side collect and no global broadcast.

    Candidate generation is the LSH OR-construction: ``bands``
    independent hyperplane signatures (disjoint plane sets); two vectors
    are candidates iff they share at least one band's bucket. Scoring is
    a per-bucket int64 block matmul inside ``applyInPandas`` — one
    vectorized multiply per (band, bucket) group instead of millions of
    interpreted per-pair expressions. A pair sharing several bands is
    scored identically in each (exact integer arithmetic ⇒ bit-identical
    doubles), so the final ``distinct`` keeps one row.

    **Hot-bucket guard**: a degenerate bucket (many near-identical
    vectors — e.g. a corpus of exact copies all landing in one bucket)
    would make one task O(bucket²). Buckets larger than
    ``max_bucket_size`` are sub-split into ``ceil(size/cap)`` blocks by a
    row-hash; each block PAIR (i ≤ j) becomes its own group, scoring
    block-i×block-j only. Total work is still O(bucket²) — the pairs
    exist — but the memory/latency unit degrades gracefully to
    O(cap²) per task, spread across (nblocks·(nblocks+1))/2 parallel
    tasks instead of one. Normal-size buckets take the nblocks=1 path:
    one (0,0) group, zero extra rows.

    Shuffle profile: one tiny bucket-size aggregation (≤ bands·2^bits
    rows, broadcast back), one hash-partition of (corpus × bands) rows on
    (band, bucket, block-pair) + one distinct on emitted pairs — linear
    in candidates, never O(N²) rows. At 100 TB raise ``bits_per_band`` so
    buckets stay small; the guard is the backstop, not the plan.

    Exactness contract (matches the DuckDB oracle bit-for-bit): component
    quantization floor(double(x)·1e6) → int64, exact integer dot/norm,
    ONE final double division.
    """
    # Explicit repartitions (not left to AQE) for the two CPU-heavy
    # stages: signature computation parallelizes even from a single
    # unsplittable row group, and the per-group scorer keeps one task
    # per core — AQE would coalesce these tiny-byte exchanges into
    # 1-2 partitions and serialize thousands of group calls.
    embeddings = nonzero_norm(embeddings, vec_col)
    n_par = embeddings.sparkSession.sparkContext.defaultParallelism
    sig_udf = banded_signatures_vectorized(dims, bands, bits_per_band)
    sig = embeddings.repartition(n_par, F.col(id_col)).select(
        F.col(id_col),
        F.col(vec_col),
        sig_udf(F.col(vec_col)).alias("_buckets"),
    )
    exploded = sig.select(
        id_col,
        vec_col,
        F.posexplode("_buckets").alias("band", "bucket"),
        # census + blocked both read it: signature UDF runs once.
        # Disk-spillable; the returned frame is lazy so this function
        # cannot unpersist — ContextCleaner frees the blocks when the
        # frame is garbage-collected.
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # bucket census: ≤ bands·2^bits_per_band rows — broadcast it back
    sizes = exploded.groupBy("band", "bucket").agg(F.count("*").alias("_cnt"))
    nblocks = F.ceil(F.col("_cnt") / F.lit(max_bucket_size)).cast("int")
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int")
    blocked = (
        exploded.join(F.broadcast(sizes), ["band", "bucket"])
        .withColumn("_nb", nblocks)
        .withColumn("_blk", blk)
        .select(
            id_col,
            vec_col,
            "band",
            "bucket",
            "_blk",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.col("_nb") - 1),
                        lambda x: F.struct(
                            F.least(x, F.col("_blk")).alias("gi"),
                            F.greatest(x, F.col("_blk")).alias("gj"),
                        ),
                    )
                )
            ).alias("_g"),
        )
        .select(
            id_col, vec_col, "band", "bucket", "_blk",
            F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
        )
        .repartition(n_par, "band", "bucket", "_gi", "_gj")
    )

    score_group = _make_block_scorer(id_col, vec_col, QUANT, threshold)
    pairs = blocked.groupBy("band", "bucket", "_gi", "_gj").applyInPandas(
        score_group, schema="id_a bigint, id_b bigint, cos_sim double"
    )
    return pairs.distinct()


def _make_block_scorer(idc: str, vecc: str, quant: int, thr: float | None):
    """Per-group exact block-matmul pair scorer for ``applyInPandas``.

    Expects ``_gi``/``_gj`` (block-pair group keys) and ``_blk`` (the
    row's block) columns. Scores a<b pairs; in a cross-block group
    (gi != gj) only pairs whose blocks differ — within-block pairs belong
    to the (b,b) groups, so each pair is scored exactly once per bucket.
    The closure is self-contained (numpy/pandas only): safe to pickle by
    value into sessions that can't import this package on workers."""

    def score_group(pdf):
        import numpy as _np  # noqa: PLC0415
        import pandas as _pd  # noqa: PLC0415

        ids = pdf[idc].to_numpy()
        mat = _np.floor(
            _np.stack(pdf[vecc].to_numpy()).astype(_np.float64) * quant
        ).astype(_np.int64)
        norms = (mat * mat).sum(axis=1)
        dots = mat @ mat.T  # exact int64
        cos = dots.astype(_np.float64) / _np.sqrt(
            norms.astype(_np.float64)[:, None] * norms.astype(_np.float64)[None, :]
        )
        mask = ids[:, None] < ids[None, :]  # a < b, no self-pairs
        if pdf["_gi"].iat[0] != pdf["_gj"].iat[0]:
            blks = pdf["_blk"].to_numpy()
            mask &= blks[:, None] != blks[None, :]
        if thr is not None:
            mask &= cos >= thr
        ai, bi = _np.nonzero(mask)
        return _pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bi], "cos_sim": cos[ai, bi]}
        )

    return score_group


def allpairs_cosine_exact(
    embeddings: DataFrame,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 2048,
) -> DataFrame:
    """EXACT distributed all-pairs cosine — O(N²) work by construction,
    but never O(N²) in one task: the corpus is split into
    ``ceil(N/max_block_size)`` hash blocks and every block PAIR (i ≤ j)
    is scored as its own bounded int64 matmul group (O(cap²) memory per
    task, (nb·(nb+1))/2 tasks). Use as the recall baseline for the LSH
    paths, or when 100% recall is required on a corpus small enough to
    afford N²."""
    embeddings = nonzero_norm(embeddings, vec_col)
    n = embeddings.count()
    nb = max(1, -(-n // max_block_size))
    blocked = (
        embeddings.select(
            id_col,
            vec_col,
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int").alias("_blk"),
        )
        .select(
            id_col,
            vec_col,
            "_blk",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            F.struct(
                                F.least(F.lit(x), F.col("_blk")).alias("gi"),
                                F.greatest(F.lit(x), F.col("_blk")).alias("gj"),
                            )
                            for x in range(nb)
                        ]
                    )
                )
            ).alias("_g"),
        )
        .select(
            id_col, vec_col, "_blk",
            F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
        )
    )
    n_par = embeddings.sparkSession.sparkContext.defaultParallelism
    score_group = _make_block_scorer(id_col, vec_col, QUANT, threshold)
    return (
        blocked.repartition(n_par, "_gi", "_gj")
        .groupBy("_gi", "_gj")
        .applyInPandas(score_group, schema="id_a bigint, id_b bigint, cos_sim double")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 4,
    bits_per_band: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold, a<b).

    Default path is LSH-APPROXIMATE (the threshold form of
    :func:`allpairs_cosine_lsh`): a pair is found only if it shares at
    least one of ``bands`` hyperplane-signature buckets. Recall is
    probabilistic — for a pair at angle θ the per-plane agreement is
    1−θ/π, so P(found) = 1−(1−(1−θ/π)^bits_per_band)^bands; borderline
    pairs (cos near the threshold, some plane dot near zero) CAN be
    missed. Exactly-identical/scaled copies flip no sign and are always
    found. Tune bands/bits for the recall you need, or pass
    ``exact=True`` to delegate to :func:`allpairs_cosine_exact` —
    100% recall at O(N²) work (still task-bounded), for small corpora
    or recall audits."""
    if exact:
        return allpairs_cosine_exact(
            embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    return allpairs_cosine_lsh(
        embeddings,
        bands=bands,
        bits_per_band=bits_per_band,
        dims=dims,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )


#: Centroid count at which :func:`_seed_cell_assignment` switches from
#: exact one-level (every vector scored against every centroid, N·C·d)
#: to the two-level coarse-then-fine search (N·~2√C·d). Below the
#: threshold the exact scan is both cheap and the historically pinned
#: semantics (every catalog entry pins C=16; the auto rule stays under
#: 256 up to N=65 536); above it the assignment term is what made
#: the cell-confined operators O(N^1.5) (VERDICT r8/r9 — knn_pagerank
#: d1000 slope 1.07), and two-level is the ordered fix.
_TWO_LEVEL_MIN_CENTROIDS = 256


def _seed_cell_assignment(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool | None = None,
    two_level: bool | None = None,
) -> DataFrame:
    """(id, vec, cell): nearest-seed-centroid assignment, cross-engine
    exact — the same quantized arithmetic :func:`kmeans_update_stats`
    uses (int64 component quantization, exact integer dot/norm, ONE
    double division per score, ties to the lowest centroid id), kept as
    a reusable frame so set-shaped consumers (semantic dedup, cell
    histograms) can share it. Pure map-side: the centroids travel as a
    single broadcast row (expression path) or inside the Arrow UDF
    closure (vectorized path); the corpus never shuffles.

    Two physically different, bitwise-identical paths (pinned by
    test_seed_cell_assignment_vectorized_identical):

    - ``vectorized=False`` — the Catalyst higher-order-function
      expression (array_sort over per-centroid aggregate dots). HOFs
      run INTERPRETED (no whole-stage codegen), so per-row cost is
      ~n_centroids·dims interpreted arithmetic evals: right for the
      catalog-pinned n_centroids=16, and measured pathological at the
      √N scale rule (jstack: one task 10+ CPU-minutes inside
      ArraySort.eval at n_centroids=707 over 500 k rows — the r7 slope
      sweep's straggler).
    - ``vectorized=True`` — one Arrow ``mapInPandas`` pass whose batch
      work is an int64 numpy matmul (Qv @ Qc.T) + IEEE-identical score
      division; ~n_centroids·dims·rows FLOP-rate work instead of
      interpreted-eval rate. Exactness holds because every step mirrors
      the expression path bit-for-bit: float32→float64 widening is
      exact, floor(x·1e6) int64 quantization identical, int64 dots
      exact (no overflow at |q| ≤ ~1e6·dims), and the final
      dot/sqrt(nv·cnormsq) is the same correctly-rounded IEEE double
      op sequence; argmax-first-index = lowest-centroid-id tie-break.
      Requires uniform vector length == centroid dims (the corpus
      contract; the expression path's zip_with-null semantics for
      ragged rows are not replicated).

    Default (``vectorized=None``): auto — the UDF path at
    n_centroids ≥ 64, where the interpreted-eval term dominates.

    ``two_level`` (default auto: on at n_centroids ≥
    :data:`_TWO_LEVEL_MIN_CENTROIDS`) switches the vectorized path to
    the coarse-then-fine search of
    :func:`_seed_cell_assignment_two_level` — per-vector cost ~2√C dots
    instead of C, the fix for the O(N^1.5) assignment law the r8/r9
    verdicts measured on the √N-auto cell operators. Two-level is a
    bounded APPROXIMATION (a vector lands on the nearest fine centroid
    within its coarse group, which for borderline vectors may differ
    from the global nearest); every explicit catalog pin sits at C=16,
    far below the threshold, so pinned outputs are byte-identical."""
    import math  # noqa: PLC0415

    embeddings = nonzero_norm(embeddings, vec_col)
    if vectorized is None:
        vectorized = n_centroids >= 64
    if two_level is None:
        two_level = n_centroids >= _TWO_LEVEL_MIN_CENTROIDS
    if two_level and vectorized:
        return _seed_cell_assignment_two_level(
            embeddings, n_centroids, id_col, vec_col
        )
    if vectorized:
        return _seed_cell_assignment_vectorized(
            embeddings, n_centroids, id_col, vec_col
        )
    cent_rows = sorted(
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if not cent_rows:
        # path identity (ADVICE r7 #2): the vectorized path raises on a
        # seedless corpus; silently emitting NULL cells here would make
        # the auto-switch change the FAILURE MODE, not just the plan
        raise ValueError(
            f"no nonzero-norm centroid seeds with {id_col} < {n_centroids}"
        )
    spark = embeddings.sparkSession
    cents_row = spark.createDataFrame(
        [
            (
                [
                    (int(r[0]), qc, sum(q * q for q in qc))
                    for r in cent_rows
                    for qc in [[int(math.floor(float(x) * QUANT)) for x in r[1]]]
                ],
            )
        ],
        "_cents array<struct<cent_id:bigint,qcvec:array<bigint>,cnormsq:bigint>>",
    )
    # r12: the corpus pass is ~n_centroids·dims interpreted-HOF evals per
    # row on whatever parallelism the scan gives — which for the
    # unsplittable test files is ONE task. Fan out (scale-adaptive
    # no-op on real clusters) so the per-row argmin spreads across the
    # cores; the centroid collect above pushes its id-filter into the
    # raw scan either way.
    embeddings = fan_out_scan(embeddings, id_col)
    staged = embeddings.select(
        id_col,
        vec_col,
        F.transform(F.col(vec_col), _q).alias("_qv"),
    ).withColumn(
        "_nv",
        F.aggregate(
            F.transform(F.col("_qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )

    def cent_cos(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(F.col("_qv"), c["qcvec"], lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double") / F.sqrt(
            F.col("_nv").cast("double") * c["cnormsq"].cast("double")
        )

    ordered = F.array_sort(
        F.transform(
            F.col("_cents"),
            lambda c: F.named_struct(
                F.lit("nscore"), -cent_cos(c), F.lit("cent_id"), c["cent_id"]
            ),
        )
    )
    return staged.crossJoin(F.broadcast(cents_row)).select(
        id_col,
        vec_col,
        F.element_at(ordered, 1)["cent_id"].cast("int").alias("cell"),
    )


def _seed_cell_assignment_vectorized(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow/numpy twin of the :func:`_seed_cell_assignment` expression
    path (see its docstring for the bit-identity argument). ``embeddings``
    must already be nonzero-norm filtered. The closure is self-contained
    (numpy only) so cloudpickle ships it by value — no package import on
    the Python workers."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    cent_rows = sorted(
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if not cent_rows:
        raise ValueError(
            f"no nonzero-norm centroid seeds with {id_col} < {n_centroids}"
        )
    cent_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    qc = np.array(
        [[int(math.floor(float(x) * QUANT)) for x in r[1]] for r in cent_rows],
        dtype=np.int64,
    )
    cnormsq = (qc * qc).sum(axis=1).astype(np.float64)
    dims, quant = qc.shape[1], QUANT

    out_fields = embeddings.select(id_col, vec_col).schema.fields
    out_schema = T.StructType(
        [*out_fields, T.StructField("cell", T.IntegerType(), False)]
    )

    def assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy())
            if v.shape[1] != dims:
                raise ValueError(
                    f"vector length {v.shape[1]} != centroid dims {dims}"
                )
            # floor(double(x)·QUANT): float32→float64 widening is exact,
            # so this is bit-identical to the expression path's _q
            qv = np.floor(v.astype(np.float64) * quant).astype(np.int64)
            nv = (qv * qv).sum(axis=1).astype(np.float64)
            dots = qv @ qc.T  # exact int64
            scores = dots.astype(np.float64) / np.sqrt(nv[:, None] * cnormsq)
            # first max index over ascending cent_id = lowest-id tie-break
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cell"] = cent_ids[scores.argmax(axis=1)].astype(np.int32)
            yield pdf

    # r12: one scan partition = one Python worker for the whole batch
    # matmul; fan out first (scale-adaptive no-op on real clusters)
    return fan_out_scan(embeddings.select(id_col, vec_col), id_col).mapInPandas(
        assign_batches, schema=out_schema
    )


def _seed_cell_assignment_two_level(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Coarse-then-fine nearest-centroid assignment — the sub-O(N·C)
    search the r8/r9 verdicts ordered for the cell-confined operators
    (the same coarse/fine decomposition :func:`ivfpq_index` owns on the
    query side, applied to the corpus-assignment side).

    Search structure, all in the engine's quantized arithmetic:

    - FINE centroids: the usual deterministic seeds (nonzero-norm rows
      with ``id < n_centroids``), C of them.
    - COARSE centroids: the first G = max(16, isqrt(C)) fine centroids.
      Driver-side numpy groups every fine centroid under its nearest
      coarse one (C·G·d flops on C rows — trivia next to the corpus
      pass); each coarse centroid is additionally a member of its own
      group, so no group is ever empty.
    - Per corpus vector (one Arrow ``mapInPandas`` pass, same batch
      matmul kernel as the one-level path): nearest coarse centroid
      (G dots), then nearest fine centroid *within that coarse group*
      (~C/G dots) — ~2√C dots/vector instead of C, which at the √N auto
      rule turns the N·√N·d assignment term into N·N^¼·d.

    APPROXIMATION CONTRACT: the result is the nearest fine centroid of
    the vector's coarse group — for vectors near a coarse boundary this
    may differ from the global nearest fine centroid. The cell operators
    (semantic_dedup / knn_graph / cell histograms) treat cells as
    heuristic locality partitions, so a boundary vector moving to an
    adjacent cell changes *which* near-pairs are visible, never the
    correctness of emitted pairs — the identical trade the SemDeDup /
    IVF literature already makes at the cluster level. Everything below
    the argmax is still exact int64/IEEE-double and deterministic
    (argmax-first-index = lowest-id tie-break at BOTH levels), so
    outputs remain engine-independent and oracle-hashable.
    ``embeddings`` must already be nonzero-norm filtered."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    cent_rows = sorted(
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if not cent_rows:
        raise ValueError(
            f"no nonzero-norm centroid seeds with {id_col} < {n_centroids}"
        )
    cent_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    qc = np.array(
        [[int(math.floor(float(x) * QUANT)) for x in r[1]] for r in cent_rows],
        dtype=np.int64,
    )
    cnormsq = (qc * qc).sum(axis=1).astype(np.float64)
    n_fine = len(cent_rows)
    n_coarse = min(n_fine, max(16, math.isqrt(n_fine)))
    qg = qc[:n_coarse]
    gnormsq = cnormsq[:n_coarse]
    # fine→coarse grouping, driver-side: same score formula and
    # lowest-id (= first-index) tie-break as every assignment path
    fine_scores = (qc @ qg.T).astype(np.float64) / np.sqrt(
        cnormsq[:, None] * gnormsq[None, :]
    )
    fine_group = fine_scores.argmax(axis=1)
    fine_group[:n_coarse] = np.arange(n_coarse)  # own-group membership
    group_idx = [
        np.nonzero(fine_group == g)[0] for g in range(n_coarse)
    ]  # ascending fine index = ascending cent_id ⇒ argmax ties break low
    group_qc = [qc[ix] for ix in group_idx]
    group_norm = [cnormsq[ix] for ix in group_idx]
    group_ids = [cent_ids[ix] for ix in group_idx]
    dims, quant = qc.shape[1], QUANT

    out_fields = embeddings.select(id_col, vec_col).schema.fields
    out_schema = T.StructType(
        [*out_fields, T.StructField("cell", T.IntegerType(), False)]
    )

    def assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy())
            if v.shape[1] != dims:
                raise ValueError(
                    f"vector length {v.shape[1]} != centroid dims {dims}"
                )
            qv = np.floor(v.astype(np.float64) * quant).astype(np.int64)
            nv = (qv * qv).sum(axis=1).astype(np.float64)
            coarse = (
                (qv @ qg.T).astype(np.float64)
                / np.sqrt(nv[:, None] * gnormsq[None, :])
            ).argmax(axis=1)
            cell = np.empty(len(pdf), dtype=np.int64)
            for g in np.unique(coarse):
                rows = np.nonzero(coarse == g)[0]
                scores = (qv[rows] @ group_qc[g].T).astype(np.float64) / np.sqrt(
                    nv[rows, None] * group_norm[g][None, :]
                )
                cell[rows] = group_ids[g][scores.argmax(axis=1)]
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cell"] = cell.astype(np.int32)
            yield pdf

    # r12: same fan-out rationale as the one-level vectorized path
    return fan_out_scan(embeddings.select(id_col, vec_col), id_col).mapInPandas(
        assign_batches, schema=out_schema
    )


#: Bounded-cell divisor for the scale regime of the auto-C rule:
#: above the crossover, C = N/_CELL_BOUND keeps expected cell size at
#: ~_CELL_BOUND so the in-cell pair term is linear (N·_CELL_BOUND·d).
_CELL_BOUND = 512


def _auto_n_centroids(
    embeddings: DataFrame, approx_rows: int | None = None
) -> int:
    """Scale-aware centroid count (≥ 16) for the all-pairs-within-cell
    operators: ``max(16, √N, N/512)``. In-cell pairs cost N²·d/C and
    (two-level) assignment ~N·2√C·d, so two laws compete:

    - **√N** keeps cells √N-sized — total O(N^1.5·d), but at small N
      the linear scan/shuffle terms dominate and √N's smaller C wins
      (r11 same-box bracket at 200 k vecs: √N C=447 56.8 s vs bounded
      C=390 59.2 s).
    - **N/512 (bounded-cell)** caps expected cell size at ~512 so the
      pair term is LINEAR N·512·d while two-level assignment stays
      ~2√C dots/vector — the 100 TB law (r11 same-box at 500 k vecs:
      bounded 139.5 s vs √N-family 187.6 s; r10 at 2 M: 276.3 vs
      312.8 s, decade slope 0.93 vs 1.005 — SCALE.md §6h). Only
      possible since two-level assignment landed: one-level at
      C=N/512 would itself be N²·d/512.

    The ``max()`` form switches exactly where the formulas cross,
    N = 512² = 262 144 — inside the measured bracket (√N ahead at
    200 k, bounded ahead at 500 k and 2 M), so there is no separate
    threshold knob to mis-tune. The auto default's measured
    d100→d1000 slope is **0.967** (SCALE.md §6h; was 1.005 under the
    √N-only rule). Same make-scale-the-default pattern as
    dedup._auto_n_blocks (VERDICT r7: 'the caller at 100 TB is exactly
    the person who won't read the docstring').

    N comes from ``approx_rows`` when the caller already knows it
    (zero extra work — a 2× estimate moves C by ≤2×, immaterial: the
    pair term is flat near the bound and assignment is √C); otherwise
    one columnar count. Callers that count should persist first:
    counting an unpersisted lineage re-runs the upstream pipeline once
    for the count and again for the assignment scan (ADVICE r8 —
    semantic_dedup/knn_graph now do)."""
    import math  # noqa: PLC0415

    n = approx_rows if approx_rows is not None else embeddings.count()
    return max(16, math.isqrt(n), n // _CELL_BOUND)


def _resolve_n_centroids(
    embeddings: DataFrame,
    n_centroids: int | None,
    approx_rows: int | None,
) -> tuple[DataFrame, int]:
    """Shared auto-C resolution for the cell-confined operators:
    explicit ``n_centroids`` passes through untouched (the catalog-pin
    path — zero plan change); auto with an ``approx_rows`` hint costs
    nothing; auto WITHOUT a hint persists the input before counting so
    the count action and the assignment's two corpus reads (centroid
    collect + scan) share one materialization instead of re-running the
    upstream lineage per action (ADVICE r8 low — the unpersisted-
    recount). Returns the (possibly persisted) frame + resolved C."""
    if n_centroids is not None:
        return embeddings, n_centroids
    if approx_rows is None:
        embeddings = embeddings.persist(StorageLevel.MEMORY_AND_DISK)
    return embeddings, _auto_n_centroids(embeddings, approx_rows)


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 2048,
    approx_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop, within
    each cluster, every vector that has an EARLIER-id neighbor above the
    cosine ``threshold``. Pairwise comparison never crosses clusters —
    that is the whole point: k clusters cut the O(N²) candidate space to
    O(Σ cell²) ≈ O(N²/k) while near-duplicates (which co-locate by
    construction) stay comparable.

    Keeper rule: vector j is dropped iff SOME i<j in its cell has
    cos(i,j) ≥ threshold — pairwise-greedy in id order, deterministic
    and EXISTS-expressible (for clique-exact keeper selection compose
    the surviving pairs with :func:`~..operators.dedup.neardup_clusters`
    instead). Output: (vec_id, cell, kept) for EVERY input vector.

    Scale shape: assignment is map-side against one broadcast centroid
    row (:func:`_seed_cell_assignment`); scoring reuses the blocked
    int64 matmul of :func:`allpairs_cosine_lsh` keyed on the cell — a
    cell larger than ``max_cell_size`` is sub-split into hash blocks and
    every block pair becomes its own O(cap²)-bounded task, so a
    degenerate cell degrades to parallel bounded tasks, never one
    O(cell²) straggler. Shuffles: the cell-census broadcast, one hash
    partition on (cell, block-pair), one distinct over dropped ids —
    linear in candidates. At 100 TB the DEFAULT already keeps cells
    bounded (the auto rule goes C=N/512 above the crossover — SemDeDup
    itself runs k≈10⁴ on web-scale corpora); seeds here are the
    deterministic id<k convention the IVF entries share (swap in
    :func:`kmeans_centroids` output for trained cells).

    Exactness: quantized assignment ties to the lowest centroid id;
    pair cosines are exact int64 dots with one final double division —
    bit-identical across engines, so the threshold comparison (and
    hence ``kept``) is oracle-hashable.

    ``n_centroids=None`` (the default) derives the scale-aware
    ``max(16, √N, N/512)`` rule (:func:`_auto_n_centroids` — √N below
    the 262 144-row crossover, bounded-cell above it, so the pair term
    goes linear exactly when it would start to dominate) from
    ``approx_rows`` (a catalog/footer row-count hint — free) or one
    count over a persisted input — the scale behavior without reading
    this docstring; pass an explicit value to pin cells (the catalog
    pins 16). Above C=256 assignment runs the two-level
    coarse-then-fine search (see
    :func:`_seed_cell_assignment_two_level` for the
    bounded-approximation contract)."""
    embeddings, n_centroids = _resolve_n_centroids(
        embeddings, n_centroids, approx_rows
    )
    assign = _seed_cell_assignment(embeddings, n_centroids, id_col, vec_col)
    pairs = _cell_pairs(assign, id_col, vec_col, max_cell_size, threshold)
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assign.join(dropped, [id_col], "left").select(
        id_col, "cell", F.col("_dup").isNull().alias("kept")
    )


def _cell_pairs(
    assign: DataFrame,
    id_col: str,
    vec_col: str,
    max_cell_size: int,
    threshold: float | None,
) -> DataFrame:
    """All within-cell (id_a < id_b, cos_sim) pairs of an assignment
    frame, scored by the blocked int64 matmul with the hot-cell
    sub-split guard (the :func:`allpairs_cosine_lsh` machinery keyed on
    the cell): oversized cells degrade to parallel O(cap²)-bounded
    block-pair tasks, never one O(cell²) straggler."""
    n_par = assign.sparkSession.sparkContext.defaultParallelism
    sizes = assign.groupBy("cell").agg(F.count("*").alias("_cnt"))
    nblocks = F.ceil(F.col("_cnt") / F.lit(max_cell_size)).cast("int")
    blocked = (
        assign.join(F.broadcast(sizes), ["cell"])
        .withColumn("_nb", nblocks)
        .withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int")
        )
        .select(
            id_col,
            vec_col,
            "cell",
            "_blk",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.col("_nb") - 1),
                        lambda x: F.struct(
                            F.least(x, F.col("_blk")).alias("gi"),
                            F.greatest(x, F.col("_blk")).alias("gj"),
                        ),
                    )
                )
            ).alias("_g"),
        )
        .select(
            id_col, vec_col, "cell", "_blk",
            F.col("_g.gi").alias("_gi"), F.col("_g.gj").alias("_gj"),
        )
        .repartition(n_par, "cell", "_gi", "_gj")
    )
    score_group = _make_block_scorer(id_col, vec_col, QUANT, threshold)
    return blocked.groupBy("cell", "_gi", "_gj").applyInPandas(
        score_group, schema="id_a bigint, id_b bigint, cos_sim double"
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 2048,
    approx_rows: int | None = None,
) -> DataFrame:
    """Per-vector k-nearest-neighbor adjacency, cell-confined: for
    EVERY corpus vector, its top-k in-cell neighbors by cosine — the
    batch kNN-graph builder behind SemDeDup's cluster pruning, SSL
    prototype selection, and diversity-aware sampling. Differs from the
    query-set ANN entries (a handful of probes against the corpus) in
    shape: here the corpus is both sides, so candidates MUST be
    confined (cells) or the pair space is O(N²).

    Neighbors beyond the vector's cell are invisible by construction —
    the SemDeDup trade: raise ``n_centroids`` with N so cells stay
    bounded, and accept that recall is within-cell (compose with
    :func:`ann_recall_at_k`-style evaluation to measure it).

    Choosing ``n_centroids`` at scale: two-level assignment costs
    ~N·2√C·d (numpy FLOP-rate — the interpreted HOF expression was the
    r7 slope sweep's 10-CPU-minute straggler at C=707) and in-cell
    scoring ~N²·d/C. C ≈ √N balances them at O(N^1.5·d) total and wins
    while linear scan/shuffle terms dominate; C = N/512 (bounded
    cells) makes the pair term strictly linear and wins above the
    crossover — measured d1000 decade slope 0.93 vs 1.005 (SCALE.md
    §6h). The auto default (:func:`_auto_n_centroids`) picks
    ``max(16, √N, N/512)``, switching where the formulas cross.

    Scale shape: map-side assignment (one broadcast centroid row);
    within-cell pairs via the blocked int64 matmul with the hot-cell
    guard (:func:`_cell_pairs`); each undirected pair is emitted once
    and mirrored by a union (no second scoring pass); the final rank is
    a per-source window over in-cell candidates — partitioned by
    vector, never global. A vector alone in its cell yields no rows
    (degree 0), which is the honest answer, not an error.

    Exactness: same quantized arithmetic as every similarity entry —
    int64 dots, one double division, rank ties to the lowest neighbor
    id — so ranks and cosines are oracle-hashable.

    ``n_centroids=None`` (the default) derives the scale-aware rule
    above from ``approx_rows`` (a catalog/footer row-count hint —
    free) or one count over a persisted input — the scale behavior is
    the default; pass an explicit value to pin cells (the catalog pins
    16). Above C=256 assignment runs the two-level coarse-then-fine
    search (see :func:`_seed_cell_assignment_two_level` — per-vector
    ~2√C dots, the fix that makes the bounded-cell regime affordable:
    one-level assignment at C=N/512 would itself be quadratic)."""
    from pyspark.sql import Window  # noqa: PLC0415

    embeddings, n_centroids = _resolve_n_centroids(
        embeddings, n_centroids, approx_rows
    )
    assign = _seed_cell_assignment(embeddings, n_centroids, id_col, vec_col)
    pairs = _cell_pairs(assign, id_col, vec_col, max_cell_size, threshold=None)
    directed = pairs.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        "cos_sim",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("src_id"),
            F.col("id_a").alias("dst_id"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("cos_sim"), F.asc("dst_id")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", F.col("rank").cast("int").alias("rank"), "dst_id", "cos_sim")
    )


def ann_recall_at_k(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    dims: int = 64,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH path against exact brute force, as ONE
    DataFrame — the evaluation harness every ANN deployment needs,
    expressed as a query so the measurement itself is distributed,
    repeatable, and oracle-checkable (a recall number computed by
    driver-side set math would be none of those).

    Per query: ``n_hits`` = |LSH top-k ∩ exact top-k| and
    ``recall_at_k`` = n_hits/k (exact small-integer division, one final
    double cast). Queries with zero LSH candidates still appear (recall
    0), so a collapsed bucket cannot silently vanish from the average.

    Scale shape: both rankings are the already-analyzed operators
    (:func:`cosine_topk_bruteforce` broadcasts only the query side;
    :func:`cosine_topk_lsh` buckets the corpus once and explodes probes
    query-side); the intersection is a semi-join between two top-k-sized
    frames (≤ |queries|·k rows each), and the final groupBy is
    query-count-sized. Evaluate recall on a SAMPLE of queries at scale —
    the brute-force side is the O(|queries|·N) term."""
    # r12 NOTE: the exact ranking feeds two branches (hits semi-join +
    # per-query universe) and Spark does not share subtrees, so the
    # brute leg plans twice — but a lazy localCheckpoint here was A/B'd
    # and REJECTED (2.0 → 3.6 s at sf0.1): the duplicated legs execute
    # as OVERLAPPING broadcast builds, so the duplication costs ~zero
    # wall, while the checkpoint serializes them behind a barrier. At
    # real scale the brute side is already sample-sized by contract
    # (docstring above), so the duplication stays broadcast-band.
    exact = cosine_topk_bruteforce(embeddings, query_pred, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk_lsh(
        embeddings,
        query_pred,
        k=k,
        dims=dims,
        bits=bits,
        probe_hamming=probe_hamming,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = exact.select("query_id").distinct()
    return per_q.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(k))
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def pq_seed_codebook(
    embeddings: DataFrame,
    n_sub: int,
    k_codes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_missing: bool = False,
) -> list[list[list[int]]]:
    """Deterministic PQ seed codebook ``[m][code][dim]`` in quantized
    int space: subspace sub-vectors of the vectors with ``id <
    k_codes`` (the same seeding rule the IVF/k-means tier uses, so the
    codebook is reproducible in any engine with no RNG).

    ``allow_missing=True`` builds the codebook from however many seed
    ids exist (possibly zero → ``[]``) instead of raising — the
    semantics a SQL seed CTE has when the input was pre-filtered (e.g.
    :func:`cosine_topk_pq_rerank` seeds over the nonzero-norm frame,
    where a zero-norm seed simply shrinks the codebook). Codebook
    positions stay monotone in seed id, so argmin tie-breaks match a
    code=id oracle either way."""
    import math  # noqa: PLC0415

    seed_rows = sorted(
        embeddings.filter(F.col(id_col) < k_codes).select(id_col, vec_col).collect(),
        key=lambda r: r[0],
    )
    if len(seed_rows) != k_codes and not allow_missing:
        raise ValueError(
            f"PQ seeding expects ids 0..{k_codes - 1} to exist; "
            f"found {len(seed_rows)}"
        )
    if not seed_rows:
        return []
    dims = len(seed_rows[0][1])
    if dims % n_sub:
        raise ValueError(f"dims={dims} not divisible by n_sub={n_sub}")
    sub = dims // n_sub
    return [
        [
            [
                int(math.floor(float(x) * QUANT))
                for x in r[1][m * sub : (m + 1) * sub]
            ]
            for r in seed_rows
        ]
        for m in range(n_sub)
    ]


def _pq_codebook_row(
    embeddings: DataFrame,
    n_sub: int,
    k_codes: int,
    id_col: str,
    vec_col: str,
    codebook: list[list[list[int]]] | None = None,
):
    """One broadcastable row holding the full PQ codebook (seeded by
    default, or a trained ``pq_train`` codebook — both quantized-int
    ``[m][code][dim]``). Returns (codebook_df, sub_dim, n_words) —
    ``n_words`` is the ACTUAL per-subspace word count, which can be
    smaller than ``k_codes`` when the codebook came from an
    ``allow_missing=True`` seeding (a missing seed drops that codeword
    from every subspace uniformly); the argmin extraction in
    :func:`_pq_firsts` must index by the actual width, not the
    requested one."""
    spark = embeddings.sparkSession
    if codebook is None:
        codebook = pq_seed_codebook(embeddings, n_sub, k_codes, id_col, vec_col)
    if not codebook or not codebook[0]:
        # an allow_missing=True seeding over a fully-filtered corpus
        # returns [] — encoding against zero codewords has no meaning,
        # so fail descriptively instead of IndexError (ADVICE r7 #3);
        # the SEARCH entry points (cosine_topk_pq_adc, ivfpq) instead
        # degrade to their documented empty-result frames upstream.
        raise ValueError(
            "PQ codebook is empty (allow_missing seeding over a corpus "
            "with no usable seed vectors?) — nothing to encode against"
        )
    sub = len(codebook[0][0])
    entries = [
        (m, j, qsub)
        for m, words in enumerate(codebook)
        for j, qsub in enumerate(words)
    ]
    cb = spark.createDataFrame(
        [(entries,)], "_cb array<struct<m:int,code:int,qc:array<bigint>>>"
    )
    return cb, sub, len(codebook[0])


def pq_train(
    embeddings: DataFrame,
    n_sub: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train the PQ codebook: per-subspace Lloyd iterations from the
    deterministic seeds, ALL-INTEGER (assignment by exact int64 squared
    L2 — the same argmin :func:`pq_encode` runs — and the mean update
    as ``floor(sum_q / count)`` per (subspace, code, dim), entirely in
    quantized space). Deterministic under any partitioning, like
    :func:`kmeans_update_stats`; empty codes keep their previous
    codeword.

    Scale shape per iteration: assignment + per-subspace argmin is the
    single-pass encode expression chain (one broadcast codebook row, no
    corpus shuffle); the update is one explode to (m, code, dim, qval)
    and a groupBy whose map-side partials collapse each partition to
    ≤ n_sub·k·sub_dim rows — only those aggregates reach the driver.

    Returns the trained ``[m][code][dim]`` quantized codebook for
    :func:`pq_encode` / :func:`cosine_topk_pq_adc`'s ``codebook``
    parameter. Train on a SAMPLE at 100 TB — codebook quality converges
    long before the corpus is exhausted (the standard faiss practice)."""
    codebook = pq_seed_codebook(embeddings, n_sub, k_codes, id_col, vec_col)
    staged = embeddings.select(F.transform(F.col(vec_col), _q).alias("_qv"))
    return _pq_lloyd(staged, codebook, iters)


def _pq_lloyd(
    staged: DataFrame,
    codebook: list[list[list[int]]],
    iters: int,
) -> list[list[list[int]]]:
    """The shared Lloyd loop over a staged quantized-vector frame
    (``_qv`` int64 arrays) — raw vectors for :func:`pq_train`,
    residuals for :func:`pq_train_residual`. Assignment indexes by the
    codebook's ACTUAL per-subspace width (an ``allow_missing`` seeding
    can be narrower than the requested ``k_codes``)."""
    spark = staged.sparkSession
    n_sub = len(codebook)
    sub = len(codebook[0][0])
    n_words = len(codebook[0])
    for _ in range(iters):
        entries = [
            (m, j, qsub)
            for m, words in enumerate(codebook)
            for j, qsub in enumerate(words)
        ]
        cb = spark.createDataFrame(
            [(entries,)], "_cb array<struct<m:int,code:int,qc:array<bigint>>>"
        )
        scored = F.transform(
            F.col("_cb"),
            lambda e: F.named_struct(
                F.lit("m"),
                e["m"],
                F.lit("qdist"),
                F.aggregate(
                    F.zip_with(
                        F.slice(F.col("_qv"), e["m"] * sub + 1, sub),
                        e["qc"],
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
                F.lit("code"),
                e["code"],
            ),
        )
        firsts = F.filter(F.array_sort(scored), lambda e, i: i % n_words == 0)
        assigned = F.transform(
            firsts,
            lambda e: F.named_struct(
                F.lit("m"),
                e["m"],
                F.lit("code"),
                e["code"],
                F.lit("qsub"),
                F.slice(F.col("_qv"), e["m"] * sub + 1, sub),
            ),
        )
        stats = (
            staged.crossJoin(F.broadcast(cb))
            .select(F.explode(assigned).alias("_a"))
            .select(
                F.col("_a")["m"].alias("m"),
                F.col("_a")["code"].alias("code"),
                F.posexplode(F.col("_a")["qsub"]).alias("dim", "qval"),
            )
            .groupBy("m", "code", "dim")
            .agg(F.sum("qval").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_cb = [[list(w) for w in words] for words in codebook]
        for r in stats:
            new_cb[r.m][r.code][r.dim] = int(r.s) // int(r.n)
        codebook = new_cb
    return codebook


def _pq_firsts(sub: int, n_words: int) -> Column:
    """Per-row PQ argmin chain over staged ``_qv`` and broadcast
    ``_cb`` columns: score every (subspace, codeword), sort
    lexicographically by (m, qdist, code) — subspace m's best codeword
    then sits exactly at index m·n_words — and extract all argmins
    with ONE indexed filter pass (no re-references to the scored
    array; SCALE.md §6c inlining family). ``n_words`` must be the
    codebook's ACTUAL per-subspace width, not the requested k_codes —
    an ``allow_missing`` seeding can shrink it, and indexing by the
    wrong stride silently extracts the wrong codewords."""
    scored = F.transform(
        F.col("_cb"),
        lambda e: F.named_struct(
            F.lit("m"),
            e["m"],
            F.lit("qdist"),
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("_qv"), e["m"] * sub + 1, sub),
                    e["qc"],
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
            F.lit("code"),
            e["code"],
        ),
    )
    return F.filter(F.array_sort(scored), lambda e, i: i % n_words == 0)


def _fused_adc_shortlist(
    embeddings: DataFrame,
    codebook: list[list[list[int]]],
    luts: list[tuple],
    shortlist: int,
    id_col: str,
    vec_col: str,
    qcents: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """ONE Arrow pass over the corpus for the PQ query entries (r13,
    guide §4.2 "hand whole batches to vectorized native libraries" and
    the VERDICT r12 directive "fewer Python crossings per row"): per
    batch, quantize, (residual mode: assign the nearest seed cell with
    the SAME int64-matmul + IEEE-division kernel the pinned
    :func:`_seed_cell_assignment_vectorized` uses, then subtract that
    cell's centroid), PQ-encode against the broadcast codebook, gather
    each query's ADC distance from its LUT, and emit the batch's
    top-``shortlist`` (query_id, neighbor_id, adist) rows.

    This replaces, for the build-from-embeddings query paths, the
    interpreted-HOF cascade (per-row ``transform``/``zip_with``/
    ``aggregate`` argmin chains — which Catalyst evaluates WITHOUT
    whole-stage codegen at ~µs per element op) AND the persisted
    intermediate code table those chains needed as a materialization
    barrier. Exactness is preserved end-to-end: quantization is the
    identical floor(float64(x)·1e6) (float32→float64 widening exact),
    encode/ADC arithmetic is exact int64 (max |component| ≤ ~4e6,
    squared-sums ≤ ~1.3e14 ≪ 2^63), the assignment score division is
    the same correctly-rounded IEEE sequence as the expression path,
    and every argmin/argmax tie breaks to the lowest id exactly like
    the (qdist, code) / (-score, cent_id) sorts it replaces.

    Per-batch partial top-k is the §2.3 "aggregate before you shuffle"
    move: top-k under the strict total order (adist, neighbor_id) is
    associative, so the union of per-batch top-k sets contains the
    global top-k and the downstream window selects exactly the same
    rows while shuffling ≤ |batches|·|Q|·shortlist rows instead of
    |Q|·N. Rows equal to their query id are excluded here, as in the
    frame-based scan.

    ``luts``: ``(query_id, lut[n_sub][n_words])`` triples-less plain
    mode, or ``(query_id, probed_cell, lut)`` residual mode (``qcents``
    set) — a query scores a corpus row iff the row's assigned cell is
    one the query probes. The closure is self-contained (numpy/pandas
    only), safe to pickle by value into sessions that can't import
    this package on workers."""
    import numpy as np  # noqa: PLC0415

    n_sub = len(codebook)
    sub = len(codebook[0][0])
    cb = np.array(codebook, dtype=np.int64)  # [n_sub, n_words, sub]
    residual = qcents is not None
    if residual:
        cent_ids = np.array([c for c, _ in qcents], dtype=np.int64)
        qc = np.array([v for _, v in qcents], dtype=np.int64)
        cnormsq = (qc * qc).sum(axis=1).astype(np.float64)
        by_cell = {}
        for cell in sorted({c for _, c, _ in luts}):
            by_cell[int(cell)] = (
                np.array([q for q, c, _ in luts if c == cell], dtype=np.int64),
                np.array([l for q, c, l in luts if c == cell], dtype=np.int64),
            )
    else:
        qids = np.array([q for q, _ in luts], dtype=np.int64)
        lut_t = np.array([l for _, l in luts], dtype=np.int64)
    quant = QUANT
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"query_id bigint, neighbor_id {id_type}, adist bigint"

    def scan(batches):
        import numpy as _np  # noqa: PLC0415
        import pandas as _pd  # noqa: PLC0415

        def encode(mat):
            codes = _np.empty((mat.shape[0], n_sub), dtype=_np.int64)
            for m in range(n_sub):
                d = mat[:, m * sub : (m + 1) * sub]
                dist = ((d[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = dist.argmin(axis=1)  # first min = lowest code
            return codes

        def topk(q_arr, lt, ids, codes, oq, on, od):
            ad = _np.zeros((len(q_arr), len(ids)), dtype=_np.int64)
            for m in range(n_sub):
                ad += lt[:, m, :][:, codes[:, m]]
            for qi in range(len(q_arr)):
                sel = ids != q_arr[qi]
                ci, cd = ids[sel], ad[qi][sel]
                order = _np.lexsort((ci, cd))[:shortlist]
                oq.append(_np.full(len(order), q_arr[qi], dtype=_np.int64))
                on.append(ci[order])
                od.append(cd[order])

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            qv = _np.floor(
                _np.stack(pdf[vec_col].to_numpy()).astype(_np.float64) * quant
            ).astype(_np.int64)
            oq, on, od = [], [], []
            if residual:
                nv = (qv * qv).sum(axis=1).astype(_np.float64)
                scores = (qv @ qc.T).astype(_np.float64) / _np.sqrt(
                    nv[:, None] * cnormsq[None, :]
                )
                nearest = scores.argmax(axis=1)  # first max = lowest cent_id
                codes = encode(qv - qc[nearest])
                row_cells = cent_ids[nearest]
                for cell, (q_arr, lt) in by_cell.items():
                    mask = row_cells == cell
                    if mask.any():
                        topk(q_arr, lt, ids[mask], codes[mask], oq, on, od)
            elif len(qids):
                topk(qids, lut_t, ids, encode(qv), oq, on, od)
            if oq:
                yield _pd.DataFrame(
                    {
                        "query_id": _np.concatenate(oq),
                        "neighbor_id": _np.concatenate(on),
                        "adist": _np.concatenate(od),
                    }
                )

    return fan_out_scan(embeddings.select(id_col, vec_col), id_col).mapInPandas(
        scan, schema=out_schema
    )


def pq_codes(
    embeddings: DataFrame,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Per-VECTOR code arrays ``(id, codes array<int>)`` in ONE
    map-side pass — no explode, no shuffle — so the encode chain
    composes onto STREAMS (streaming.dedup.semantic_dedup_stream) and
    the index build skips the explode→groupBy reassembly."""
    cb, sub, n_words = _pq_codebook_row(
        embeddings, n_sub, k_codes, id_col, vec_col, codebook
    )
    # r12: the per-row argmin chain below is ~n_sub·k_codes·sub
    # interpreted-HOF evals + one 128-struct array_sort per vector, on
    # whatever parallelism the scan gives — ONE task for the
    # unsplittable test files. Fan out (scale-adaptive no-op on real
    # clusters — fanout.py); the persisted index downstream then also
    # inherits the parallel partitioning, so every ADC scan of it runs
    # wide instead of single-task.
    staged = fan_out_scan(embeddings, id_col).select(
        F.col(id_col), F.transform(F.col(vec_col), _q).alias("_qv")
    )
    firsts = _pq_firsts(sub, n_words)
    return (
        staged.crossJoin(F.broadcast(cb))
        .select(
            id_col,
            F.transform(firsts, lambda e: e["code"].cast("int")).alias("codes"),
        )
    )


def pq_encode(
    embeddings: DataFrame,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``n_sub``
    subspaces and replace every sub-vector by the id of its nearest
    codeword (exact int64 squared-L2, ties to the lowest code id) —
    the compression that makes billion-vector ANN fit in RAM
    (64 dims × float32 → ``n_sub`` bytes here; the IVF half of IVF-PQ
    is :func:`cosine_topk_ivf`/:func:`build_ivf_index`).

    Returns one row per (vector, subspace): ``(id, m, code, qdist)``
    with ``qdist`` the exact quantized squared distance to the chosen
    codeword (the per-subspace reconstruction error, summable per
    vector).

    Scale shape: the whole codebook travels as ONE broadcast row;
    scoring + per-subspace argmin happen inside a single expression
    chain per row (one ``transform`` over the codebook array — one
    evaluation of the staged quantized vector — then one lexicographic
    ``array_sort`` of (m, qdist, code) structs, in which the rn=1 row
    of each subspace sits at a compile-time-known index i·k_codes,
    picked by ONE indexed ``filter`` pass). No corpus shuffle, no
    per-row Python, no repeated lambda references to staged arrays
    (SCALE.md §6c inlining family)."""
    cb, sub, n_words = _pq_codebook_row(
        embeddings, n_sub, k_codes, id_col, vec_col, codebook
    )
    # r12: same fan-out rationale as pq_codes — parallelize the per-row
    # argmin chain when the scan is one unsplittable file
    staged = fan_out_scan(embeddings, id_col).select(
        F.col(id_col), F.transform(F.col(vec_col), _q).alias("_qv")
    )
    firsts = _pq_firsts(sub, n_words)
    return (
        staged.crossJoin(F.broadcast(cb))
        .select(F.col(id_col), F.explode(firsts).alias("_e"))
        .select(
            id_col,
            F.col("_e")["m"].alias("m"),
            F.col("_e")["code"].alias("code"),
            F.col("_e")["qdist"].alias("qdist"),
        )
    )


def pq_index(
    embeddings: DataFrame,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """The PQ code table in per-vector form — ``(id, codes array<int>)``
    with ``codes[m]`` the subspace-m codeword id — PERSISTED, because
    the ADC scan references ``codes`` from inside nested lambdas and a
    staged (non-materialized) array there re-inlines the whole encode
    pipeline per reference (SCALE.md §6c, the 23× winnowing case:
    exchange barriers don't stop the collapse; an InMemoryRelation
    attribute does). Persisting is also semantically the point: this IS
    the index build, done once, scanned by every query after."""
    return pq_codes(
        embeddings, n_sub, k_codes, id_col, vec_col, codebook
    ).persist(StorageLevel.MEMORY_AND_DISK)


def cosine_topk_pq_adc(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k scan over PQ codes: each query
    keeps full precision and precomputes a ``n_sub × k_codes`` lookup
    table of partial squared distances to every codeword; a corpus
    vector's approximate distance is then ``n_sub`` table lookups summed
    — no vector arithmetic touches the corpus at query time, and the
    scan reads only the (id, codes) index, ~n_sub bytes/vector instead
    of the embeddings.

    Exact-integer throughout (LUT entries are int64 partial sums of
    quantized components), so ranking is deterministic and
    oracle-checkable. Ties break on neighbor id.

    Scale shape (r13): the build-from-embeddings path is ONE fused
    Arrow pass — encode + LUT gather + per-batch top-k inside
    :func:`_fused_adc_shortlist` (LUTs travel in the task closure,
    |Q|·n_sub·k_codes ints) — so the only shuffle is the per-query
    top-k window over ≤ |batches|·|Q|·k batch-partial candidates
    instead of |Q|·N scored rows. With a prebuilt ``index`` the
    frame-based ``zip_with(codes, lut)`` scan over the persisted code
    table is kept: the caller owns the index's lifetime and its codes
    are already materialized.

    Callers that query repeatedly should build :func:`pq_index` once
    and pass it as ``index``."""
    import math  # noqa: PLC0415

    if index is not None and codebook is None:
        # The codes in a prebuilt index are meaningless without the
        # codebook that built them; silently seeding the query LUTs
        # here would yield wrong ADC distances with no error.
        raise ValueError("passing a prebuilt index requires its codebook")
    spark = embeddings.sparkSession
    cbq = (
        codebook
        if codebook is not None
        else pq_seed_codebook(embeddings, n_sub, k_codes, id_col, vec_col)
    )
    if not cbq:  # empty codebook (allow_missing seeding over a filtered
        # frame found no seeds): no codeword ⇒ no scored pairs, like a
        # SQL plan whose seed CTE is empty.
        return _empty_topk(embeddings, id_col, "adist bigint")
    sub = len(cbq[0][0])
    q_rows = embeddings.filter(query_filter).select(id_col, vec_col).collect()
    luts = []
    for qr in q_rows:
        qq = [int(math.floor(float(x) * QUANT)) for x in qr[1]]
        lut = [
            [
                sum(
                    (qq[m * sub + d] - cw[d]) * (qq[m * sub + d] - cw[d])
                    for d in range(sub)
                )
                for cw in cbq[m]
            ]
            for m in range(n_sub)
        ]
        luts.append((int(qr[0]), lut))
    if index is None:
        # r13: build-from-embeddings path — encode + ADC + partial top-k
        # fuse into ONE Arrow pass (see _fused_adc_shortlist), replacing
        # the persisted code table and the interpreted per-row HOF
        # scoring chain. The prebuilt-index path below keeps the
        # frame-based scan: its codes are already materialized and the
        # caller owns the index's lifetime.
        scored = _fused_adc_shortlist(
            embeddings, cbq, luts, k, id_col, vec_col
        )
        w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("rank").cast("int").alias("rank"),
                "adist",
            )
        )
    codes = index
    lut_row = spark.createDataFrame(
        [(luts,)], "_lut array<struct<query_id:bigint,l:array<array<bigint>>>>"
    )

    per_query = F.transform(
        F.col("_lut"),
        lambda u: F.named_struct(
            F.lit("query_id"),
            u["query_id"],
            F.lit("adist"),
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    u["l"],
                    lambda c, lm: F.element_at(lm, c + 1),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        ),
    )
    scored = (
        codes.crossJoin(F.broadcast(lut_row))
        .select(F.col(id_col).alias("neighbor_id"), F.explode(per_query).alias("_s"))
        .select(
            F.col("_s")["query_id"].alias("query_id"),
            "neighbor_id",
            F.col("_s")["adist"].alias("adist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "adist")
    )


def cosine_topk_pq_rerank(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """The full IVF-PQ query pattern: ADC over the compressed codes
    produces a ``shortlist`` of candidates per query (reading ~n_sub
    bytes/vector), then ONLY those candidates' full vectors are fetched
    and exactly re-ranked by quantized cosine — the faiss
    ``search + refine`` composition. Recall is set by the shortlist
    size, compute by the code scan; the exact tier touches
    |queries|·shortlist vectors regardless of corpus size.

    Scale shape: the candidate frame (≤ |Q|·shortlist rows) is the
    BROADCAST side of the fetch join — the corpus-sized embeddings
    table never shuffles; scoring and the final top-k window run on
    candidate-sized data."""
    embeddings = nonzero_norm(embeddings, vec_col)
    if codebook is None:
        # Seed over the nz-filtered frame WITHOUT the all-16-ids
        # existence demand: a zero-norm seed id just shrinks the
        # codebook, exactly like a SQL seed CTE over the filtered
        # table (the ann_pq_rerank oracle's cb-over-nz semantics).
        codebook = pq_seed_codebook(
            embeddings, n_sub, k_codes, id_col, vec_col, allow_missing=True
        )
    if not codebook:
        return _empty_topk(embeddings, id_col, "cos_sim double")
    # r12 added a lazy localCheckpoint here because the shortlist's
    # lineage was the whole multi-stage ADC plan executing inside the
    # broadcast-build thread (measured 3.9 s vs 2.8 s). r13's fused
    # Arrow shortlist (one MapInPandas + one window — see
    # _fused_adc_shortlist) removed those stages, and the checkpoint
    # re-A/B'd FLAT (1.68 s with vs 1.72 s without, both ±steal), so
    # the extra materialization job is dropped.
    cand = (
        cosine_topk_pq_adc(
            embeddings, query_filter, shortlist, n_sub, k_codes, id_col,
            vec_col, codebook,
        )
        .select("query_id", "neighbor_id")
    )
    qvecs = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        quantized_norm_sq(F.col(vec_col)).alias("qnorm"),
    )
    cand_q = F.broadcast(cand.join(qvecs, "query_id"))
    fetched = cand_q.join(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            quantized_norm_sq(F.col(vec_col)).alias("cnorm"),
        ),
        "neighbor_id",
    )
    scored = fetched.select(
        "query_id",
        "neighbor_id",
        (
            quantized_dot(F.col("qvec"), F.col("cvec")).cast("double")
            / F.sqrt(F.col("qnorm").cast("double") * F.col("cnorm").cast("double"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the combined production index (cells for pruning, codes for
# compression) — faiss's IndexIVFPQ shape, composed from the verified
# tiers above. pytest-verified (tests/test_similarity.py); the separate
# cell (ann_cosine_ivf) and code (ann_pq_*) tiers carry the driver
# hashes, so this composition adds no oracle surface.
# ---------------------------------------------------------------------------


def ivfpq_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The combined IVF-PQ index: one row per vector with its coarse
    CELL (nearest seed centroid — the pruning key a partitioned write
    turns into PartitionFilters, see :func:`build_ivf_index`) and its
    PQ CODES (n_sub bytes — the compression that replaces the raw
    vector at scan time). PERSISTED: it is scanned by every query and
    its columns feed nested ADC lambdas (SCALE.md §6c — staged arrays
    under nested lambdas need a materialization point).

    Build cost: the assignment and encode passes each stream the corpus
    once against one broadcast row; the only shuffle is the
    codes-groupBy inherited from :func:`pq_encode`. At 100 TB write it
    ``partitionBy("cell")`` like the IVF index and the index is
    ~n_sub bytes/vector on disk."""
    assign = _seed_cell_assignment(
        embeddings, n_centroids, id_col, vec_col
    ).select(id_col, "cell")
    codes = pq_index(embeddings, n_sub, k_codes, id_col, vec_col)
    return assign.join(codes, id_col).persist(StorageLevel.MEMORY_AND_DISK)


def cosine_topk_ivfpq(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 8,
    k_codes: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """The full production ANN query (faiss IndexIVFPQ): per query,
    (1) the ``nprobe`` nearest cells are chosen against the broadcast
    centroid row — the scan then touches only nprobe/n_centroids of
    the index; (2) ADC over the PQ codes of the probed cells
    shortlists candidates reading ~n_sub bytes/vector; (3) only the
    shortlist's full vectors are fetched and exactly re-ranked by
    quantized cosine. Compute scales with the probed slice and the
    shortlist, never the corpus.

    Deterministic end-to-end (quantized-integer cell choice, integer
    ADC, quantized-cosine rerank, id tie-breaks); recall vs the exact
    scan is pinned in tests/test_similarity.py."""
    import math  # noqa: PLC0415

    embeddings = nonzero_norm(embeddings, vec_col)
    spark = embeddings.sparkSession
    if index is None:
        index = ivfpq_index(
            embeddings, n_centroids, n_sub, k_codes, id_col, vec_col
        )

    cent_rows = sorted(
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    qcents = [
        (int(r[0]), [int(math.floor(float(x) * QUANT)) for x in r[1]])
        for r in cent_rows
    ]
    cbq = (
        pq_seed_codebook(embeddings, n_sub, k_codes, id_col, vec_col)
    )
    sub = len(cbq[0][0])

    q_rows = embeddings.filter(query_filter).select(id_col, vec_col).collect()
    luts = []
    for qr in q_rows:
        qq = [int(math.floor(float(x) * QUANT)) for x in qr[1]]
        qn = sum(x * x for x in qq)
        scored = []
        for cid, cq in qcents:
            dot = sum(a * b for a, b in zip(qq, cq))
            cn = sum(x * x for x in cq)
            scored.append((-(dot / math.sqrt(qn * cn)) if cn else 0.0, cid))
        probes = [cid for _, cid in sorted(scored)[:nprobe]]
        lut = [
            [
                sum(
                    (qq[m * sub + d] - cw[d]) * (qq[m * sub + d] - cw[d])
                    for d in range(sub)
                )
                for cw in cbq[m]
            ]
            for m in range(n_sub)
        ]
        luts.append((int(qr[0]), probes, lut))
    lut_row = spark.createDataFrame(
        [(luts,)],
        "_lut array<struct<query_id:bigint,probes:array<int>,l:array<array<bigint>>>>",
    )

    per_query = F.transform(
        F.col("_lut"),
        lambda u: F.named_struct(
            F.lit("query_id"),
            u["query_id"],
            F.lit("probed"),
            F.array_contains(u["probes"], F.col("cell")),
            F.lit("adist"),
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    u["l"],
                    lambda c, lm: F.element_at(lm, c + 1),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        ),
    )
    cand = (
        index.crossJoin(F.broadcast(lut_row))
        .select(F.col(id_col).alias("neighbor_id"), F.explode(per_query).alias("_s"))
        .filter(F.col("_s")["probed"])
        .select(
            F.col("_s")["query_id"].alias("query_id"),
            "neighbor_id",
            F.col("_s")["adist"].alias("adist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    # r12 note: cosine_topk_pq_rerank truncates its shortlist lineage
    # with a localCheckpoint before broadcasting (measured −0.7 s); the
    # same change was A/B'd HERE and measured ~1.2 s SLOWER at sf0.1
    # (the probed-cell shortlist reads the persisted ivfpq index, whose
    # InMemoryTableScan already makes the broadcast subtree cheap, while
    # the checkpoint forces an extra full materialization pass) — so the
    # ivfpq paths deliberately keep the plain broadcast.
    short = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qvecs = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        quantized_norm_sq(F.col(vec_col)).alias("qnorm"),
    )
    fetched = F.broadcast(short.join(qvecs, "query_id")).join(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            quantized_norm_sq(F.col(vec_col)).alias("cnorm"),
        ),
        "neighbor_id",
    )
    scored = fetched.select(
        "query_id",
        "neighbor_id",
        (
            quantized_dot(F.col("qvec"), F.col("cvec")).cast("double")
            / F.sqrt(F.col("qnorm").cast("double") * F.col("cnorm").cast("double"))
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim"
        )
    )


# ---------------------------------------------------------------------------
# OPQ (permutation variant): balance per-subspace variance before PQ.
# Reference shape: faiss OPQMatrix / IndexPreTransform over IndexIVFPQ;
# algorithm: the dimension-permutation baseline of Ge et al.,
# "Optimized Product Quantization" (CVPR 2013) — deal dimensions into
# subspaces in boustrophedon order of decreasing variance, so no
# subspace hoards all the high-energy dimensions. The full OPQ learns a
# dense rotation by alternating SVD; the permutation variant captures
# most of the benefit on axis-aligned-skewed data, is exactly
# reproducible in integer arithmetic on any engine (no SVD), and costs
# one aggregation over the corpus.
# ---------------------------------------------------------------------------


def opq_permutation(
    embeddings: DataFrame,
    n_sub: int = 8,
    vec_col: str = "embedding",
) -> list[int]:
    """Variance-balancing dimension permutation: ``perm[new_pos] =
    old_dim``. Per-dim variance is computed EXACTLY — quantized int64
    components, sums accumulated as DECIMAL(38,0) (exact at any corpus
    size), and the variance numerator ``n·Σq² − (Σq)²`` in Python
    arbitrary-precision — so the ordering (variance DESC, dim ASC) is
    bit-reproducible cross-engine (the SQL twin ranks the same HUGEINT
    expression). One map-side-partial aggregation over the corpus
    (64 groups); at 100 TB run it on a sample — the ordering, not the
    values, is what matters."""
    # r13 NOTE: a scan fan-out was A/B'd here and REJECTED — opq_map
    # measured 0.72 s -> 0.76 s (the rows×dims explode's partial agg is
    # not the wall; the entry's time is scan+job+collect fixed cost),
    # so the exchange buys nothing even in the unsplittable-file regime.
    ex = embeddings.select(
        F.posexplode(F.transform(F.col(vec_col), _q)).alias("dim", "q")
    )
    rows = ex.groupBy("dim").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("ss"),
        F.count("*").alias("n"),
    ).collect()
    var = {int(r["dim"]): int(r["n"]) * int(r["ss"]) - int(r["s"]) ** 2 for r in rows}
    dims = len(var)
    if dims % n_sub:
        raise ValueError(f"dims={dims} not divisible by n_sub={n_sub}")
    sub_dim = dims // n_sub
    order = sorted(var, key=lambda d: (-var[d], d))
    perm: list[int] = [0] * dims
    for r, d in enumerate(order):
        block, pos = divmod(r, n_sub)
        sub = pos if block % 2 == 0 else n_sub - 1 - pos
        perm[sub * sub_dim + block] = d
    return perm


def apply_permutation(
    embeddings: DataFrame, perm: list[int], vec_col: str = "embedding"
) -> DataFrame:
    """Reorder each vector's dimensions (the 'rotation' of
    permutation-OPQ): pure map-side, 64 array getItems inside
    whole-stage codegen. Permutations preserve dot products and norms,
    so cosine results on permuted vectors are IDENTICAL to the
    originals — only the PQ subspace decomposition (and hence code
    quality) changes."""
    permuted = F.array(*[F.col(vec_col).getItem(i) for i in perm])
    return embeddings.withColumn(vec_col, permuted)


def cosine_topk_pq_opq(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
) -> DataFrame:
    """OPQ-composed PQ rerank: permute dimensions to balance subspace
    variance, then run the standard encode → ADC shortlist → exact
    rerank pipeline on the permuted space. Because permutation
    preserves inner products, the exact rerank scores are unchanged —
    OPQ moves RECALL (better codes → better shortlists) at zero extra
    query cost. The permutation itself is 64 ints; everything else is
    the audited PQ plan."""
    if perm is None:
        perm = opq_permutation(
            nonzero_norm(embeddings, vec_col), n_sub, vec_col
        )
    rotated = apply_permutation(embeddings, perm, vec_col)
    return cosine_topk_pq_rerank(
        rotated, query_filter, k, shortlist, n_sub, k_codes, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# IVF-residual PQ: encode the residual (v - centroid[cell]) instead of
# the raw vector — faiss IndexIVFPQ's default (by_residual=true).
# Residuals are smaller in magnitude than raw vectors, so the same
# codebook budget quantizes them finer; the ADC lookup table becomes
# per-(query, probed cell) on the target (q - centroid[cell]).
# All arithmetic stays in exact quantized int64 space (residual =
# q(v) - q(c), distances are integer sums), so the whole tier is
# oracle-checkable like the plain PQ path.
# ---------------------------------------------------------------------------


def _qvec(vec) -> list[int]:
    import math  # noqa: PLC0415

    return [int(math.floor(float(x) * QUANT)) for x in vec]


def _collect_centroids(
    embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[tuple[int, list[int]]]:
    """Quantized seed centroids (id < n_centroids) sorted by id — the
    deterministic seeding rule shared by the IVF/k-means/PQ tiers."""
    rows = sorted(
        embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    return [(int(r[0]), _qvec(r[1])) for r in rows]


def _nearest_cell(qq: list[int], qcents: list[tuple[int, list[int]]]) -> int:
    """Driver-side twin of _seed_cell_assignment's per-row argmax
    (exact integer dot/normsq, ONE double division, ties to lowest
    centroid id)."""
    import math  # noqa: PLC0415

    qn = sum(x * x for x in qq)
    best = None
    for cid, cq in qcents:
        cn = sum(x * x for x in cq)
        score = (sum(a * b for a, b in zip(qq, cq)) / math.sqrt(qn * cn)) if cn else 0.0
        key = (-score, cid)
        if best is None or key < best[0]:
            best = (key, cid)
    return best[1]


def pq_residual_seed_codebook(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_missing: bool = False,
) -> list[list[list[int]]]:
    """Seed codebook in RESIDUAL space: the residuals (against each
    seed vector's own nearest centroid) of the vectors with id in
    ``[n_centroids, n_centroids + k_codes)``, sub-sliced per subspace.

    ``allow_missing=True`` builds the codebook from however many seed
    ids survive the nonzero-norm gate (possibly zero → ``[]``) instead
    of raising — the semantics of a SQL seed CTE over the filtered
    frame (the ann_ivfpq_residual oracle's ``rcb`` CTE silently shrinks
    when a seed id is zero-norm; raising here would be a crash-vs-result
    cross-engine divergence). Codebook positions stay monotone in seed
    id, so argmin tie-breaks match a gapped code=id-16 oracle numbering
    either way — the same argument as :func:`pq_seed_codebook`.

    The seed range is deliberately DISJOINT from the centroid ids: a
    vector that IS a centroid has residual exactly zero (it is its own
    nearest cell under cosine, ties to lowest id), so reusing the
    ``id < k_codes`` rule would build an all-zero codebook — every
    code ties to 0, ADC distances collapse to the constant
    ``||q - centroid||²`` per cell, and the shortlist degenerates to
    id order (found by the two-level synthetic recall probe; the
    degenerate form even matched its oracle, which is why a hash check
    alone couldn't catch it)."""
    embeddings = nonzero_norm(embeddings, vec_col)
    qcents = _collect_centroids(embeddings, n_centroids, id_col, vec_col)
    cent_by_id = dict(qcents)
    lo, hi = n_centroids, n_centroids + k_codes
    seed_rows = sorted(
        embeddings.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi))
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if len(seed_rows) != k_codes and not allow_missing:
        raise ValueError(
            f"residual PQ seeding expects ids {lo}..{hi - 1}; found {len(seed_rows)}"
        )
    return _residual_codebook_from_rows(qcents, seed_rows, n_sub)


def _residual_codebook_from_rows(
    qcents: list[tuple[int, list[int]]],
    seed_rows,
    n_sub: int,
) -> list[list[list[int]]]:
    """Driver-side core of :func:`pq_residual_seed_codebook`, split out
    (r13) so callers that already hold the collected seed rows (the
    fused query path folds centroids + seeds into ONE collect) build
    the identical codebook without a second scan."""
    if not seed_rows:
        return []
    cent_by_id = dict(qcents)
    dims = len(seed_rows[0][1])
    if dims % n_sub:
        raise ValueError(f"dims={dims} not divisible by n_sub={n_sub}")
    sub = dims // n_sub
    residuals = []
    for r in seed_rows:
        qq = _qvec(r[1])
        cq = cent_by_id[_nearest_cell(qq, qcents)]
        residuals.append([a - b for a, b in zip(qq, cq)])
    return [
        [rv[m * sub : (m + 1) * sub] for rv in residuals] for m in range(n_sub)
    ]


def _residual_staged(
    embeddings: DataFrame,
    n_centroids: int,
    qcents: list[tuple[int, list[int]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, _qv): per-vector quantized RESIDUAL against its
    assigned cell's centroid — the shared staging frame of the residual
    index build and residual codebook training. Pure map-side (the
    centroids travel as one broadcast row; the per-row centroid pick is
    a 16-element array filter)."""
    spark = embeddings.sparkSession
    cents_row = spark.createDataFrame(
        [([(cid, cq) for cid, cq in qcents],)],
        "_cents array<struct<cent_id:bigint,qcvec:array<bigint>>>",
    )
    assign = _seed_cell_assignment(embeddings, n_centroids, id_col, vec_col)
    return assign.crossJoin(F.broadcast(cents_row)).select(
        id_col,
        "cell",
        F.zip_with(
            F.transform(F.col(vec_col), _q),
            F.element_at(
                F.filter(
                    F.col("_cents"),
                    lambda c: c["cent_id"] == F.col("cell").cast("bigint"),
                ),
                1,
            )["qcvec"],
            lambda x, y: x - y,
        ).alias("_qv"),
    )


def pq_train_residual(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train the RESIDUAL codebook (faiss IndexIVFPQ trains its PQ on
    residuals): the same all-integer per-subspace Lloyd loop as
    :func:`pq_train`, run over the residual staging frame and seeded
    from :func:`pq_residual_seed_codebook`. Pass the result as
    ``codebook`` to :func:`ivfpq_residual_index` /
    :func:`cosine_topk_ivfpq_residual`."""
    embeddings = nonzero_norm(embeddings, vec_col)
    qcents = _collect_centroids(embeddings, n_centroids, id_col, vec_col)
    codebook = pq_residual_seed_codebook(
        embeddings, n_centroids, n_sub, k_codes, id_col, vec_col,
        allow_missing=True,
    )
    if not codebook:
        return []
    staged = _residual_staged(embeddings, n_centroids, qcents, id_col, vec_col)
    return _pq_lloyd(staged, codebook, iters)


def ivfpq_residual_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """(id, cell, codes): cell from the broadcast-centroid map-side
    assignment, codes encoding the QUANTIZED RESIDUAL against that
    cell's centroid. One corpus pass, no shuffle (the residual
    subtraction and per-subspace argmin both ride the scan projection);
    PERSISTED for the same §6c reason as :func:`pq_index`."""
    embeddings = nonzero_norm(embeddings, vec_col)
    spark = embeddings.sparkSession
    qcents = _collect_centroids(embeddings, n_centroids, id_col, vec_col)
    if codebook is None:
        codebook = pq_residual_seed_codebook(
            embeddings, n_centroids, n_sub, k_codes, id_col, vec_col,
            allow_missing=True,
        )
    if not codebook:
        # No surviving seed ⇒ no codeword ⇒ no encodable row, like the
        # oracle's renc CTE over an empty rcb.
        id_type = embeddings.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, cell int, codes array<int>"
        )
    sub = len(codebook[0][0])

    entries = [
        (m, j, qsub)
        for m, words in enumerate(codebook)
        for j, qsub in enumerate(words)
    ]
    cb_row = spark.createDataFrame(
        [(entries,)], "_cb array<struct<m:int,code:int,qc:array<bigint>>>"
    )

    staged = _residual_staged(embeddings, n_centroids, qcents, id_col, vec_col)
    firsts = _pq_firsts(sub, len(codebook[0]))
    return (
        staged.crossJoin(F.broadcast(cb_row))
        .select(
            id_col,
            "cell",
            F.transform(firsts, lambda e: e["code"].cast("int")).alias("codes"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def cosine_topk_ivfpq_residual(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 8,
    k_codes: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    codebook: list[list[list[int]]] | None = None,
) -> DataFrame:
    """faiss IndexIVFPQ with by_residual=true: probe the nprobe nearest
    cells; ADC over RESIDUAL codes with a per-(query, probed cell)
    lookup table on the target (q - centroid[cell]); exact rerank of
    the shortlist. Scale shape identical to :func:`cosine_topk_ivfpq`
    (LUTs for all (query, cell) pairs travel as ONE broadcast row of
    |Q|*nprobe entries; the scan touches the probed cells' code rows
    only), with finer quantization because residual magnitudes are
    small relative to raw vectors."""
    if index is not None and codebook is None:
        # The codes in a prebuilt index are meaningless without the
        # codebook that built them; silently re-seeding here would
        # produce wrong ADC distances with no error.
        raise ValueError("passing a prebuilt index requires its codebook")
    embeddings = nonzero_norm(embeddings, vec_col)
    spark = embeddings.sparkSession
    fused = index is None
    if fused:
        # r13: ONE collect serves the centroids (id < n_centroids) AND —
        # when the codebook is being seeded — the disjoint seed range
        # right above them; the old path paid three identical centroid
        # collects (here, in pq_residual_seed_codebook, and inside the
        # index build's cell assignment) plus a separate seed collect,
        # each a full driver job barrier. Same rows, same codebook
        # (allow_missing semantics: however many seeds survive the
        # nonzero-norm gate).
        hi = n_centroids + (k_codes if codebook is None else 0)
        rows = sorted(
            embeddings.filter(F.col(id_col) < hi)
            .select(id_col, vec_col)
            .collect(),
            key=lambda r: r[0],
        )
        qcents = [
            (int(r[0]), _qvec(r[1])) for r in rows if int(r[0]) < n_centroids
        ]
        if not qcents:
            raise ValueError(
                f"no nonzero-norm centroid seeds with {id_col} < {n_centroids}"
            )
        if codebook is None:
            codebook = _residual_codebook_from_rows(
                qcents,
                [r for r in rows if int(r[0]) >= n_centroids],
                n_sub,
            )
    else:
        qcents = _collect_centroids(embeddings, n_centroids, id_col, vec_col)
    cent_by_id = dict(qcents)
    if not codebook:
        return _empty_topk(embeddings, id_col, "cos_sim double")
    sub = len(codebook[0][0])

    import math  # noqa: PLC0415

    q_rows = embeddings.filter(query_filter).select(id_col, vec_col).collect()
    luts = []
    for qr in q_rows:
        qq = _qvec(qr[1])
        qn = sum(x * x for x in qq)
        scored = []
        for cid, cq in qcents:
            cn = sum(x * x for x in cq)
            dot = sum(a * b for a, b in zip(qq, cq))
            scored.append(((-(dot / math.sqrt(qn * cn)) if cn else 0.0), cid))
        probes = [cid for _, cid in sorted(scored)[:nprobe]]
        for cell in probes:
            tv = [a - b for a, b in zip(qq, cent_by_id[cell])]
            lut = [
                [
                    sum(
                        (tv[m * sub + d] - cw[d]) * (tv[m * sub + d] - cw[d])
                        for d in range(sub)
                    )
                    for cw in codebook[m]
                ]
                for m in range(n_sub)
            ]
            luts.append((int(qr[0]), int(cell), lut))
    if fused:
        # r13: assignment + residual + encode + probed-ADC + per-batch
        # top-k fuse into ONE Arrow pass over the corpus (see
        # _fused_adc_shortlist) — no persisted code table, no
        # interpreted per-row HOF chains. The prebuilt-index path below
        # keeps the frame-based scan over the caller's code table.
        cand = _fused_adc_shortlist(
            embeddings, codebook, luts, shortlist, id_col, vec_col,
            qcents=qcents,
        )
    else:
        lut_row = spark.createDataFrame(
            [(luts,)],
            "_lut array<struct<query_id:bigint,cell:int,l:array<array<bigint>>>>",
        )

        per_entry = F.transform(
            F.col("_lut"),
            lambda u: F.named_struct(
                F.lit("query_id"),
                u["query_id"],
                F.lit("probed"),
                u["cell"] == F.col("cell"),
                F.lit("adist"),
                F.aggregate(
                    F.zip_with(
                        F.col("codes"),
                        u["l"],
                        lambda c, lm: F.element_at(lm, c + 1),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
            ),
        )
        cand = (
            index.crossJoin(F.broadcast(lut_row))
            .select(
                F.col(id_col).alias("neighbor_id"),
                F.explode(per_entry).alias("_s"),
            )
            .filter(F.col("_s")["probed"])
            .select(
                F.col("_s")["query_id"].alias("query_id"),
                "neighbor_id",
                F.col("_s")["adist"].alias("adist"),
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    # r12 note: cosine_topk_pq_rerank truncates its shortlist lineage
    # with a localCheckpoint before broadcasting (measured −0.7 s); the
    # same change was A/B'd HERE and measured ~1.2 s SLOWER at sf0.1
    # (the probed-cell shortlist reads the persisted ivfpq index, whose
    # InMemoryTableScan already makes the broadcast subtree cheap, while
    # the checkpoint forces an extra full materialization pass) — so the
    # ivfpq paths deliberately keep the plain broadcast.
    short = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qvecs = embeddings.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        quantized_norm_sq(F.col(vec_col)).alias("qnorm"),
    )
    fetched = F.broadcast(short.join(qvecs, "query_id")).join(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            quantized_norm_sq(F.col(vec_col)).alias("cnorm"),
        ),
        "neighbor_id",
    )
    scored = fetched.select(
        "query_id",
        "neighbor_id",
        (
            quantized_dot(F.col("qvec"), F.col("cvec")).cast("double")
            / F.sqrt(F.col("qnorm").cast("double") * F.col("cnorm").cast("double"))
        ).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos_sim"
        )
    )
