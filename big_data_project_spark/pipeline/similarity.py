"""Similarity search over embeddings (SURVEY.md §2.10 X8).

Exact brute-force cosine top-k is the correctness baseline (crossJoin +
JVM-side fold — `F.aggregate`/`zip_with`, no Python in the loop). The
100 TB path is block-pruned search: an IVF-style coarse quantizer buckets
vectors, queries probe only the nearest buckets — the crossJoin shrinks
from n² to n·(n/k·nprobe). On the driver's synthetic embeddings (64-dim,
near-random, max pairwise cosine ≈ 0.51) the IVF variant is registered
rows-only with a recall invariant in tests, since no true cluster
structure exists to make pruning lossless.

Float parity: cosine is computed in DOUBLE with a sequential left fold on
the Spark side; DuckDB's list_sum may reduce in a different order, so
queries filter/output on `round(sim + 1e-9, 4)` and rank with a unique
neighbor-id tie-break (SURVEY §4.3.1-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_project_spark.io import load_table
from big_data_project_spark.pipeline.dedup import _spread
from big_data_project_spark.registry import query

# The shared X8-family fixture query set: the first N corpus vectors.
# Every X8-family leg — Spark filters AND oracle strings alike —
# interpolates THIS constant (ADVICE r13 for x90's routing; ADVICE r14
# for the sibling oracles), so changing N can never desync a Spark leg
# from its oracle.
_X8_N_QUERIES = 10


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def with_cosine(pairs: DataFrame, col_a: str = "va", col_b: str = "vb") -> DataFrame:
    sim = _dot(F.col(col_a), F.col(col_b)) / (_norm(F.col(col_a)) * _norm(F.col(col_b)))
    return pairs.withColumn("sim_raw", sim)


# --- X8a: exact brute-force top-k ------------------------------------------


@query(
    "x8_similarity_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < {_X8_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.vq, e.v) + 1e-9, 4) AS sim
      FROM q JOIN e ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def x8_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for the first 10 vectors. Ranking uses the
    ROUNDED similarity (+ id tie-break) so both engines rank identically
    even if their float reduction orders differ by ulps.

    Kernel choice (measured at sf0.1, min-of-4 steady state): at this
    shape — 10 queries × n corpus — the pure-JVM broadcast-crossJoin +
    zip_with fold wins (0.65-0.73s) over an Arrow/numpy matmul kernel
    (0.83-1.2s): the kernel pays a query-fetch job, a broadcast, Python
    worker spin-up, and a repartition shuffle that the fold never needs,
    and 50k interpreted folds are too few to amortize them.  The numpy
    block kernels take over where the pair count explodes
    (x8_cosine_pairs_threshold, x8_knn_all: n² pairs).  Measure, don't
    guess — the crossover is the pair count, not the operator."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _X8_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("va")
    )
    # spread the corpus stream before the fold: a single small parquet file
    # arrives as ONE partition, which would serialize the 64-dim zip_with
    # fold (the whole cost of this query) on one core.  Only the corpus
    # rows move, once, BEFORE the 10× cross-join fan-out; the guarded
    # dedup._spread form is a true no-op on an already-parallel scan.
    n = _spread(e, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vb")
    )
    scored = (
        with_cosine(F.broadcast(q).crossJoin(n))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(F.col("sim_raw") + 1e-9, 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "sim")
    )


# --- X8b: threshold similarity pairs (embedding-cosine near-dup form) ------
#
# Block-matrix kernels: each cell of an (A-block × B-block) grid does ONE
# numpy matmul per Arrow batch.  Spark's higher-order array functions are
# interpreted (not codegen'd), so the per-pair zip_with fold used for the
# top-k query would cost ~100× more here (n²/2 pairs).
#
# TILING (the 100 TB path): when the whole B side fits under
# `_MAX_BROADCAST_BYTES` it is broadcast once (bounded payload — the same
# driver-mediated relay Spark's own BroadcastExchange performs for any
# broadcast join) and every A partition streams past it.  Above the cap
# the kernel switches to a fully DISTRIBUTED grid: A is replicated across
# nb shuffle keys, B is replicated across na shuffle keys, and each
# (a_blk, b_blk) cell is cogrouped executor-side via applyInPandas — no
# byte of either table ever transits the driver, so the 100 TB bottleneck
# is the shuffle fabric (nb·|A| + na·|B| replicated bytes), not one
# driver NIC.  Pair results union across cells (each pair lives in
# exactly one cell); kNN takes a per-vector rank-1 reduce over the nb
# per-block candidates.  Tiled ≡ untiled is pinned in
# tests/test_pipeline.py.

_MAX_BROADCAST_BYTES = 256 << 20  # cap on the single-broadcast B side


def _norm_rows(pdf):
    """pandas block → (ids ascending, L2-normalized float64 matrix)."""
    import numpy as np

    ids = np.asarray(pdf["vec_id"], dtype=np.int64)
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)  # ascending id ⇒ argmax picks smallest id on ties
    return ids[order], mat[order]


def _embedding_stats(sf_dir: str, e: DataFrame | None = None) -> tuple[int, int]:
    """(row count, vector dim) from the parquet FOOTER + one single-row
    batch — driver-side metadata only, no Spark job.  r02's agg-based
    version cost a full scan per kernel call.

    The footer probe assumes a single-file fixture with a non-null first
    embedding; a directory-layout table or a leading null raises, so fall
    back to the (slower but layout-agnostic) DataFrame aggregate when the
    caller hands us the loaded frame."""
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
        n = pf.metadata.num_rows
        dim = 1
        for first in pf.iter_batches(batch_size=1, columns=["embedding"]):
            dim = len(first.column(0)[0]) or 1
            break
        return n, dim
    except (OSError, IndexError, KeyError, TypeError, ImportError) as exc:
        # expected failure modes: missing/dir-layout file (OSError — pyarrow's
        # ArrowInvalid subclasses OSError), empty table / leading-null
        # embedding (IndexError/TypeError), missing column (KeyError)
        if e is None:
            raise
        import warnings

        warnings.warn(
            f"parquet footer probe failed ({exc!r}); "
            "falling back to a full DataFrame aggregate scan",
            stacklevel=2,
        )
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size("embedding")).alias("dim"),
        ).first()
        return int(row["n"]), max(1, int(row["dim"] or 1))


def _n_blocks(sf_dir: str, block_rows: int | None, e: DataFrame | None = None) -> int:
    """How many B-side blocks?  Explicit block_rows wins (tests use it);
    otherwise one block while the est. payload fits under the cap."""
    n, dim = _embedding_stats(sf_dir, e)
    if block_rows is not None:
        return max(1, -(-n // block_rows))
    rows_per_block = max(1, _MAX_BROADCAST_BYTES // (dim * 8))
    return max(1, -(-n // rows_per_block))


def _grid_apply(e: DataFrame, nb: int, cell_fn, schema: str) -> DataFrame:
    """Distributed (A-block × B-block) grid: cogroup each cell executor-side.

    A rows go to exactly one a_blk and are replicated to every b_blk; B
    rows go to exactly one b_blk and are replicated to every a_blk.  Each
    cell sees one bounded B block (≤ ~cap rows) against one A block, and
    ``cell_fn(a_pdf, b_pdf) -> pdf`` runs the numpy kernel.  Replication
    happens executor-side inside the shuffle write — the driver only
    schedules tasks.

    Grid shape: shuffle volume is nb·|A| + na·|B|, and a cogrouped A cell
    materializes whole in the Python worker, so A blocks obey the same
    memory cap as B blocks (na ≥ nb).  na = max(nb, ceil(P/nb)) is the
    balanced choice: a square grid at scale (minimum total replication
    for a self-join, the SUMMA layout), widened only when nb alone can't
    fill the cluster's parallelism."""
    sc_parallelism = e.sparkSession.sparkContext.defaultParallelism
    na = max(nb, -(-max(1, sc_parallelism) // nb))
    a_rep = e.select(
        "vec_id", "embedding",
        F.pmod(F.col("vec_id"), F.lit(na)).alias("a_blk"),
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("b_blk"),
    )
    b_rep = e.select(
        "vec_id", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(na - 1))).alias("a_blk"),
        F.pmod(F.col("vec_id"), F.lit(nb)).alias("b_blk"),
    )
    return (
        a_rep.groupBy("a_blk", "b_blk")
        .cogroup(b_rep.groupBy("a_blk", "b_blk"))
        .applyInPandas(cell_fn, schema=schema)
    )


def _broadcast_b(spark: SparkSession, e: DataFrame):
    """Single-block path: one bounded (≤ cap) broadcast of the whole B side
    — the same driver-mediated relay a Spark broadcast join performs."""
    return spark.sparkContext.broadcast(_norm_rows(e.toPandas()))


@query(
    "x8_cosine_pairs_threshold",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) >= 0.4
    """,
)
def x8_cosine_pairs_threshold(
    spark: SparkSession, sf_dir: str, block_rows: int | None = None
) -> DataFrame:
    """All pairs with cosine ≥ 0.4 (the fixture's 'near-duplicate' regime;
    at production thresholds ~0.95 this is the embedding-dedup operator).
    Filter applies to the ROUNDED value in both engines.  Pairs are
    emitted once (vec_a < vec_b), so grid cells / blocks simply union."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def pairs_kernel(ids_a, a, ids_b, mat_b):
        sims = np.round(a @ mat_b.T + 1e-9, 4)
        ai, bi = np.where(sims >= 0.4)
        keep = ids_a[ai] < ids_b[bi]
        return pd.DataFrame({
            "vec_a": ids_a[ai][keep],
            "vec_b": ids_b[bi][keep],
            "sim": sims[ai, bi][keep],
        })

    schema = "vec_a bigint, vec_b bigint, sim double"
    nb = _n_blocks(sf_dir, block_rows, e)
    if nb == 1:
        bc = _broadcast_b(spark, e)

        def block(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids_b, mat_b = bc.value
            for pdf in pdf_iter:
                if not pdf.empty:
                    yield pairs_kernel(*_norm_rows(pdf), ids_b, mat_b)

        # spread the A side across all cores: the scan may be one small
        # parquet split locally, and the matmul parallelizes per-partition
        n_parts = spark.sparkContext.defaultParallelism
        return e.repartition(n_parts, "vec_id").mapInPandas(block, schema=schema)

    def cell(a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
        return pairs_kernel(*_norm_rows(a_pdf), *_norm_rows(b_pdf))

    return _grid_apply(e, nb, cell, schema)


# --- X8b2: embedding-cosine near-dup DEDUP (keep-set) ----------------------


@query(
    "x8_embedding_dedup_keep",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) >= 0.4
    )
    SELECT vec_id AS keep_vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_b FROM pairs)
    """,
)
def x8_embedding_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: survivor set after dropping every
    vector that has a ≥ 0.4-cosine near-duplicate with a smaller id — the
    embedding-space sibling of x7_minhash_dedup_keep (same greedy-by-id
    keep rule, so both engines agree deterministically). Pair discovery is
    the block-matrix kernel from x8_cosine_pairs_threshold; the dedup
    itself is one anti-join, so at 100 TB the cost profile is the pair
    kernel's (tiled broadcast blocks), not the survivor pass."""
    pairs = x8_cosine_pairs_threshold(spark, sf_dir)
    losers = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    e = load_table(spark, sf_dir, "embeddings")
    return e.join(losers, "vec_id", "left_anti").select(
        F.col("vec_id").alias("keep_vec_id")
    )


# --- X8c: IVF-style block-pruned ANN (the scale path; rows-only) -----------


_IVF_NPROBE = 3


# Shared oracle CTE: per-label mean centroids + nearest-centroid assignment
# (the coarse-quantizer step of IVF, and the clustering step of SemDeDup).
_ASSIGN_CTE = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    flat AS (
      SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e
    ),
    cent AS (
      SELECT label AS centroid_id, list(c ORDER BY i) AS centroid
      FROM (SELECT label, i, avg(x) AS c FROM flat GROUP BY label, i)
      GROUP BY label
    ),
    assigned AS (
      SELECT vec_id, v, centroid_id AS bucket
      FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM e CROSS JOIN cent c)
      WHERE rk = 1
    )"""


def _ivf_oracle_sql(nprobe: int = _IVF_NPROBE) -> str:
    """Mirror the full IVF pipeline in DuckDB: per-label mean centroids,
    nearest-centroid assignment, nprobe-bucket probing, exact re-rank —
    every ranking on round(csim + 1e-9, 4) with a centroid/neighbor id
    tie-break, so both engines agree despite float-reduction-order ulps."""
    return f"""{_ASSIGN_CTE},
    probes AS (
      SELECT query_id, centroid_id AS bucket
      FROM (
        SELECT a.vec_id AS query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM assigned a CROSS JOIN cent c
        WHERE a.vec_id < {_X8_N_QUERIES})
      WHERE rk <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, a.v) + 1e-9, 4) AS sim
      FROM probes p
      JOIN assigned a USING (bucket)
      JOIN e q ON q.vec_id = p.query_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """


def _label_centroids(e: DataFrame) -> DataFrame:
    """Deterministic centroids: mean vector per label (the fixture's own
    partition hint; in production: k-means|| via ml.clustering.KMeans)."""
    return (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select(
            F.col("label").alias("centroid_id"),
            F.transform("pairs", lambda p: p.getField("c")).alias("centroid"),
        )
    )


def _assign_nearest(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (rounded csim + id
    tie-break: the cross-engine-stable ranking convention, §4.3.1).
    Centroids broadcast — the fact side never shuffles.

    Formulated as max_by over the k candidate rows, NOT a row_number
    window: the broadcast crossJoin keeps all k candidates of a vector in
    the partition that scanned it, so map-side partial aggregation
    collapses them to ONE row per vector before the exchange — n rows of
    (vec_id, embedding, bucket) transit the shuffle instead of the
    window formulation's n·k rows each dragging a copy of the embedding.
    max_by(id, (csim, -id)) == max csim, then smallest id — the same
    ranking, and every candidate row carries the identical embedding so
    first() is value-deterministic."""
    vc = e.crossJoin(F.broadcast(cent))
    vc = with_cosine(vc, "embedding", "centroid").select(
        "vec_id", "embedding", "centroid_id",
        F.round(F.col("sim_raw") + F.lit(1e-9), 4).alias("csim"),
    )
    return (
        vc.groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.max_by(
                "centroid_id",
                F.struct(F.col("csim"), (-F.col("centroid_id")).alias("nid")),
            ).alias("bucket"),
        )
        .select("vec_id", "embedding", "bucket")
    )


@query("x8_ivf_ann_topk", oracle=_ivf_oracle_sql())
def x8_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF sketch: k-means-style coarse quantizer seeded from the
    per-label mean vectors (deterministic, no RNG), one assignment pass,
    then queries probe the nprobe nearest centroids only. CrossJoin cost
    drops from n² to n·(n/k)·nprobe. Every ranking uses the ROUNDED
    cosine with an id tie-break, so the whole pipeline — centroids,
    assignment, probing, re-rank — is mirrored and hash-verified in the
    DuckDB oracle; recall vs brute force is additionally asserted in
    tests/test_pipeline.py (fixture vectors are near-random, so recall
    here demonstrates the machinery, not clustering magic).  The nprobe
    knob lives on the private `_ivf_search` helper: the decoration-time
    oracle bakes `_IVF_NPROBE`, so the public entry point must not
    accept a value the oracle can't follow (the x31 `iters` lesson)."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(e)
    assigned = _assign_nearest(e, cent)
    return _ivf_search(cent, assigned, _IVF_NPROBE)


def _probe_cells(assigned: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """The IVF ROUTING step, defined once: per query (the first
    ``_X8_N_QUERIES`` corpus vectors — the fixture query set every X8
    variant shares), the ``nprobe`` nearest centroids by rounded cosine
    with the centroid-id tie-break (§4.3.1).  Returns (query_id, va,
    bucket) — one row per probed cell; consumed by ``_ivf_search``
    (exact re-rank within the cells) and ``x90_ivfadc_topk`` (ADC scan
    within the cells).  Centroids broadcast into the bounded query
    frame: the routing never touches the corpus."""
    queries = assigned.filter(F.col("vec_id") < _X8_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("va")
    )
    qprobe = with_cosine(queries.crossJoin(F.broadcast(cent)), "va", "centroid").withColumn(
        "psim", F.round(F.col("sim_raw") + F.lit(1e-9), 4)
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("psim").desc(), "centroid_id")
    return (
        qprobe.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "va", F.col("centroid_id").alias("bucket"))
    )


def _ivf_search(cent: DataFrame, assigned: DataFrame, nprobe: int) -> DataFrame:
    """Probe the nprobe nearest buckets per query, exact re-rank within
    them (top-5, rounded-cosine + id tie-break)."""
    probes = _probe_cells(assigned, cent, nprobe)
    # search only within probed buckets
    cand = probes.join(
        assigned.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vb"), "bucket"),
        "bucket",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = with_cosine(cand).withColumn("sim", F.round(F.col("sim_raw") + 1e-9, 4))
    wtop = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "sim")
    )


# --- X8d: full-corpus KNN join (top-1 neighbor for EVERY vector) -----------


@query(
    "x8_knn_all",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id, b.vec_id AS nn_id,
             round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS sim
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    )
    SELECT vec_id, nn_id, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, nn_id) AS rk
          FROM scored)
    WHERE rk = 1
    """,
)
def x8_knn_all(
    spark: SparkSession, sf_dir: str, block_rows: int | None = None
) -> DataFrame:
    """Nearest neighbor for EVERY vector (the KNN-join that powers
    embedding dedup and clustering) via the tiled block-matrix kernel:
    each grid cell emits only its rows' per-block argmax — nothing but
    (n × 3) scalars per block ever leaves the kernel — and the global
    winner is a per-vector rank-1 reduce over the nb block candidates.
    Ties break on the smaller neighbor id to match the oracle's ORDER BY
    sim DESC, nn_id (within a block: ids ascending so argmax takes the
    first; across blocks: explicit window order)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def argmax_kernel(ids_a, a, ids_b, mat_b):
        sims = np.round(a @ mat_b.T + 1e-9, 4)
        sims[ids_a[:, None] == ids_b[None, :]] = -np.inf  # mask self
        best = sims.argmax(axis=1)  # first (=smallest id) on equal sim
        ok = sims[np.arange(len(best)), best] > -np.inf
        return pd.DataFrame({
            "vec_id": ids_a[ok],
            "nn_id": ids_b[best][ok],
            "sim": sims[np.arange(len(best)), best][ok],
        })

    schema = "vec_id bigint, nn_id bigint, sim double"
    nb = _n_blocks(sf_dir, block_rows, e)
    if nb == 1:
        bc = _broadcast_b(spark, e)

        def block(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids_b, mat_b = bc.value
            for pdf in pdf_iter:
                if not pdf.empty:
                    yield argmax_kernel(*_norm_rows(pdf), ids_b, mat_b)

        n_parts = spark.sparkContext.defaultParallelism
        return e.repartition(n_parts, "vec_id").mapInPandas(block, schema=schema)

    def cell(a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "sim": []})
        return argmax_kernel(*_norm_rows(a_pdf), *_norm_rows(b_pdf))

    cand = _grid_apply(e, nb, cell, schema)
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "nn_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "nn_id", "sim")
    )


_BLOCKED_KNN_ROWS = 200


@query(
    "x8_knn_all_blocked",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id, b.vec_id AS nn_id,
             round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS sim
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    )
    SELECT vec_id, nn_id, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY sim DESC, nn_id) AS rk
          FROM scored)
    WHERE rk = 1
    """,
)
def x8_knn_all_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x8_knn_all with the SUMMA block-matrix grid FORCED (block_rows=200,
    so every fixture SF runs >=2 B-blocks): same oracle, same answer — the
    point of a separate registered query is (a) a driver-green row for the
    blocked kernel itself, not just the broadcast fast path the fixture
    sizes would otherwise always take, and (b) a bench row tracking the
    grid's wall-time round-over-round (VERDICT r04 #6).  This is the ONLY
    code path available at 100 TB, where no embedding table fits under the
    broadcast cap."""
    return x8_knn_all(spark, sf_dir, block_rows=_BLOCKED_KNN_ROWS)


# --- X13: mapInArrow kernel (the zero-copy Arrow boundary) ------------------


@query(
    "x13_mapinarrow_norm",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))) + 1e-9, 4) AS l2_norm
    FROM embeddings
    """,
)
def x13_mapinarrow_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-overhead Python boundary — the kernel sees
    raw pyarrow RecordBatches, so the embedding matrix is reshaped from
    the list array's flat values buffer without ever materializing pandas
    objects (mapInPandas pays Series-of-lists boxing per row; for pure
    numeric kernels Arrow→numpy is a view). Accumulates in float64 so the
    norm agrees with the DuckDB oracle under the round rule. Completes
    the Python-boundary family: pandas_udf (X1), applyInPandas (X2),
    mapInPandas (X3/X8), UDTF (X4), applyInPandasWithState (T6),
    mapInArrow (here)."""
    import numpy as np
    import pyarrow as pa

    def kernel(batch_iter):
        for batch in batch_iter:
            vec_ids = batch.column(0)
            embs = batch.column(1)
            n = len(embs)
            flat = embs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(n, -1)
            norms = np.round(np.sqrt((mat * mat).sum(axis=1)) + 1e-9, 4)
            yield pa.RecordBatch.from_arrays(
                [vec_ids, pa.array(norms, pa.float64())], ["vec_id", "l2_norm"]
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(kernel, schema="vec_id bigint, l2_norm double")


# --- X15: embedding scalar quantization (int8 codes) ------------------------


@query(
    "x15_embedding_quantize",
    oracle="""
    SELECT vec_id,
           round(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> abs(x))) + 1e-9, 6) AS scale_abs,
           array_to_string(list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 127.0 / nullif(
                    list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                            y -> abs(y))), 0)) AS INT)), ',') AS codes
    FROM embeddings
    """,
)
def x15_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, code =
    round(x/scale). The standard 4× memory cut for vector search — at
    100 TB of embeddings the int8 codes (plus one float scale per vector)
    are what the ANN index stores and scans; full-precision vectors stay
    in cold storage for re-ranking. Pure array expressions, no shuffle;
    the dequantization error bound (≤ scale/2 per component) is what the
    IVF re-rank stage absorbs. Codes emitted as a comma-joined string —
    the driver's pandas canonicalizer cannot hash raw array cells."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # scale (an O(d) array_max) must NOT sit inside the per-element
    # lambda — a lambda-embedded outer expression re-evaluates per
    # element, O(d²) per row (the x88 norm-fold lesson, r12).  Routing
    # it through array_repeat's element argument evaluates it once per
    # row; values are bit-identical to the inline division.
    codes = F.zip_with(
        v,
        F.array_repeat(scale, F.size(v)),
        lambda x, s: F.round(x * 127.0 / F.nullif(s, F.lit(0.0))).cast("int"),
    )
    return e.select(
        "vec_id",
        F.round(scale + F.lit(1e-9), 6).alias("scale_abs"),
        F.concat_ws(",", codes).alias("codes"),
    )


# --- X18: product-quantization codes (beyond x15's scalar int8) -------------

_PQ_M = 4   # subspaces (64-dim → 4 × 16-dim)
_PQ_K = 8   # centroids per subspace → 3 bits/subspace, 12-bit code total
_PQ_D = 16  # dims per subspace


def _pq_centroids():
    """Fixed seeded codebook (deterministic across runs/sessions, and
    embedded as literals in the DuckDB oracle so both engines quantize
    against bit-identical centroids).  Production would train these with
    per-subspace k-means on a sample; the assignment machinery — the part
    that runs over 100 TB — is identical either way."""
    import numpy as np

    rng = np.random.default_rng(seed=11)
    return rng.standard_normal((_PQ_M, _PQ_K, _PQ_D)).round(6).tolist()


def _pq_oracle_sql() -> str:
    """Generate the oracle: per subspace, argmin over the k literal
    centroids by Euclidean distance (list_position of the min — first
    occurrence, matching numpy argmin's first-min tie rule)."""
    cents = _pq_centroids()
    parts = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_D + 1, (j + 1) * _PQ_D
        dlist = ", ".join(
            f"list_distance(v[{lo}:{hi}], {c})" for c in cents[j]
        )
        parts.append(
            f"CAST(list_position([{dlist}], list_min([{dlist}])) - 1 AS INT)"
        )
    codes = ", ".join(parts)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id, concat_ws(',', {codes}) AS pq_code
    FROM e
    """


@query("x18_pq_codes", oracle=_pq_oracle_sql())
def x18_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each vector's m=4 16-dim subvectors map to
    their nearest per-subspace centroid, giving a 12-bit code — the
    compression behind billion-scale ANN (IVF-PQ): the index stores codes
    (1.5 bytes/vector here vs 512 for float64), and asymmetric distance
    uses per-query lookup tables.  Assignment is a pure map (numpy
    argmin per Arrow batch, codebook broadcast via closure — KB-sized,
    never the data): no shuffle, linear scan, trivially 100 TB-safe.
    Codes emitted as a comma-joined string (driver hasher can't hash
    arrays)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cents = np.asarray(_pq_centroids())  # (m, k, d)

    def block(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            a = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            cols = []
            for j in range(_PQ_M):
                sub = a[:, j * _PQ_D : (j + 1) * _PQ_D]
                d2 = ((sub[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                cols.append(d2.argmin(axis=1))
            pq = np.stack(cols, axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "pq_code": [",".join(map(str, row)) for row in pq],
            })

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInPandas(block, schema="vec_id bigint, pq_code string")


# --- X16: SRP-LSH bucketed ANN (the hash-bucket scale path; rows-only) ------

_SRP_TABLES = 8  # hash tables (OR-amplification: any shared bucket → candidate)
_SRP_BITS = 6    # hyperplanes per table (AND-amplification within a table)


def _srp_hyperplanes():
    """Fixed random hyperplanes (seeded → identical across runs/sessions,
    SURVEY §4.3.6): _SRP_TABLES × _SRP_BITS planes in R^64."""
    import numpy as np

    rng = np.random.default_rng(seed=7)
    return rng.standard_normal((_SRP_TABLES, _SRP_BITS, 64)).round(6).tolist()


def _srp_oracle_sql() -> str:
    """Generate the oracle with the hyperplanes embedded as literals (the
    x18 pattern): per table, the bucket is the packed sign-bit vector of
    the plane dot products; candidates share any (table, bucket); exact
    cosine re-ranks.  A sign flip between engines would need |dot| below
    float-sum reassociation error (~1e-12 against O(1) magnitudes) —
    measure-zero for seeded random planes."""
    planes = _srp_hyperplanes()
    selects = []
    for t in range(_SRP_TABLES):
        bucket = " + ".join(
            f"CAST(list_inner_product(v, {planes[t][b]}) > 0 AS INT) * {1 << b}"
            for b in range(_SRP_BITS)
        )
        selects.append(f"SELECT vec_id, v, {t} AS table_id, {bucket} AS bucket FROM e")
    srp = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    srp AS ({srp}),
    q AS (SELECT vec_id AS query_id, table_id, bucket FROM srp
          WHERE vec_id < {_X8_N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
      FROM q JOIN srp s USING (table_id, bucket)
      WHERE s.vec_id != q.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS sim
      FROM cand c
      JOIN e a ON a.vec_id = c.query_id
      JOIN e b ON b.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """


@query("x16_srp_lsh_ann_topk", oracle=_srp_oracle_sql())
def x16_srp_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH: each vector gets _SRP_TABLES bucket
    ids (one per table, _SRP_BITS sign bits each); queries meet only
    vectors sharing ≥1 bucket, then exact cosine re-ranks the candidates.
    Complements x8_ivf_ann_topk: IVF prunes by Voronoi cell (needs a
    trained quantizer, probes nearest cells), SRP-LSH is data-independent
    (no training pass — the right choice when the corpus distribution
    shifts faster than a quantizer can be refit). P(two vectors at angle
    θ share a table's bucket) = (1 − θ/π)^bits; OR over tables amplifies
    recall. At 100 TB the bucket join shuffles on (table, bucket) with
    bounded bucket sizes — never n². The seeded hyperplanes are embedded
    as literals in the DuckDB oracle (the x18 pattern), so the whole
    bucket→candidate→re-rank pipeline is hash-verified; candidate-subset
    + re-rank-exactness invariants additionally in tests/test_pipeline.py."""
    e = load_table(spark, sf_dir, "embeddings")
    planes = _srp_hyperplanes()
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def bucket(table: int):
        bits = [
            (_dot(v, F.array(*[F.lit(w) for w in planes[table][b]])) > 0).cast("int")
            * F.lit(1 << b)
            for b in range(_SRP_BITS)
        ]
        s = bits[0]
        for b in bits[1:]:
            s = s + b
        return s

    buckets = F.array(*[
        F.struct(F.lit(t).alias("table_id"), bucket(t).alias("bucket"))
        for t in range(_SRP_TABLES)
    ])
    tagged = e.select("vec_id", "embedding", F.explode(buckets).alias("tb")).select(
        "vec_id", "embedding", "tb.table_id", "tb.bucket"
    ).persist()
    queries = tagged.filter(F.col("vec_id") < _X8_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("va"),
        "table_id", "bucket",
    )
    cand = (
        queries.join(
            tagged.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("vb"), "table_id", "bucket",
            ),
            ["table_id", "bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "va", "vb")
        .distinct()
    )
    scored = with_cosine(cand).withColumn("sim", F.round(F.col("sim_raw") + 1e-9, 4))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "sim")
    )


# --- X26: SemDeDup — semantic dedup within embedding clusters ---------------

_SEMDEDUP_TAU = 0.4  # same near-dup bar as x8_embedding_dedup_keep


@query(
    "x26_semdedup",
    oracle=f"""{_ASSIGN_CTE},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b USING (bucket)
      WHERE a.vec_id < b.vec_id
        AND round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) >= {_SEMDEDUP_TAU}
    )
    SELECT s.vec_id, CAST(s.bucket AS INT) AS cluster_id,
           d.id_b IS NULL AS kept
    FROM assigned s
    LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d ON s.vec_id = d.id_b
    """,
)
def x26_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings
    with a coarse quantizer, then near-dup-compare ONLY within clusters —
    pair cost drops from n² to Σ|cluster|², the trade being that
    cross-cluster near-dups are missed by design (vs the exact global
    x8_embedding_dedup_keep, its correctness sibling here). Reuses the
    IVF assignment (broadcast centroids, rounded-cosine + id tie-break),
    so at 100 TB the only shuffle is the self-join on cluster id; greedy
    keep-lowest-id within each duplicate pair makes the survivor set
    deterministic in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned = _assign_nearest(e, _label_centroids(e)).persist()
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket"
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket"
    )
    cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    pairs = with_cosine(cand).filter(
        F.round(F.col("sim_raw") + F.lit(1e-9), 4) >= _SEMDEDUP_TAU
    )
    losers = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        assigned.select("vec_id", F.col("bucket").cast("int").alias("cluster_id"))
        .join(losers.withColumn("dup", F.lit(1)), "vec_id", "left")
        .select("vec_id", "cluster_id", F.col("dup").isNull().alias("kept"))
    )


# --- X30: k-means Lloyd refinement step (iterative clustering machinery) ----


@query(
    "x30_kmeans_step",
    oracle=_ASSIGN_CTE + """,
    flat2 AS (
      SELECT bucket, generate_subscripts(v, 1) AS i, unnest(v) AS x
      FROM assigned
    ), dims AS (
      SELECT bucket, i, avg(x) AS c FROM flat2 GROUP BY bucket, i
    ), newc AS (
      SELECT bucket, list(c ORDER BY i) AS nc FROM dims GROUP BY bucket
    ), members AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_members
      FROM assigned GROUP BY bucket
    )
    SELECT m.bucket AS centroid_id, m.n_members,
           round(list_cosine_similarity(c.centroid, n.nc) + 1e-9, 4) AS shift_cos
    FROM members m
    JOIN newc n USING (bucket)
    JOIN cent c ON c.centroid_id = m.bucket
    """,
)
def x30_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding table: assign
    every vector to its nearest seed centroid (broadcast centroids,
    rounded-cosine + id tie-break — the IVF assignment), then recompute
    each centroid as the member mean and report cluster size plus the
    cosine between old and new centroid (the convergence signal an
    iterative driver loop would test).  This is the per-iteration body of
    distributed k-means: ONE broadcast-join assignment pass + ONE
    groupBy(bucket, dim) mean — at 100 TB each iteration is a single
    narrow scan plus a k·dim-cell aggregate, never a shuffle of the
    vectors themselves.  Full pipeline mirrored in the DuckDB oracle
    (same seed centroids, same tie-breaks, shift rounded to 4)."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(e)
    assigned = _assign_nearest(e, cent)
    dims = _bucket_means(assigned)
    members = assigned.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_members"))
    joined = (
        members.join(dims, "bucket")
        .join(F.broadcast(cent), F.col("bucket") == F.col("centroid_id"))
    )
    return with_cosine(joined, "centroid", "new_centroid").select(
        F.col("bucket").alias("centroid_id"),
        "n_members",
        F.round(F.col("sim_raw") + F.lit(1e-9), 4).alias("shift_cos"),
    )


def _bucket_means(assigned: DataFrame, round_to: int | None = None) -> DataFrame:
    """Recompute each centroid as its members' mean: ONE groupBy(bucket,
    dim) aggregate — k·dim result cells, the vectors themselves never
    shuffle.  ``round_to`` quantizes every coordinate (round(c+1e-9, d)):
    the multi-iteration trainer needs it so Spark's and DuckDB's
    float-reduction-order ulps can't compound into diverging assignments
    on the next pass."""
    c = F.avg("x").alias("c")
    coord = (lambda q: F.round(q.getField("c") + F.lit(1e-9), round_to)) \
        if round_to is not None else (lambda q: q.getField("c"))
    return (
        assigned.select("bucket", F.posexplode("embedding").alias("i", "x"))
        .groupBy("bucket", "i")
        .agg(c)
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("p"))
        .select("bucket", F.transform("p", coord).alias("new_centroid"))
    )


# --- X31: multi-iteration k-means training loop (Lloyd until report) --------


def _lloyd_ctes(iters: int) -> str:
    """CTE chain unrolling ``iters`` Lloyd iterations (the x30 pattern
    composed): c0 = per-label seed means, then a{n} = nearest-centroid
    assignment against c{n-1}, c{n} = member means — every centroid
    coordinate rounded to 6 on BOTH engines so iteration n+1 starts from
    bit-equal inputs, every ranking on round(csim+1e-9, 4) with the
    centroid-id tie-break (§4.3.1)."""
    ctes = [
        "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "flat AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e)",
        """c0 AS (
      SELECT label AS centroid_id, list(round(c + 1e-9, 6) ORDER BY i) AS centroid
      FROM (SELECT label, i, avg(x) AS c FROM flat GROUP BY label, i)
      GROUP BY label)""",
    ]
    for n in range(1, iters + 1):
        ctes.append(f"""a{n} AS (
      SELECT vec_id, v, centroid_id AS bucket
      FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM e CROSS JOIN c{n - 1} c)
      WHERE rk = 1)""")
        ctes.append(f"""c{n} AS (
      SELECT bucket AS centroid_id, list(round(c + 1e-9, 6) ORDER BY i) AS centroid
      FROM (SELECT bucket, i, avg(x) AS c
            FROM (SELECT bucket, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM a{n})
            GROUP BY bucket, i)
      GROUP BY bucket)""")
    return "WITH " + ",\n    ".join(ctes)


def _kmeans_train_oracle(iters: int) -> str:
    return _lloyd_ctes(iters) + f"""
    SELECT f.centroid_id, m.n_members,
           round(list_cosine_similarity(p.centroid, f.centroid) + 1e-9, 4) AS shift_cos
    FROM (SELECT bucket AS centroid_id, CAST(count(*) AS BIGINT) AS n_members
          FROM a{iters} GROUP BY bucket) m
    JOIN c{iters} f ON f.centroid_id = m.centroid_id
    JOIN c{iters - 1} p ON p.centroid_id = f.centroid_id"""


def _train_centroids(e: DataFrame, gens: int) -> DataFrame:
    """Per-label seed means refined by ``gens`` Lloyd generations.  Each
    generation's k·dim centroid table is persisted and MATERIALIZED
    (count) before the next assignment plan is built, then the previous
    generation is unpersisted — the next plan's lineage starts at a k-row
    cached table, not a re-derivation of every earlier pass, and executor
    memory holds exactly one generation.  Coordinates quantize to 6
    decimals per generation (both engines — see _lloyd_ctes) so
    float-reduction-order ulps cannot compound across iterations.

    The RETURNED generation stays persisted (its k rows back every
    downstream broadcast): registry entry points clearCache() on entry, so
    registered queries never leak it, but callers composing this helper
    outside the registry must unpersist the result after their terminal
    action."""
    seed = _label_centroids(e).select(
        "centroid_id",
        F.transform("centroid", lambda x: F.round(x + F.lit(1e-9), 6)).alias("centroid"),
    )
    cent = seed.persist()
    cent.count()
    for _ in range(gens):
        new = (
            _bucket_means(_assign_nearest(e, cent), round_to=6)
            .select(F.col("bucket").alias("centroid_id"),
                    F.col("new_centroid").alias("centroid"))
            .persist()
        )
        new.count()
        cent.unpersist()
        cent = new
    return cent


_KMEANS_ITERS = 3


@query("x31_kmeans_train", oracle=_kmeans_train_oracle(_KMEANS_ITERS))
def x31_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration k-means: the x30 Lloyd step driven to ``iters``
    rounds from the per-label seed, reporting final cluster sizes and the
    last iteration's convergence signal (cosine between the two newest
    centroid sets).  This is how a trained coarse quantizer for IVF /
    SemDeDup is actually produced — per-label means are only the seed.

    Iterative-plan-reuse shape: each iteration's centroid set (k·dim
    values) is persisted and MATERIALIZED (count) before the next
    assignment plan is built, then the previous generation is unpersisted
    — so iteration n+1's lineage starts at a k-row cached table, not at a
    re-derivation of every earlier pass, and executor memory holds
    exactly one generation.  Per iteration the cluster pays one
    broadcast-assign scan + one k·dim-cell aggregate; the embedding
    vectors never shuffle.  Centroid coordinates are quantized to 6
    decimals each generation on both engines, so float-reduction-order
    ulps cannot compound into diverging assignments at iteration n+1
    (the assignment itself ranks on round(csim+1e-9, 4), §4.3.1)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    cent = _train_centroids(e, _KMEANS_ITERS - 1)
    assigned = _assign_nearest(e, cent)
    final = _bucket_means(assigned, round_to=6)
    members = assigned.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_members"))
    joined = (
        members.join(final, "bucket")
        .join(F.broadcast(cent), F.col("bucket") == F.col("centroid_id"))
    )
    return with_cosine(joined, "centroid", "new_centroid").select(
        F.col("bucket").alias("centroid_id"),
        "n_members",
        F.round(F.col("sim_raw") + F.lit(1e-9), 4).alias("shift_cos"),
    )


# --- X8g: IVF over TRAINED centroids (the x31 quantizer put to work) --------

_TRAINED_GENS = 2


def _ivf_trained_oracle() -> str:
    """_lloyd_ctes(2) trains the quantizer; then the standard IVF probe
    (index assignment vs the trained c2, nprobe probing, exact re-rank)
    mirrors _ivf_oracle_sql with cent := c2."""
    g = _TRAINED_GENS
    return _lloyd_ctes(g) + f""",
    a_idx AS (
      SELECT vec_id, v, centroid_id AS bucket
      FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM e CROSS JOIN c{g} c)
      WHERE rk = 1),
    probes AS (
      SELECT query_id, centroid_id AS bucket
      FROM (
        SELECT a.vec_id AS query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM a_idx a CROSS JOIN c{g} c
        WHERE a.vec_id < {_X8_N_QUERIES})
      WHERE rk <= {_IVF_NPROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, a.v) + 1e-9, 4) AS sim
      FROM probes p
      JOIN a_idx a USING (bucket)
      JOIN e q ON q.vec_id = p.query_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5"""


@query("x8_ivf_trained_topk", oracle=_ivf_trained_oracle())
def x8_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN over a TRAINED coarse quantizer: two Lloyd generations
    refine the per-label seed (the x31 loop), the corpus is indexed
    against the trained centroids, and queries probe + re-rank exactly as
    x8_ivf_ann_topk does.  This closes the production loop — per-label
    means are only a seed; a deployed IVF index quantizes with trained
    centroids.  Same cost model: train is gens × (broadcast-assign +
    k·dim-cell agg), index is one assignment pass, search is
    n·(n/k)·nprobe.  The whole pipeline — training included — is
    mirrored CTE-for-CTE in the DuckDB oracle."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    cent = _train_centroids(e, _TRAINED_GENS)
    assigned = _assign_nearest(e, cent)
    return _ivf_search(cent, assigned, _IVF_NPROBE)


# --- X35: hard-negative mining (contrastive-training data op) ---------------


@query(
    "x35_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS vq FROM e
          WHERE vec_id < {_X8_N_QUERIES}),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS neg_id, e.label AS neg_label,
             round(list_cosine_similarity(q.vq, e.v) + 1e-9, 4) AS sim
      FROM q JOIN e ON e.label != q.qlabel
    )
    SELECT query_id, neg_id, neg_label, sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neg_id) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def x35_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (the DPR / contrastive-pretraining data op):
    for each query vector, the top-3 most-similar vectors whose LABEL
    differs — maximally confusable negatives, the examples that actually
    move a contrastive loss.  Same plan as exact top-k (broadcast query
    side × corpus, JVM fold, WindowGroupLimit-pushed top-k) with the
    label-mismatch predicate fused into the join condition, so excluded
    positives are dropped before scoring ever happens.  At 100 TB the
    mining set is the bounded query batch; the corpus streams."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _X8_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("va"),
    )
    n = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("vb"),
    )
    cand = F.broadcast(q).join(n, F.col("neg_label") != F.col("qlabel"))
    scored = with_cosine(cand).withColumn("sim", F.round(F.col("sim_raw") + 1e-9, 4))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neg_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neg_id", "neg_label", "sim")
    )


# --- X39: prototypicality-based data pruning ---------------------------------

_PROTO_KEEP_FRAC = 0.8


def _proto_oracle() -> str:
    """c0 (the per-label quantized centroids, _lloyd_ctes' seed) scores
    every vector against its OWN label centroid; rank-per-label keeps the
    top 80%."""
    return _lloyd_ctes(0) + f"""
    , scored AS (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(e.v, c.centroid) + 1e-9, 4) AS proto_sim
      FROM e JOIN c0 c ON c.centroid_id = e.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY proto_sim DESC, vec_id) AS rk,
             count(*) OVER (PARTITION BY label) AS n
      FROM scored
    )
    SELECT vec_id, label, proto_sim, rk,
           (rk <= ceil({_PROTO_KEEP_FRAC} * n)) AS keep
    FROM ranked"""


@query("x39_prototypicality_prune", oracle=_proto_oracle())
def x39_prototypicality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality-based data pruning (the SSL-prototypes metric of
    Sorscher et al. 2022, "Beyond neural scaling laws"): score every
    vector by cosine to its own class centroid and keep the top 80% per
    label — outliers (mislabeled / far-from-mode examples) rank last and
    are pruned first.  Emits the score and per-label rank so a curator can
    sweep the keep fraction without rescoring.

    Shape at 100 TB: centroids are one k·dim aggregate (vectors never
    shuffle — same map-side collapse as _assign_nearest), scoring is a
    broadcast join against k rows, and the per-label rank window shuffles
    only (vec_id, label, sim) scalars — ~20 bytes/row, embeddings pruned
    before the exchange.  Centroid coordinates quantize to 6 decimals on
    both engines (the x31 convention) so the scores are cross-engine
    stable."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    cent = _label_centroids(e).select(
        "centroid_id",
        F.transform("centroid", lambda x: F.round(x + F.lit(1e-9), 6)).alias("centroid"),
    )
    scored = (
        with_cosine(
            e.join(F.broadcast(cent), F.col("label") == F.col("centroid_id")),
            "embedding", "centroid",
        )
        .select(
            "vec_id", "label",
            F.round(F.col("sim_raw") + F.lit(1e-9), 4).alias("proto_sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("proto_sim").desc(), "vec_id")
    wn = Window.partitionBy("label")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .select(
            "vec_id", "label", "proto_sim", "rk",
            (F.col("rk") <= F.ceil(F.lit(_PROTO_KEEP_FRAC) * F.col("n"))).alias("keep"),
        )
    )


# --- X38: PQ asymmetric-distance (ADC) top-k search --------------------------

_ADC_TOP_K = 5
_ADC_N_QUERIES = _X8_N_QUERIES  # the ADC legs share the X8 fixture query set


def _pq_adc_oracle() -> str:
    """Mirror of the ADC search: per corpus vector, the x18 per-subspace
    argmin code (same first-min convention); per (query, corpus) pair the
    approximate distance is the sum over subspaces of the SQUARED L2
    distance from the query subvector to the corpus vector's chosen
    centroid literal."""
    cents = _pq_centroids()
    code_exprs = []
    adc_terms = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_D + 1, (j + 1) * _PQ_D
        dlist = ", ".join(f"list_distance(v[{lo}:{hi}], {c})" for c in cents[j])
        code_exprs.append(
            f"list_position([{dlist}], list_min([{dlist}])) AS code{j}"
        )
        adc_terms.append(
            f"pow(list_distance(q.vq[{lo}:{hi}], ({cents[j]})[c.code{j}]), 2)"
        )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < {_ADC_N_QUERIES}),
    codes AS (SELECT vec_id, {", ".join(code_exprs)} FROM e),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({" + ".join(adc_terms)} + 1e-9, 4) AS adc_d2
      FROM q JOIN codes c ON c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, adc_d2
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_ADC_TOP_K}"""


@query("x38_pq_adc_topk", oracle=_pq_adc_oracle())
def x38_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (Jégou et al. 2011, the IVF-PQ/FAISS
    ADC mechanism): the corpus is represented ONLY by its x18 product-
    quantization codes; each query precomputes an m×k lookup table of
    squared subspace distances to every codeword, and a candidate's
    approximate distance is m table lookups summed — no decompression,
    no full-dimension arithmetic per pair.

    Shape at 100 TB: the LUT batch is (nq × m × k) doubles built from the
    bounded query set (10 rows collected driver-side — the query batch,
    not the corpus) and closed over; the corpus streams through one
    mapInPandas pass that encodes + gathers + batch-local-top-ks, so the
    exchange carries at most nq·k rows per batch — never n·nq candidates.
    Global winner = rank over the per-batch survivors.  Ranking is on the
    ROUNDED distance + id tie-break on both engines (SURVEY §4.3.1); the
    codes reuse x18's first-min argmin convention."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cents = np.asarray(_pq_centroids())  # (m, k, d)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = sorted(
        e.filter(F.col("vec_id") < _ADC_N_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )
    q_ids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    # LUT[qi, j, c] = ||q_sub_j - cents[j, c]||²
    lut = np.stack(
        [
            ((q_mat[:, j * _PQ_D : (j + 1) * _PQ_D][:, None, :]
              - cents[j][None, :, :]) ** 2).sum(axis=2)
            for j in range(_PQ_M)
        ],
        axis=1,
    )

    def block(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            adc = np.zeros((len(q_ids), len(ids)))
            for j in range(_PQ_M):
                sub = a[:, j * _PQ_D : (j + 1) * _PQ_D]
                d2 = ((sub[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                adc += lut[:, j, d2.argmin(axis=1)]
            adc = np.round(adc + 1e-9, 4)
            out = []
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                row, cand = adc[qi][mask], ids[mask]
                order = np.lexsort((cand, row))[:_ADC_TOP_K]
                out.append(pd.DataFrame({
                    "query_id": qid, "neighbor_id": cand[order],
                    "adc_d2": row[order],
                }))
            yield pd.concat(out, ignore_index=True)

    cand = e.mapInPandas(
        block, schema="query_id bigint, neighbor_id bigint, adc_d2 double"
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ADC_TOP_K)
        .select("query_id", "neighbor_id", "adc_d2")
    )


# --- X90: composed IVF→ADC search (the FAISS IVFADC production shape) -------


def _ivfadc_oracle() -> str:
    """Mirror of the COMPOSED chain: _lloyd_ctes trains the coarse
    quantizer (c{g}), a_idx assigns the corpus against it, probes
    routes each query to its nprobe cells (both stages verbatim from
    _ivf_trained_oracle), then the x38 ADC arithmetic — per-subspace
    list_position codes, pow(list_distance)² terms summed — runs ONLY
    over the probed cells (JOIN codes USING bucket), never the full
    code table."""
    g = _TRAINED_GENS
    cents = _pq_centroids()
    code_exprs = []
    adc_terms = []
    for j in range(_PQ_M):
        lo, hi = j * _PQ_D + 1, (j + 1) * _PQ_D
        dlist = ", ".join(f"list_distance(v[{lo}:{hi}], {c})" for c in cents[j])
        code_exprs.append(
            f"list_position([{dlist}], list_min([{dlist}])) AS code{j}"
        )
        adc_terms.append(
            f"pow(list_distance(q.vq[{lo}:{hi}], ({cents[j]})[c.code{j}]), 2)"
        )
    return _lloyd_ctes(g) + f""",
    a_idx AS (
      SELECT vec_id, v, centroid_id AS bucket
      FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM e CROSS JOIN c{g} c)
      WHERE rk = 1),
    probes AS (
      SELECT query_id, centroid_id AS bucket
      FROM (
        SELECT a.vec_id AS query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.v, c.centroid) + 1e-9, 4) DESC,
                          c.centroid_id) AS rk
        FROM a_idx a CROSS JOIN c{g} c
        WHERE a.vec_id < {_ADC_N_QUERIES})
      WHERE rk <= {_IVF_NPROBE}),
    codes AS (SELECT vec_id, bucket, {", ".join(code_exprs)} FROM a_idx),
    q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < {_ADC_N_QUERIES}),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round({" + ".join(adc_terms)} + 1e-9, 4) AS adc_d2
      FROM probes p
      JOIN codes c USING (bucket)
      JOIN q ON q.query_id = p.query_id
      WHERE c.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, adc_d2
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= {_ADC_TOP_K}"""


@query("x90_ivfadc_topk", oracle=_ivfadc_oracle())
def x90_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF→ADC search — the FAISS IVFADC production shape
    (Jégou et al. 2011 §IV): x31's trained coarse quantizer routes each
    query to its ``_IVF_NPROBE`` probe cells, and x38's
    asymmetric-distance LUT scan runs ONLY within those cells.  This
    closes the PQ loop the way x89 closed the walk loop: x38 alone
    ADC-scans the full code table and x8_ivf_trained_topk re-ranks with
    exact cosine; the composition is the index an ANN service actually
    deploys — coarse cells bound the scan set, codes bound the
    per-candidate arithmetic.  (Codes encode RAW vectors, FAISS's
    ``by_residual=false`` flavor, so the code table is query-independent
    exactly as in x18/x38.)  Reference analog: the scored-entity corpus
    analytics shape, big_data_project/trainer/flax_model.py.

    Shape at 100 TB: training is gens × (broadcast-assign + k·dim-cell
    agg) — x31's loop, vectors never shuffle; the ONE mapInPandas pass
    encodes the corpus to (vec_id, bucket, m-byte code) — after it the
    payload is 4 small ints per vector, the 340× compression that makes
    the candidate stream cheap; routing is a 10-row query frame
    crossJoined with broadcast centroids; the cell restriction is a
    BroadcastHashJoin of the nq·nprobe probe rows into the code stream
    (codes never shuffle, non-probed cells are filtered at the join);
    scoring is pure JVM — the per-query LUT (nq × m·k doubles, built
    driver-side from the bounded query batch like x38's closure)
    arrives as a broadcast 10-row frame and each candidate pays m
    array-gets + m-1 adds inside whole-stage codegen, no second Python
    pass, no decompression.  The only exchange after encode is the
    final per-query top-k rank (WindowGroupLimit map-side pushdown).

    Parity: LUT doubles are driver-side numpy float64 embedded exactly;
    both engines rank on round(adc + 1e-9, 4) with the neighbor-id
    tie-break; codes reuse x18's first-min argmin convention; the
    training + routing CTEs mirror _ivf_trained_oracle verbatim.
    Rounding-mode note (ADVICE r13): this leg rounds adc_d2 JVM-side
    with F.round (HALF_UP), while x38's Spark leg rounds in numpy
    (half-even).  Each leg matches ITS oracle exactly (both oracles use
    DuckDB round, and the +1e-9 nudge keeps values off the 4-decimal
    midpoints where the two modes differ); the cross-operator
    full-vs-cell consistency test (tests/test_pipeline.py) compares the
    two conventions directly, so a value landing exactly on a midpoint
    despite the nudge would surface there, not as a driver red."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    cent = _train_centroids(e, _TRAINED_GENS)
    assigned = _assign_nearest(e, cent)
    probes = _probe_cells(assigned, cent, _IVF_NPROBE).select("query_id", "bucket")

    cents = np.asarray(_pq_centroids())  # (m, k, d)

    def encode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            a = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            cols = []
            for j in range(_PQ_M):
                sub = a[:, j * _PQ_D : (j + 1) * _PQ_D]
                d2 = ((sub[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
                cols.append(d2.argmin(axis=1))
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "bucket": pdf["bucket"].to_numpy(dtype=np.int64),
                "code": [r.tolist() for r in np.stack(cols, axis=1)],
            })

    codes = assigned.mapInPandas(
        encode, schema="vec_id bigint, bucket bigint, code array<int>"
    )

    # per-query LUT from the bounded query batch (x38's closure, as a frame)
    qrows = sorted(
        e.filter(F.col("vec_id") < _ADC_N_QUERIES)
        .select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    lut_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        flat = []
        for j in range(_PQ_M):
            sub = qv[j * _PQ_D : (j + 1) * _PQ_D]
            flat.extend(((sub[None, :] - cents[j]) ** 2).sum(axis=1).tolist())
        lut_rows.append((int(r["vec_id"]), flat))
    lut_df = spark.createDataFrame(lut_rows, schema="query_id bigint, lut array<double>")

    cand = (
        codes.join(F.broadcast(probes.join(F.broadcast(lut_df), "query_id")), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    adc = None
    for j in range(_PQ_M):
        term = F.get("lut", F.lit(j * _PQ_K) + F.get("code", F.lit(j)))
        adc = term if adc is None else adc + term
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc + F.lit(1e-9), 4).alias("adc_d2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ADC_TOP_K)
        .select("query_id", "neighbor_id", "adc_d2")
    )


# --- X40: production k-means|| trainer (ml.clustering.KMeans) ----------------

_KMEANS_ML_K = 10
_KMEANS_ML_SEED = 7


@query("x40_kmeans_parallel", oracle=None)
def x40_kmeans_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-path quantizer trainer (VERDICT r04 #8): Spark ML's
    KMeans with k-means|| initialization (Bahmani et al. 2012) — the
    scalable seeding a real 100 TB deployment uses instead of x31's
    per-label seed.  x31's CTE-unrolled Lloyd trainer remains the
    oracle-verified path; this one is rows-only by necessity (k-means||'s
    seeded RNG sampling has no DuckDB mirror) with invariants in
    tests/test_pipeline.py: k clusters, full coverage, cost no worse than
    the k=1 baseline, and cost-vs-label-seed reported for inspection.

    Output: one row per cluster (cluster_id, n_members) plus the rounded
    training cost replicated per row — the shape a downstream IVF indexer
    consumes.  Scale shape: ML KMeans aggregates per-partition partial
    sums treeAggregate-style (centroids broadcast each iteration, vectors
    never shuffle) — the same cost model as _train_centroids, with
    library-grade init."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(
        k=_KMEANS_ML_K, seed=_KMEANS_ML_SEED, initMode="k-means||", maxIter=10
    ).fit(e)
    cost = float(model.summary.trainingCost)
    pred = model.transform(e)
    return (
        pred.groupBy(F.col("prediction").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn("training_cost", F.round(F.lit(cost) + F.lit(1e-9), 4))
        .orderBy("cluster_id")
    )


# --- X48: embedding-score gate (CLIP-filter shape) --------------------------
#
# LAION-style curation: every (text, image) pair gets an alignment score
# from a frozen model and the corpus keeps rows above a threshold.  The
# model here is a fixed projection direction (literal weights, shared
# verbatim with the oracle); swapping in real CLIP weights changes only
# the literal.

_CLIP_DIR = [((k * 37) % 19 - 9) / 10.0 for k in range(64)]
_CLIP_THRESH = 0.5


def _clip_oracle() -> str:
    vec = "[" + ", ".join(str(x) for x in _CLIP_DIR) + "]"
    return f"""
    WITH scored AS (
      SELECT vec_id, label,
             round(list_dot_product(CAST(embedding AS DOUBLE[]), {vec})
                   + 1e-9, 4) AS score
      FROM embeddings
    )
    SELECT vec_id, label, score
    FROM scored
    WHERE score >= {_CLIP_THRESH}
    ORDER BY vec_id
    """


@query("x48_clip_score_filter", oracle=_clip_oracle())
def x48_clip_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-threshold curation gate over embeddings: dot product against
    a broadcast scoring direction, keep rows with rounded score >= 0.5
    (_CLIP_THRESH).  The hot path is a JVM-side zip_with/aggregate fold — no
    Python boundary, no shuffle (the gate is a scan filter); at 100 TB
    this is a pure narrow map whose selectivity feeds the downstream
    pipeline, exactly like the quality gates in the curation funnel."""
    e = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in _CLIP_DIR])
    dot = _array_dot(F.col("embedding").cast("array<double>"), w)
    score = F.round(dot + F.lit(1e-9), 4)
    return (
        e.select("vec_id", "label", score.alias("score"))
        .filter(F.col("score") >= _CLIP_THRESH)
        .orderBy("vec_id")
    )


# --- X59: embedding Gram matrix (the single-pass PCA/whitening input) -------


@query(
    "x59_embedding_gram",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT count(*) AS n FROM e),
    flat AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e)
    -- "+ 0.0" normalizes -0.0 -> +0.0: DuckDB's round keeps the float sign
    -- bit, Spark's BigDecimal round never emits -0.0, and the driver hash
    -- tells the two zeros apart (the r06 red row).
    SELECT a.i AS i, b.i AS j,
           round(sum(a.x * b.x) / (SELECT n FROM n) + 1e-9, 4) + 0.0 AS g
    FROM flat a JOIN flat b USING (vec_id)
    WHERE a.i <= b.i
    GROUP BY a.i, b.i
    """,
)
def x59_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncentered Gram (second-moment) matrix G = Σ v·vᵀ / n over the
    embedding table, upper triangle as (i, j, g) cells — the one-pass
    distributed input to PCA / whitening / covariance-based pruning (the
    eigendecomposition of a d×d matrix is a driver-side numpy call on
    these d(d+1)/2 scalars; the DATA pass is what has to scale).

    Scale design: ONE Arrow pass — each partition's batches accumulate a
    d×d numpy Gram (MᵀM matmul per batch, the same vectorized-kernel
    rationale as the x8 block kernels: a per-pair fold over d(d+1)/2
    products per row is interpreted ~17× slower, measured 9.2 s vs
    0.55 s at sf0.1), emitting d(d+1)/2 upper-triangle cells PER
    PARTITION.  The only exchange then carries ~2080·partitions doubles
    for d=64 regardless of corpus size — no self-join (the DuckDB
    oracle's flat⨝flat formulation would shuffle n·d rows twice).
    Mean-scaling (÷n) keeps cell magnitudes O(1) so the round(4) parity
    contract holds at any n."""
    return _mean_gram(load_table(spark, sf_dir, "embeddings").select("embedding"))


def _mean_gram(e: DataFrame) -> DataFrame:
    """(i, j, g) upper-triangle cells of Σ v·vᵀ / n over `e.embedding`
    — the x59 Arrow kernel over an arbitrary embedding frame (also the
    body of the `replicated_gram` scale demonstrator)."""
    n = e.agg(F.count(F.lit(1)).alias("n"))

    def _partition_gram(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return  # empty partition contributes nothing
        iu = np.triu_indices(acc.shape[0])
        # int64 (long) i/j keys, matching the oracle's generate_subscripts
        # BIGINT (cosmetic width parity; the r06 red row's actual cause was
        # signed zero in the oracle — see the `+ 0.0` note above).
        yield pd.DataFrame(
            {"i": iu[0].astype("int64"), "j": iu[1].astype("int64"), "s": acc[iu]}
        )

    cells = e.mapInPandas(_partition_gram, "i long, j long, s double")
    return (
        cells.groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(F.col("s") / F.col("n") + F.lit(1e-9), 4).alias("g"),
        )
    )


# --- X61: PCA projection via power iteration on the Gram matrix -------------

_PCA_ITERS = 4  # fixed: determinism (not convergence) is the contract


def _power_chain_sql(mat: str, vec: str, iters: int) -> str:
    """Unrolled power-iteration CTE fragments over matrix CTE ``mat``
    starting from the constant-vector CTE ``{vec}0``: each step a matvec
    (join + group-sum) then a window normalization.  Every step rounds
    to 4 decimals (+1e-9 nudge) so both engines iterate on identical
    state.  The norm is clamped with greatest(.., 0.0001) — mirrored by
    F.greatest on the Spark side — so a pathological all-zero step
    divides by the clamp on BOTH engines instead of NULL (Spark's
    Divide) vs ±inf/nan (DuckDB ieee_floating_point_ops); ADVICE r07."""
    steps = []
    prev = f"{vec}0"
    for k in range(1, iters + 1):
        steps.append(
            f"""{vec}y{k} AS (
      SELECT m.i AS i, round(sum(m.g * v.x) + 1e-9, 4) + 0.0 AS y
      FROM {mat} m JOIN {prev} v ON m.j = v.i GROUP BY m.i),
    {vec}{k} AS (
      SELECT i, round(y / greatest(round(sqrt(sum(y * y) OVER ()) + 1e-9, 4), 0.0001) + 1e-9, 4) + 0.0 AS x
      FROM {vec}y{k})"""
        )
        prev = f"{vec}{k}"
    return ",\n    ".join(steps)


# Shared oracle preamble: embeddings → flat (vec_id, i, x) → mean-scaled
# upper-triangle Gram → symmetrized gsym.  The "+ 0.0" normalizes -0.0.
_GRAM_PREAMBLE_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT count(*) AS n FROM e),
    flat AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e),
    gram AS (
      SELECT a.i AS i, b.i AS j,
             round(sum(a.x * b.x) / (SELECT n FROM n) + 1e-9, 4) + 0.0 AS g
      FROM flat a JOIN flat b USING (vec_id)
      WHERE a.i <= b.i
      GROUP BY a.i, b.i),
    gsym AS (
      SELECT i, j, g FROM gram
      UNION ALL
      SELECT j AS i, i AS j, g FROM gram WHERE i != j)"""


def _pca_oracle_sql(iters: int) -> str:
    """x61 oracle: power-iteration CTE chain on gsym, then projection =
    one more join-sum."""
    chain = _power_chain_sql("gsym", "v", iters)
    return f"""
    {_GRAM_PREAMBLE_SQL},
    v0 AS (SELECT DISTINCT i, CAST(0.125 AS DOUBLE) AS x FROM gsym),
    {chain}
    SELECT f.vec_id, round(sum(f.x * v.x) + 1e-9, 4) + 0.0 AS proj
    FROM flat f JOIN v{iters} v USING (i)
    GROUP BY f.vec_id
    """


@query("x61_pca_project", oracle=_pca_oracle_sql(_PCA_ITERS))
def x61_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the LEADING principal direction of
    the (uncentered) Gram matrix — the fit→transform consumer that
    closes the x59 loop (the seed→train→index→search closure the
    x31→x8_ivf_trained pair set).  The direction comes from a fixed
    {_PCA_ITERS}-step power iteration STARTED FROM A CONSTANT vector, so
    there is no eigensolver sign/degeneracy ambiguity: both engines run
    the identical rounded recurrence and the result is deterministic
    whether or not it has converged.

    Scale design: the corpus is touched exactly twice — once by x59's
    per-partition Arrow Gram kernel (ONE d(d+1)/2-cell exchange), once
    by the final projection map (1-row direction broadcast + zip_with
    fold, no shuffle).  The symmetric Gram is folded into ONE dense row
    (_dense_gsym, localCheckpoint-ed — the x43 lineage-cut cadence) and
    the whole d-bounded iteration runs as array expressions on that
    single row: zero joins, zero exchanges, one task (r18 — the d²-ROW
    formulation paid a broadcast build + two d-row exchanges per step,
    ~30 AQE stage-jobs of pure overhead; see _dense_gsym).  At 100 TB
    the data pass is the two corpus scans; the iteration cost is
    d-bounded and corpus-independent in both forms."""
    g1 = _dense_gsym(spark, sf_dir)
    direction = _power_direction(g1).select(F.col("x").alias("pc"))
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return e.crossJoin(F.broadcast(direction)).select(
        "vec_id", F.round(_array_dot("v", "pc") + F.lit(1e-9), 4).alias("proj")
    )


def _dense_gsym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized mean-scaled Gram matrix as ONE dense row — columns
    ``d`` (dimension) and ``G`` (row-major ``array<array<double>>``) —
    localCheckpoint-ed ONCE so the downstream iteration references an
    in-memory 1-row leaf.

    r18 (guide §5): everything between the two corpus scans of x61/x62
    is d-bounded, so representing it as a d²-ROW distributed frame paid
    per-step broadcast builds, d-row shuffles and window exchanges —
    measured 36 AQE stage-jobs of almost-nothing for x62 (wall 2.93 s,
    sum(executorRunTime) 0.57 s).  The dense 1-row form runs the whole
    iteration as array expressions in a single task — zero joins, zero
    exchanges — and is bit-identical: the Arrow kernel always emits the
    COMPLETE upper triangle (np.triu_indices), so after mirroring all d²
    cells exist and ``array_sort`` over the unique (i, j) keys is exactly
    the row-major layout.

    Checkpoint-lifetime note: spark.catalog.clearCache() does NOT free
    localCheckpoint RDD blocks, so repeated raw invocations in one long
    session accumulate them.  The footprint is d² doubles (~33 KB at
    d=64) per call — bounded and tiny — and `session.release` frees
    them (README.md, "Session resources")."""
    gram = x59_embedding_gram(spark, sf_dir)
    # Mirror the upper triangle with an explode over one pass, NOT
    # gram.unionByName(gram.filter(...)): a self-union re-plans the whole
    # Arrow Gram kernel (and its corpus scan) as two independent subtrees,
    # and the checkpoint materialization ran BOTH — the corpus was scanned
    # twice just to build gsym (the r08 self-union finding, see
    # graph.py:_copurchase_weighted_edges).
    cell = F.struct("i", "j", "g")
    mirror = F.struct(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("g").alias("g")
    )
    both = F.when(F.col("i") == F.col("j"), F.array(cell)).otherwise(
        F.array(cell, mirror)
    )
    cells = gram.select(F.explode(both).alias("c")).select("c.i", "c.j", "c.g")
    return _dense_from_cells(cells).localCheckpoint(eager=False)


def _dense_from_cells(cells: DataFrame) -> DataFrame:
    """Fold a COMPLETE d²-cell (i, j, g) frame (every pair present
    exactly once, i/j = 0..d−1) into the dense 1-row (d, G) form:
    ``array_sort`` over the unique (i, j) struct keys is exactly the
    row-major layout.  d comes from the LAST sorted cell (i = d−1) —
    exact integer arithmetic, derived in-plan, no driver-side collect.
    Expressions as single SQL strings (the x7 minhash precedent): the
    Column/lambda form cost hundreds of py4j round-trips per build."""
    return (
        cells.agg(F.array_sort(F.collect_list(F.struct("i", "j", "g"))).alias("c"))
        .selectExpr("CAST(element_at(c, size(c)).i + 1 AS INT) AS d", "c")
        .selectExpr(
            "d",
            "transform(sequence(0, d - 1), i -> transform(sequence(0, d - 1), "
            "j -> element_at(c, CAST(i * d + j + 1 AS INT)).g)) AS G",
        )
    )


def _power_direction(g1: DataFrame, out: str = "x") -> DataFrame:
    """Fixed {_PCA_ITERS}-step rounded power iteration on a dense 1-row
    (d, G) frame, started from the constant 0.125 vector: returns the
    input frame with the direction appended as array column ``out``
    (other columns pass through untouched).  Each step is three array
    expressions — matvec fold, norm fold, normalize map — on the single
    row, built as SQL strings (one py4j parse each; the Column/lambda
    form cost ~0.7 s/build in py4j round-trips — the x7 precedent).
    The ONE per-step ``localCheckpoint(eager=False)`` is a pure PLAN
    barrier: it truncates the expression tree to a leaf (otherwise
    Catalyst's project-collapse inlines each step's expressions into the
    next step's lambdas, which re-evaluate per array element — an
    exponential blow-up in steps; the single un-barriered select between
    barriers only duplicates O(d) leaf reads) while adding NO job,
    because a lazy checkpoint materializes inside the terminal action.  The norm
    denominator is clamped at 1e-4 (mirroring the oracle's
    greatest(.., 0.0001)) so an all-zero step degrades identically on
    both engines instead of Spark NULL vs DuckDB ±inf — ADVICE r07.
    Every per-element formula (round(Σ + 1e-9, 4) matvec, rounded norm,
    rounded normalize) is verbatim the d²-row form's; the fold order is
    index-ascending, absorbed by the 4-decimal quantization contract
    exactly as the engine-vs-oracle order difference already is."""
    keep = list(g1.columns)
    df = g1.selectExpr(
        *keep, f"transform(sequence(0, d - 1), i -> 0.125D) AS {out}"
    )
    for _ in range(_PCA_ITERS):
        df = df.selectExpr(
            *keep,
            f"transform(G, row -> round(aggregate(zip_with(row, {out}, "
            "(g, v) -> g * v), 0.0D, (acc, t) -> acc + t) + 1e-9, 4)) AS _y",
        )
        df = df.selectExpr(
            *keep,
            "_y",
            "greatest(round(sqrt(aggregate(transform(_y, t -> t * t), "
            "0.0D, (acc, t) -> acc + t)) + 1e-9, 4), 1e-4) AS _n",
        ).localCheckpoint(eager=False)
        df = df.selectExpr(
            *keep, f"transform(_y, t -> round(t / _n + 1e-9, 4)) AS {out}"
        )
    return df.localCheckpoint(eager=False)


def _array_dot(a, b):
    """zip_with/aggregate fold: dot product of two array<double> columns
    (column name or Column expression — zip_with resolves both).  The
    single home of the fold convention for pre-cast double arrays; `_dot`
    above is the sibling for arrays that still need an element cast."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


# --- X62: top-2 PCA via deflation (whitening / dim-reduction stage) ---------


def _pca2_oracle_sql(iters: int) -> str:
    """x62 oracle: leading-direction chain on gsym, Rayleigh eigenvalue,
    rank-1 deflation G' = G − λ·v·vᵀ (one more pair of d-row joins over
    the d²-cell frame), second chain on gsym2, then a two-direction
    projection join-sum."""
    chain1 = _power_chain_sql("gsym", "v", iters)
    chain2 = _power_chain_sql("gsym2", "u", iters)
    return f"""
    {_GRAM_PREAMBLE_SQL},
    v0 AS (SELECT DISTINCT i, CAST(0.125 AS DOUBLE) AS x FROM gsym),
    {chain1},
    lam AS (
      SELECT round(sum(m.g * a.x * b.x) + 1e-9, 4) AS l
      FROM gsym m JOIN v{iters} a ON m.i = a.i JOIN v{iters} b ON m.j = b.i),
    gsym2 AS (
      SELECT m.i AS i, m.j AS j,
             round(m.g - (SELECT l FROM lam) * a.x * b.x + 1e-9, 4) AS g
      FROM gsym m JOIN v{iters} a ON m.i = a.i JOIN v{iters} b ON m.j = b.i),
    u0 AS (SELECT DISTINCT i, CAST(0.125 AS DOUBLE) AS x FROM gsym2),
    {chain2}
    SELECT f.vec_id,
           round(sum(f.x * v.x) + 1e-9, 4) + 0.0 AS proj1,
           round(sum(f.x * u.x) + 1e-9, 4) + 0.0 AS proj2
    FROM flat f JOIN v{iters} v ON f.i = v.i JOIN u{iters} u ON f.i = u.i
    GROUP BY f.vec_id
    """


@query("x62_pca_top2", oracle=_pca2_oracle_sql(_PCA_ITERS))
def x62_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the TOP-2 principal directions of
    the uncentered Gram matrix — x61's fit→transform loop closed to a
    genuine dimensionality-reduction/whitening stage via rank-1
    DEFLATION: after the leading direction v converges (fixed rounded
    {_PCA_ITERS}-step recurrence, constant start — no eigensolver
    sign/degeneracy ambiguity), the Rayleigh quotient λ = vᵀGv is
    subtracted as G' = G − λ·v·vᵀ with one broadcast map over the
    d²-cell frame, and the SAME iteration runs on G' for the second
    direction.  Reference analog: the feature standardize/decorrelate
    step at trainer/flax_model.py:243, 340-341.

    Scale design: the corpus is still touched exactly TWICE — x59's
    per-partition Arrow Gram kernel (ONE d(d+1)/2-cell exchange) and the
    final two-dot projection map (1-row broadcast of both directions,
    no shuffle).  Everything between is d-bounded and runs as array
    expressions on the dense 1-row frame (r18 — see _dense_gsym): chain
    1, the Rayleigh λ (flat row-major fold over the d² cells), the
    deflation map, and chain 2 are all plan-barriered single-row
    selects — zero joins, zero exchanges, the lazy checkpoints
    materialize inside the terminal action (freed between bench rows —
    see _dense_gsym's lifetime note).  At 100 TB the added cost over
    x61 is a few single-row array maps — invariant to corpus size."""
    g1 = _dense_gsym(spark, sf_dir)
    r1 = _power_direction(g1)
    # Rayleigh quotient λ = Σ_ij g_ij·v_i·v_j as ONE flat row-major fold
    # (the d²-row form summed the same terms in partition order; the
    # 4-decimal quantization absorbs order exactly as engine-vs-oracle
    # already does).  Barrier before the deflation map so λ is a leaf
    # read, not an expression re-evaluated per d² cells.
    r1 = r1.selectExpr(
        "d",
        "G",
        "x",
        "round(aggregate(flatten(transform(G, (row, i) -> transform(row, "
        "(g, j) -> g * element_at(x, i + 1) * element_at(x, j + 1)))), "
        "0.0D, (acc, t) -> acc + t) + 1e-9, 4) AS _lam",
    ).localCheckpoint(eager=False)
    g2 = r1.selectExpr(
        "d",
        "transform(G, (row, i) -> transform(row, (g, j) -> round(g - _lam * "
        "element_at(x, i + 1) * element_at(x, j + 1) + 1e-9, 4))) AS G",
        "x AS _pc1",
    ).localCheckpoint(eager=False)
    r2 = _power_direction(g2)  # _pc1 passes through untouched
    directions = r2.select(
        F.col("_pc1").alias("pc1"), F.col("x").alias("pc2")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return e.crossJoin(F.broadcast(directions)).select(
        "vec_id",
        F.round(_array_dot("v", "pc1") + F.lit(1e-9), 4).alias("proj1"),
        F.round(_array_dot("v", "pc2") + F.lit(1e-9), 4).alias("proj2"),
    )


# --- X60: Matryoshka prefix-dim retrieval (truncation recall eval) ----------

_MRL_PREFIX = 16   # retrieval dims (of 64): the 4× cheaper index
_MRL_TOPK = 10


@query(
    "x60_matryoshka_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < {_X8_N_QUERIES}),
    full_rank AS (
      SELECT query_id, vec_id AS neighbor_id
      FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.vq, e.v) + 1e-9, 4) DESC,
                          e.vec_id) AS rk
        FROM q JOIN e ON e.vec_id != q.query_id)
      WHERE rk <= {_MRL_TOPK}
    ),
    trunc_rank AS (
      SELECT query_id, vec_id AS neighbor_id
      FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(
                            q.vq[1:{_MRL_PREFIX}], e.v[1:{_MRL_PREFIX}]) + 1e-9, 4) DESC,
                          e.vec_id) AS rk
        FROM q JOIN e ON e.vec_id != q.query_id)
      WHERE rk <= {_MRL_TOPK}
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS INT) AS n_overlap,
           round(count(t.neighbor_id) / {_MRL_TOPK}.0 + 1e-9, 4) AS recall
    FROM full_rank f
    LEFT JOIN trunc_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def x60_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval (Kusupati et al. 2022): rank the
    corpus by cosine over only the FIRST {prefix} dims (the cheap
    prefix index an MRL-trained embedding ships), and report recall@10
    against the full-dim exact ranking per query — the measurement that
    decides how many dims the production index actually needs.

    Scale design: both rankings are the x8 broadcast-crossJoin shape
    (bounded query batch streams past the corpus; WindowGroupLimit
    prunes to top-k map-side); the prefix leg folds only {prefix} of 64
    dims — on a real column-pruned layout (FixedSizeList slices) that is
    a 4× I/O and FLOP cut.  The overlap join is top-k×top-k per query:
    scalars only."""

    def _topk(prefix_dims: int | None) -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings")
        vec = F.col("embedding").cast("array<double>")
        v = F.slice(vec, 1, prefix_dims) if prefix_dims else vec
        base = e.select("vec_id", v.alias("v"))
        q = base.filter(F.col("vec_id") < _X8_N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("va")
        )
        c = base.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"))
        scored = (
            with_cosine(F.broadcast(q).crossJoin(c))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("sim", F.round(F.col("sim_raw") + 1e-9, 4))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _MRL_TOPK)
            .select("query_id", "neighbor_id")
        )

    full_rank = _topk(None)
    trunc = _topk(_MRL_PREFIX).withColumnRenamed("neighbor_id", "t_neighbor")
    # the overlap join is |Q|·k × |Q|·k — bounded by the query batch at
    # any corpus size, so force the broadcast (window outputs carry no
    # size stats and would otherwise plan a sort-merge join)
    return (
        full_rank.join(
            F.broadcast(trunc),
            (full_rank.query_id == trunc.query_id)
            & (F.col("neighbor_id") == F.col("t_neighbor")),
            "left",
        )
        .drop(trunc.query_id)
        .groupBy("query_id")
        .agg(
            F.count("t_neighbor").cast("int").alias("n_overlap"),
            F.round(
                F.count("t_neighbor") / F.lit(float(_MRL_TOPK)) + F.lit(1e-9), 4
            ).alias("recall"),
        )
    )


# --- Scale demonstrator: top-k search under corpus replication ---------------


def replicated_topk(spark: SparkSession, sf_dir: str, factor: int = 4) -> DataFrame:
    """Exact cosine top-5 for the 10 base query vectors over the corpus
    replicated ``factor``× with DISTINCT vec_ids — the similarity
    family's throughput-scaling bench row, completing the trend-line
    trio (x7_minhash_x4 for dedup, x50_bm25_x4 for retrieval).  The
    claim it evidences: the broadcast-query + corpus-stream shape is
    LINEAR in corpus size (queries are a bounded batch; each corpus row
    is scored once and WindowGroupLimit prunes map-side), so 4× data
    should cost ~4× scan work minus amortized fixed costs — never the
    ~16× a corpus×corpus formulation would pay.

    Replication is verbatim under remapped ids (vec_id*factor + r); all
    replicas of the QUERY vector itself are excluded (they would score
    1.0 and displace the real neighbors), so the result is exactly the
    base top-k with each neighbor expanded into its replicas — the
    multiset of sims is [s1×factor, s2, ...] truncated to k, asserted
    in tests.  Not registry-registered: the 1× pipeline is the
    oracle-verified x8_similarity_topk; this row exists for bench.py."""
    e = load_table(spark, sf_dir, "embeddings")
    reps = spark.range(factor).select(F.col("id").alias("r"))
    # spread the replicated corpus before the fold (the x8_similarity_topk
    # argument): the single-file scan arrives as ONE partition and the ×4
    # explosion inherits it, serializing the whole scoring fold on one
    # core; the guarded _spread moves each corpus row once, before the
    # 10× query fan-out multiplies it, and is a no-op on an
    # already-parallel scan.
    corpus = _spread(
        e.crossJoin(F.broadcast(reps)).select(
            (F.col("vec_id") * factor + F.col("r")).alias("neighbor_id"),
            F.col("embedding").alias("vb"),
        ),
        "neighbor_id",
    )
    q = e.filter(F.col("vec_id") < _X8_N_QUERIES).select(
        (F.col("vec_id") * factor).alias("query_id"), F.col("embedding").alias("va")
    )
    scored = (
        with_cosine(F.broadcast(q).crossJoin(corpus))
        # exclude every replica of the query vector, not just the id-equal
        # row — replicas are bit-identical and would all score 1.0
        .filter(
            (F.col("neighbor_id") - F.pmod(F.col("neighbor_id"), factor))
            != F.col("query_id")
        )
        .withColumn("sim", F.round(F.col("sim_raw") + 1e-9, 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "sim")
    )


def replicated_gram(spark: SparkSession, sf_dir: str, factor: int = 4) -> DataFrame:
    """The x59 Gram kernel over the corpus replicated ``factor``× — the
    linear-algebra family's throughput-scaling bench row (fourth trend
    line after x7_minhash_x4 / x50_bm25_x4 / x8_topk_x4).  The claims it
    evidences: kernel work is LINEAR in corpus size (each row enters one
    batch matmul once) while the exchange stays d-BOUNDED (d(d+1)/2
    cells per partition regardless of rows) — and the mean-scaled output
    is IDENTICAL to the 1× Gram, since Σ over the replicas divides by
    the replicated count ((factor·Σ)/(factor·n) = Σ/n, exact at the
    4-decimal parity rounding).  That output-invariance is asserted in
    tests against x59's output; this row exists for bench.py, not the
    registry (the 1× pipeline is the oracle-verified x59)."""
    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    reps = spark.range(factor).select(F.col("id").alias("r"))
    corpus = e.crossJoin(F.broadcast(reps)).select("embedding")
    return _mean_gram(corpus)


# --- simplified silhouette by cluster (prepped for a future window) ----------


def silhouette_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette over the label-centroid
    clustering the IVF family already uses: for every vector,
    a = cosine distance to its OWN centroid, b = distance to the
    nearest OTHER centroid, s = (b − a) / max(a, b); output one row per
    cluster with size, mean and min silhouette — the standard
    clustering-quality evaluator (full silhouette is O(n²) pairwise;
    the centroid-based simplification is the production form and the
    one that is oracle-expressible), answering the question the
    x8_ivf/x15/SemDeDup machinery begs: are these buckets actually
    tight?  Low or negative mean-s clusters are merge/re-train
    candidates.  Reference analog: the scored-entity corpus analytics
    shape, big_data_project/trainer/flax_model.py.

    Registered r10 as `x83_silhouette` (with `_SILHOUETTE_ORACLE`)
    once the window opened.

    Parity: per-(vector, centroid) cosine rounds to 4 BEFORE any
    comparison (the §4.3.1 ranking convention shared with
    `_assign_nearest`); the silhouette denominator max(a, b) is clamped
    `greatest(.., 1e-4)` identically on both engines (§4.3 divide
    rule — a = 0 needs the vector to EQUAL its centroid, measure-zero
    for float means but the clamp makes degenerate inputs fail
    identically); per-vector s rounds to 4, and the DuckDB side of
    every aggregated s appends `+ 0.0` because s is signed and a
    near-zero mean can round to -0.0 (the x59/x77 lesson).

    Scale design: ONE broadcast crossJoin scores every vector against
    the k centroids (the `_assign_nearest` shape — the corpus never
    shuffles for scoring) and is persisted for its two consumers
    (assignment argmax + other-centroid max); the per-vector reduction
    partial-aggregates to (vec, bucket, own, other) before the only
    exchange; the cluster rollup is k-bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(e)
    vc = e.crossJoin(F.broadcast(cent))
    sims = (
        with_cosine(vc, "embedding", "centroid")
        .select(
            "vec_id",
            "centroid_id",
            F.round(F.col("sim_raw") + F.lit(1e-9), 4).alias("csim"),
        )
        .persist()
    )
    assigned = sims.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id",
            F.struct(F.col("csim"), (-F.col("centroid_id")).alias("nid")),
        ).alias("bucket"),
        F.max("csim").alias("own_sim"),
    )
    other = (
        sims.join(assigned, "vec_id")
        .filter(F.col("centroid_id") != F.col("bucket"))
        .groupBy("vec_id")
        .agg(F.max("csim").alias("other_sim"))
    )
    a = F.lit(1.0) - F.col("own_sim")
    b = F.lit(1.0) - F.col("other_sim")
    s = F.round(
        (b - a) / F.greatest(F.greatest(a, b), F.lit(1e-4)) + F.lit(1e-9), 4
    )
    per_vec = assigned.join(other, "vec_id").select("bucket", s.alias("s"))
    return (
        per_vec.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("s") + F.lit(1e-9), 4).alias("mean_silhouette"),
            F.min("s").alias("min_silhouette"),
        )
        .orderBy("bucket")
    )


_SILHOUETTE_ORACLE = _ASSIGN_CTE + """,
    sims AS (
      SELECT e.vec_id, c.centroid_id,
             round(list_cosine_similarity(e.v, c.centroid) + 1e-9, 4) AS csim
      FROM e CROSS JOIN cent c
    ),
    asg AS (
      SELECT vec_id, centroid_id AS bucket, csim AS own_sim
      FROM (
        SELECT vec_id, centroid_id, csim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, centroid_id) AS rk
        FROM sims)
      WHERE rk = 1
    ),
    oth AS (
      SELECT s.vec_id, max(s.csim) AS other_sim
      FROM sims s JOIN asg a ON a.vec_id = s.vec_id
      WHERE s.centroid_id != a.bucket
      GROUP BY s.vec_id
    ),
    pv AS (
      SELECT a.bucket,
             round(((1.0 - o.other_sim) - (1.0 - a.own_sim))
                   / greatest(greatest(1.0 - a.own_sim, 1.0 - o.other_sim),
                              0.0001) + 1e-9, 4) + 0.0 AS s
      FROM asg a JOIN oth o ON o.vec_id = a.vec_id
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s) + 1e-9, 4) + 0.0 AS mean_silhouette,
           min(s) + 0.0 AS min_silhouette
    FROM pv
    GROUP BY bucket
    ORDER BY bucket
"""

query("x83_silhouette", oracle=_SILHOUETTE_ORACLE)(silhouette_by_cluster)


# --- mutual nearest-neighbor pairs (prepped for a future window) -------------


def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal 1-NN pairs over the embedding corpus: (a, b) where b
    is a's nearest neighbor AND a is b's — the high-precision pairing
    criterion of bitext mining and semantic-dedup verification (one-way
    nearest is cheap to satisfy from a dense hub's side; MUTUAL nearest
    is the standard symmetric filter that kills hub-induced false
    pairs).  Composes the registered x8_knn_all KNN join (its
    rounded-sim, smallest-id tie-break makes both directions
    deterministic); cosine is symmetric and both directions round
    identically, so the pair carries one sim.  Reference analog: the
    embedding-analytics shape, big_data_project/trainer/flax_model.py.

    Registered r10 as `x84_mutual_nn` (with `_MUTUAL_ORACLE`) once
    the window opened.

    Scale design: the KNN frame is the tiled block-matrix kernel's
    output — n rows of 3 scalars — and is persisted for its two
    consumers (the a<b side and the reversed side); the mutuality test
    is ONE equi-join on (vec, nn) integer pairs.  Everything after the
    kernel is id-arithmetic."""
    knn = x8_knn_all(spark, sf_dir).persist()
    lo = knn.filter(F.col("vec_id") < F.col("nn_id"))
    rev = knn.select(
        F.col("vec_id").alias("r_vec"), F.col("nn_id").alias("r_nn")
    )
    return (
        lo.join(rev, (lo.vec_id == rev.r_nn) & (lo.nn_id == rev.r_vec))
        .select(
            F.col("vec_id").alias("vec_a"),
            F.col("nn_id").alias("vec_b"),
            "sim",
        )
        .orderBy(F.col("sim").desc(), "vec_a")
    )


_MUTUAL_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id, b.vec_id AS nn_id,
             round(list_cosine_similarity(a.v, b.v) + 1e-9, 4) AS sim
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    ),
    knn AS (
      SELECT vec_id, nn_id, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, nn_id) AS rk
            FROM scored)
      WHERE rk = 1
    )
    SELECT a.vec_id AS vec_a, a.nn_id AS vec_b, a.sim
    FROM knn a
    JOIN knn b ON b.vec_id = a.nn_id AND b.nn_id = a.vec_id
    WHERE a.vec_id < a.nn_id
    ORDER BY a.sim DESC, vec_a
"""

query("x84_mutual_nn", oracle=_MUTUAL_ORACLE)(mutual_nn_pairs)


# --- X88: NN-descent k-NN-graph construction --------------------------------

_NND_K = 5           # neighbors kept per node
_NND_ROUNDS = 3      # neighbor-of-neighbor refinement rounds
_NND_MIN_BLOCKS = 16  # floor on blocks per seed partition
_NND_BLOCK_ROWS = 32  # target block size: blocks scale as n/32, seed work stays linear
_NND_SEEDS = 3       # independent md5 seed partitions (their union mixes)
_NND_PROBES = 64     # md5-sampled probe nodes for the recall estimate


def _nnd_n_blocks(n: int) -> int:
    """Blocks per seed partition: scales with n so per-block pair work
    stays ~``_NND_BLOCK_ROWS``² regardless of corpus size (the oracle
    computes the identical greatest(floor, n // rows) from count(*))."""
    return max(_NND_MIN_BLOCKS, n // _NND_BLOCK_ROWS)


def _nnd_topk(cand_ids: DataFrame, e: DataFrame, dedup: bool = False) -> DataFrame:
    """Rank candidate (a, b) id pairs by rounded cosine and keep the
    top-``_NND_K`` per a.  Vectors attach by two equi-joins on vec_id
    (never carried through the candidate set algebra); the constant
    rank bound lets Spark prune map-side as a WindowGroupLimit.

    Expects UNIT vectors in e.v (pre-normalized once by the caller):
    cosine is then ONE dot fold per pair instead of three (dot + both
    norms) — the folds are the interpreted inner loop, and the
    one-fold kernel measured the seed-round topk 2.7 → ~1 s at sf0.1
    over 190k candidate pairs.

    r18 (guide §2.5): the candidate pairs are byte-SMALL (two ids) but
    the dot fold behind them is the round's entire CPU, and AQE's
    size-based coalescing collapses the upstream distinct/shuffle
    output to one partition — the scoring stages ran 1-task (measured
    1.5 s single-core stages at sf0.1, 31 cores idle).  Re-spreading
    the id pairs on the WINDOW key `a` before the vector attach makes
    the fold cluster-wide and satisfies the top-k window's required
    distribution, so no second exchange appears; at scale it replaces
    (not adds to) the window's own same-key shuffle.

    r19 (guide §2.4): ``dedup=True`` folds the candidate-set dedup onto
    the SAME layout — hash(a) co-locates every copy of an (a, b) pair,
    so the dropDuplicates aggregate runs partition-local with no
    exchange of its own.  The former shape (caller-side ``.distinct()``
    feeding the repartition) shuffled every round's candidate set
    TWICE — once on (a, b) for the distinct, once on a for the spread;
    now each NN-descent round pays exactly one candidate exchange.
    Dedup-before-ranking is semantically REQUIRED wherever duplicates
    can exist: a duplicated (a, b) would occupy two ranks and push the
    true k-th neighbor out of the window."""
    par = cand_ids.sparkSession.sparkContext.defaultParallelism
    cand_ids = cand_ids.repartition(par, "a")
    if dedup:
        cand_ids = cand_ids.dropDuplicates(["a", "b"])
    scored = (
        cand_ids.join(e.select(F.col("vec_id").alias("a"), F.col("v").alias("va")), "a")
        .join(e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb")), "b")
        .select(
            "a", "b",
            F.round(_dot(F.col("va"), F.col("vb")) + F.lit(1e-9), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("sim").desc(), "b")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NND_K)
        .select("a", "b", "sim")
    )


def _nnd_expand(cur: DataFrame) -> DataFrame:
    """One NN-descent candidate expansion: the symmetrized
    neighbor-of-neighbor pairs of the current (a, b) k-NN edges, plus
    the current edges themselves, deduped — the composable step behind
    `nn_descent_knn_graph` (the `n2v_census_of_edges`/`_dw_step`
    factoring precedent, so property tests can drive it over arbitrary
    vector corpora).  Requires `cur` to be checkpointed/persisted by
    the caller: it is read three times (both sym legs + the union).

    r19: returns the candidate MULTISET (duplicates possible — a pair
    reachable through several mids, or already a current edge); the
    dedup moved into ``_nnd_topk(dedup=True)`` where it runs
    exchange-free on the scoring layout instead of paying its own
    (a, b) shuffle here (guide §2.4)."""
    sym = cur.select("a", "b").unionByName(
        cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    non = (
        sym.select(F.col("a"), F.col("b").alias("mid"))
        .join(sym.select(F.col("a").alias("mid"), F.col("b")), "mid")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    return non.unionByName(cur.select("a", "b"))


def _unit_normalize(df: DataFrame, id_col: str = "vec_id", vec_col: str = "v") -> DataFrame:
    """Project ``df`` to (id_col, unit-L2-normalized vec_col) with the
    norm fold evaluated exactly ONCE per row — O(n·d), so every
    downstream candidate scoring is a single dot fold (saves two norm
    folds per pair, O(rounds·n·k²·d) in x88's inner loop at 100 TB).

    A two-step withColumn+transform is NOT enough for per-row folding:
    CollapseProject inlines a single-use non-cheap alias into the
    lambda body, re-folding the norm per ELEMENT — O(n·d²) — verified
    on the optimized plan r12 (the fix measured x88 8.2 → 6.6 s at
    sf0.1).  Routing the fold through array_repeat's element argument
    forces one evaluation per row regardless of projection collapse;
    zip_with(v, repeat(nrm, d), x/n) is bit-identical to transform's
    x / nrm.  Pinned on THIS helper (the one the product path calls)
    in test_plans.py::test_nn_descent_norm_fold_runs_once_per_row."""
    return df.withColumn("nrm", _norm(F.col(vec_col))).select(
        id_col,
        F.zip_with(
            vec_col,
            F.array_repeat(F.col("nrm"), F.size(vec_col)),
            lambda x, n: x / n,
        ).alias(vec_col),
    )


def _nnd_round_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared NN-descent core: the unit-normalized embedding frame plus
    the per-round k-NN frames (``rounds[0]`` = the md5-block seed graph,
    ``rounds[_NND_ROUNDS]`` = the refined graph).  Factored out of
    ``nn_descent_knn_graph`` (r12) so the walk miner (x89) consumes the
    SAME frames the census (x88) verifies — ANN-graph construction and
    walk-corpus mining stay one chain, not two re-implementations.

    Cache contract: `e` persists and every round localCheckpoints
    (each round frame feeds multiple consumers — the lazy variant
    measured 2757 Exchanges / 51 s vs 56 / 10 s at sf0.1); callers own
    cleanup (the registry entry point clearCache()s, and bench.py frees
    leftover localCheckpoint RDDs delta-based)."""
    e = _unit_normalize(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    ).persist()
    n_rows, _ = _embedding_stats(sf_dir, load_table(spark, sf_dir, "embeddings"))
    n_blocks = _nnd_n_blocks(n_rows)
    # All _NND_SEEDS block assignments in ONE exploded frame, self-joined
    # once on the composite (seed, block) key: the union of per-seed pairs
    # is exactly the same pair set the former per-j loop produced (a pair
    # meets only within its own seed's blocks), but the plan carries ONE
    # band-key join instead of three independent self-join subtrees —
    # one shuffle of (vec_id, j, blk) instead of three at scale, and a
    # third of the seed-phase stages/jobs here (the x7 single-explode
    # banding argument applied to the seed graph).
    blk_structs = ", ".join(
        f"named_struct('j', {j}, 'blk', "
        f"cast(conv(substring(md5(concat('{j}:', cast(vec_id as string))), 1, 15), 16, 10)"
        f" as bigint) % {n_blocks})"
        for j in range(_NND_SEEDS)
    )
    b = e.select(
        "vec_id", F.explode(F.expr(f"array({blk_structs})")).alias("s")
    ).select("vec_id", "s.j", "s.blk")
    seeds = (
        b.select(F.col("vec_id").alias("a"), "j", "blk")
        .join(b.select(F.col("vec_id").alias("b"), "j", "blk"), ["j", "blk"])
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    # dedup=True: seed pairs repeat across seed partitions, and the
    # expansion emits a multiset — both dedup exchange-free on the
    # hash(a) scoring layout inside _nnd_topk (r19; one candidate
    # exchange per round instead of distinct + spread).
    knn = _nnd_topk(seeds, e, dedup=True).localCheckpoint()
    rounds = [knn]
    for _ in range(_NND_ROUNDS):
        cur = rounds[-1]
        rounds.append(_nnd_topk(_nnd_expand(cur), e, dedup=True).localCheckpoint())
    return e, rounds


def nn_descent_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN-graph construction by NN-descent (Dong, Moses &
    Li 2011, WWW): seed each node's neighbor list from the UNION of
    ``_NND_SEEDS`` independent md5-hash block partitions (a
    deterministic stand-in for random init — the o7/x78
    md5-determinism discipline; one partition alone is block-diagonal,
    a closed clique the neighbor-of-neighbor step can never escape —
    measured: a single-partition seed left recall FLAT at 0.056 across
    every round, while the 3-partition union climbs 0.14 → 0.24 →
    0.34 → 0.43 at sf0.01 — the union of independent partitions is
    the expander random init needs), then refine by the NN-descent
    step — a node's candidates are its SYMMETRIZED neighbors'
    neighbors, "the neighbor of my neighbor is probably my neighbor" —
    re-ranking each node's top-k by rounded cosine each round.
    Output: one census row
    per round (round, n_edges, mean_sim, probe_recall) where
    probe_recall is measured against the EXACT top-k of
    ``_NND_PROBES`` md5-sampled probe nodes — the convergence table an
    ANN-index builder watches (recall climbing toward 1 as rounds
    proceed).  Completes the similarity family's scale path: x84's
    mutual-NN is the seed step, this is the graph an HNSW/NSG-style
    index (or a graph-embedding walk per x85/x86) consumes.  Reference
    analog: the embedding-analytics shape,
    big_data_project/trainer/flax_model.py.

    Cache contract: persists the vector frame (registry entry point
    clearCache()s on entry; callers own cleanup) and localCheckpoints
    each round's k-NN frame plus the exact probe frame — each k-NN
    frame feeds FOUR consumers (symmetrization ×2, the candidate
    union, the census, the recall join), so a lazy chain re-plans a
    5-ary diamond per round: the un-truncated variant measured 51 s /
    2757 Exchanges in the formatted plan at sf0.1, the checkpointed
    one is seconds (the x68/kcore lineage discipline; bench.py frees
    leftover localCheckpoint RDDs delta-based).

    Parity: candidate generation is pure id-set algebra (identical
    sets on both engines); ranking uses the rounded sim + smallest-id
    tie-break (the x8 discipline), so every round's k-NN lists match
    exactly; the census means round with the +1e-9 nudge; the recall
    denominator is the exact-edge count, never a literal.

    Scale design: this IS the 100 TB alternative to the n² exact
    graph — per-round work is bounded by n·(2k)² candidate id-pairs
    (k=5 → ≤100 per node), all equi-joins/windows keyed on node ids,
    never all-pairs (no cartesian anywhere; pinned).  Each seed
    partition bounds its block-pair work at Σ block² ≈ n²/B with B the
    block count (at real scale B scales with n to hold block size
    constant); the seed union and every candidate set carry only id
    pairs — vectors attach to DEDUPED candidates by two vec_id
    equi-joins, so the wide embedding column never rides the candidate
    set algebra or the exchange.  Exact recall is estimated on a
    CONSTANT md5 probe sample — probes×n dot products, linear in n,
    the honest at-scale validation artifact — never the full n² truth.
    The refinement chain localCheckpoints every round (see the cache
    contract above); the oracle needs the same discipline — plain CTEs
    re-inline the diamond and OOM DuckDB past 3 rounds, so every
    recurrence CTE is MATERIALIZED."""
    e, rounds = _nnd_round_frames(spark, sf_dir)
    probes = (
        e.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_NND_PROBES)
        .select(F.col("vec_id").alias("a"))
    )
    exact = (
        _nnd_topk(
            F.broadcast(probes)
            .join(e.select(F.col("vec_id").alias("b")), F.col("a") != F.col("b"))
            .select("a", "b"),
            e,
        )
        .select("a", "b")
        .localCheckpoint()
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    census = None
    for r, k in enumerate(rounds):
        stats = k.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.round(F.avg("sim") + F.lit(1e-9), 4).alias("mean_sim"),
        )
        hits = k.join(exact, ["a", "b"]).agg(F.count(F.lit(1)).alias("n_hits"))
        row = (
            stats.crossJoin(hits)
            .crossJoin(n_exact)
            .select(
                F.lit(r).alias("round"),
                "n_edges",
                "mean_sim",
                F.round(F.col("n_hits") / F.col("n_exact") + F.lit(1e-9), 4).alias(
                    "probe_recall"
                ),
            )
        )
        census = row if census is None else census.unionByName(row)
    return census.orderBy("round")


def _nnd_common_ctes() -> list[str]:
    """The CTE chain shared by the x88 census oracle and the x89 walk
    oracle: normalized embeddings, md5 seed blocks, and the unrolled
    NN-descent rounds through ``knn{_NND_ROUNDS}``.  Every recurrence
    CTE is MATERIALIZED: each knn{r} feeds four consumers, and DuckDB's
    default CTE inlining re-plans that diamond per reference — the
    exact exponential-plan pathology Spark's side persists against (a
    plain-CTE variant OOM'd DuckDB at 4 rounds; materialized, the
    whole chain runs in 0.2 s at sf0.01)."""
    seed_union = "\n      UNION ALL\n      ".join(
        f"""SELECT x.vec_id AS a, y.vec_id AS nb
      FROM b{j} x JOIN b{j} y ON y.blk = x.blk AND y.vec_id != x.vec_id"""
        for j in range(_NND_SEEDS)
    )
    ctes = [
        """e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
            FROM embeddings))""",
        f"""nb AS MATERIALIZED (
      SELECT greatest({_NND_MIN_BLOCKS}, count(*) // {_NND_BLOCK_ROWS}) AS b
      FROM e)""",
    ]
    for j in range(_NND_SEEDS):
        ctes.append(f"""b{j} AS MATERIALIZED (
      SELECT vec_id,
             CAST(('0x' || substr(md5('{j}:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % (SELECT b FROM nb) AS blk
      FROM e)""")
    ctes.append(f"""seeds AS MATERIALIZED (
      SELECT DISTINCT a, nb FROM (
      {seed_union}))""")
    ctes.append(f"""knn0 AS MATERIALIZED (
      SELECT a, nb, sim FROM (
        SELECT s.*, row_number() OVER (PARTITION BY a ORDER BY sim DESC, nb) AS rk
        FROM (SELECT c.a, c.nb,
                     round(list_dot_product(ea.v, eb.v) + 1e-9, 4) AS sim
              FROM seeds c
              JOIN e ea ON ea.vec_id = c.a
              JOIN e eb ON eb.vec_id = c.nb) s)
      WHERE rk <= {_NND_K})""")
    for r in range(1, _NND_ROUNDS + 1):
        ctes.append(f"""sym{r} AS MATERIALIZED (
      SELECT a, nb FROM knn{r - 1}
      UNION ALL
      SELECT nb AS a, a AS nb FROM knn{r - 1})""")
        ctes.append(f"""cand{r} AS MATERIALIZED (
      SELECT s.a AS a, t.nb AS nb
      FROM sym{r} s JOIN sym{r} t ON t.a = s.nb AND t.nb != s.a
      UNION
      SELECT a, nb FROM knn{r - 1})""")
        ctes.append(f"""knn{r} AS MATERIALIZED (
      SELECT a, nb, sim FROM (
        SELECT s.*, row_number() OVER (PARTITION BY a ORDER BY sim DESC, nb) AS rk
        FROM (SELECT c.a, c.nb,
                     round(list_dot_product(ea.v, eb.v) + 1e-9, 4) AS sim
              FROM cand{r} c
              JOIN e ea ON ea.vec_id = c.a
              JOIN e eb ON eb.vec_id = c.nb) s)
      WHERE rk <= {_NND_K})""")
    return ctes


def _nnd_oracle() -> str:
    """x88's census tail on the shared chain (the _lloyd_ctes /
    _dw_ctes precedent): identical md5 probe sample, identical
    rounded-sim/smallest-id ranking."""
    ctes = _nnd_common_ctes()
    ctes.append(f"""probes AS MATERIALIZED (
      SELECT vec_id AS a FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_NND_PROBES})""")
    ctes.append(f"""exact AS MATERIALIZED (
      SELECT a, nb FROM (
        SELECT s.*, row_number() OVER (PARTITION BY a ORDER BY sim DESC, nb) AS rk
        FROM (SELECT p.a, y.vec_id AS nb,
                     round(list_dot_product(pe.v, y.v) + 1e-9, 4) AS sim
              FROM probes p
              JOIN e pe ON pe.vec_id = p.a
              JOIN e y ON y.vec_id != p.a) s)
      WHERE rk <= {_NND_K})""")
    unions = "\n    UNION ALL\n    ".join(
        f"""SELECT {r} AS round,
           CAST(count(*) AS BIGINT) AS n_edges,
           round(avg(sim) + 1e-9, 4) AS mean_sim,
           round((SELECT count(*) FROM knn{r} k
                  JOIN exact x ON x.a = k.a AND x.nb = k.nb) * 1.0
                 / (SELECT count(*) FROM exact) + 1e-9, 4) AS probe_recall
    FROM knn{r}"""
        for r in range(_NND_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {unions}\n    ORDER BY round"


_NND_ORACLE = _nnd_oracle()

query("x88_nn_descent", oracle=_NND_ORACLE)(nn_descent_knn_graph)
