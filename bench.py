"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed with a count-style action (collect on the already
aggregated result, or count for large row sets) so the timing covers the
full scan→shuffle→agg pipeline, not driver materialization of wide results.

Methodology: each query gets ONE untimed warm-up run, then TWO timed
runs of which the MINIMUM is reported — THREE for the persist-heavy
rows (_MIN_OF_3 below), whose cache-fill jitter measured ±40% at
sub-3s scale and produced a spurious 1.27× drift reading in one round
under min-of-2. The warm-up pays whole-stage-codegen compilation and
JVM JIT — one-time per-JVM costs that a long-lived cluster amortizes
to zero, not engine throughput (measured: the exact-dedup plan is 2.1s
on first execution and 0.38s steady-state, the difference being
janino/JIT compile of the generated code). Cached DataFrames are dropped
between every run (spark.catalog.clearCache()), so each timed run
re-reads parquet and recomputes every stage; only code compilation
stays warm.

The output also carries ``calib_jvm_sec``: the min-of-2 time of a FIXED
pure-JVM workload (sum of id*id over spark.range(2e8)) on the same
session. Cross-round wall-clock comparisons are only meaningful at equal
host speed — measured same-commit drift of 8.2s → 12.4s across hours on
this container — so the calibration pins what the machine was worth when
the numbers were taken; divide by it to compare rounds fairly.  Since
r08 a second axis, ``calib_shuffle_sec``, times a fixed groupBy exchange:
the CPU calib alone mis-normalizes when the container's shuffle/IO path
drifts independently of its ALU speed (observed same-commit: walls +9%
while calib_jvm_sec fell 12%).  Since r10 a third axis,
``calib_arrow_sec``, times a fixed mapInPandas round-trip: the r10
re-measure of the x62 "drift" found the ENTIRE Arrow-kernel family
(x59/x61/x62, code byte-identical since r08) inflated 40-80% together
while both JVM calibs sat in their normal bands — the Python-worker +
Arrow-serialization path drifts independently of both, and rows whose
wall is dominated by it (x59*, x61, x62, x2/x3) should be normalized
against this axis.  Since r12 a fourth reading, ``calib_arrow_dirty_sec``,
repeats the Arrow workload after a list-column pandas pass has shifted the
reused Python workers into the state every Arrow demonstrator row actually
runs in — the fresh-state axis is bimodal (~0.65 vs ~1.3 s on identical
code depending on whether the pool has ever seen a list column through
Arrow); the dirty-state axis is idempotent and session-stable.  Judge
Arrow rows on the dirty axis from r12 on.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_project_spark import registry
from big_data_project_spark.session import get_spark, snapshot_rdd_ids
# perfbench/loop.py and the probes import the release by this name
from big_data_project_spark.session import release as free_new_rdds

# Headline set: one per major operator family. Kept in sync with SURVEY §2.
HEADLINE = [
    "flagship_pricing_summary",
    "j2_orders_lineitem_join",
    "j3_star_join_revenue",
    "a4_grouped_metrics",
    "w1_topk_per_group",
    "w3_moving_average",
    "o1_global_sort",
    "t1_tumbling_window",
    "t3_session_window",
    "x6_exact_dedup",
    "x7_minhash_neardup_pairs",
    "x8_similarity_topk",
    "x9_word_count",
    "x8_knn_all",
    "b1_funnel",
    "pipeline_curation_end2end",
    "scale_bucketed_join",
    "sql_q6_forecast_revenue",
    "s13_zorder_write_skipping",
]

# Scale demonstrators: timed and reported every round, but summed
# SEPARATELY from the headline value — they were added in round 5, so
# folding them into `value` would break the round-over-round comparison
# against the r01-recorded BASELINE (which timed only the 19 headline
# queries).
DEMONSTRATORS = [
    "x8_knn_all_blocked",
    "x7_minhash_x4",
    # driver-coordinated iteration (large-star/small-star connected
    # components): tracks the per-round checkpoint + fixpoint-checksum
    # overhead round-over-round
    "x43_largestar_components",
    # fixed-iteration-count power iteration (PageRank): tracks the
    # single-job lazy-chain cadence on a cached-edge join-agg loop
    "x51_pagerank",
    # BM25 under 4× verbatim corpus replication, plus the 1× comparator
    # row: the postings-bounded retrieval claim's trend line
    "x50_bm25_retrieval",
    "x50_bm25_x4",
    # exact top-k under 4× corpus replication (1× comparator is the
    # x8_similarity_topk headline row): the broadcast-query + linear
    # corpus-stream claim's trend line — the third family after dedup
    # (x7_minhash_x4) and retrieval (x50_bm25_x4)
    "x8_topk_x4",
    # Arrow Gram kernel + localCheckpoint-ed d-bounded power iteration +
    # broadcast projection (added r07): the linear-algebra pipeline shape,
    # with the 1x Gram comparator row for the 4x replication trend line
    "x61_pca_project",
    "x59_embedding_gram",
    "x59_gram_x4",
    # top-2 PCA via rank-1 deflation (added r08): tracks the cost of the
    # second d-bounded iteration + deflation map over the x61 shape
    "x62_pca_top2",
    # triangle counting (added r08): tracks the degree-ordered wedge
    # join — the one demonstrator whose shuffle volume (Σ outdeg² wedge
    # rows) is a superlinear function of edge count, so drift here flags
    # orientation/hint regressions before they'd hit a real graph
    "x64_triangle_count",
    # r09 graph-family additions: sync LPA (vote-aggregate iteration —
    # the third iterative cadence next to x43's fixpoint and x51's
    # lazy chain) and brand-seeded weighted personalized PageRank
    # (x51's shape + a broadcast teleport; drift at equal calib flags
    # a lost broadcast or cache)
    "x65_lpa_communities",
    "x67_personalized_pagerank",
    # PageRank under 4× disjoint-copy graph replication (added r09): the
    # iterative family's replication trend line — per-iteration join+agg
    # scales with factor·|E| while fixed costs amortize; compare against
    # the x51_pagerank 1× row
    "x51_pagerank_x4",
    # delta-frontier BFS (added r10, registered that round): the fourth
    # iterative cadence — per-round persisted frontier + anti-join
    # diamond, the shape whose un-checkpointed plan grows exponentially
    # (the r09 scale finding); drift at equal calib flags a lost
    # persist or a frontier that stopped being a delta
    "x68_khop_bfs",
    # NN-descent k-NN graph (added r11, registered that round): the
    # fifth iterative cadence — per-round localCheckpoint over a
    # 4-consumer candidate-expansion diamond scored by a one-fold
    # unit-vector cosine kernel; drift at equal calib flags a lost
    # checkpoint (the lazy variant measured 5× the wall) or a
    # re-normalizing kernel
    "x88_nn_descent",
]


# Persist/checkpoint-heavy plans get a third timed run: their cache-fill
# and lineage-truncation jitter dominates at sub-3s scale (r05 recorded a
# 1.27× x7 drift that an isolated re-measure showed to be pure noise).
_MIN_OF_3 = {
    "x7_minhash_neardup_pairs",
    "x7_minhash_x4",
    "x43_largestar_components",
    "x51_pagerank",
    "pipeline_curation_end2end",
    # localCheckpoint inside the builder: cache-fill jitter measured
    # 0.95 vs 1.32 s across same-code runs at sf0.1
    "x61_pca_project",
    "x62_pca_top2",
    # two persisted frames (pairs diamond + oriented edges) fill inside
    # the first action: cache-fill jitter dominates run 1
    "x64_triangle_count",
    # persisted edge frames fill inside the first action (same class)
    "x65_lpa_communities",
    "x67_personalized_pagerank",
    "x51_pagerank_x4",
    # per-round persisted frontier frames fill inside the first action
    "x68_khop_bfs",
    # per-round localCheckpoints materialize inside the first action
    "x88_nn_descent",
    # the first two POSITIONS run on the coldest JVM: despite the global
    # and per-query warm-ups, r07 recorded flagship +0.154 s / j2 +0.242 s
    # vs r06 purely from run order (both ≤1.04× of their r01 per-query
    # baselines).  A third sample absorbs the residual JIT tail so
    # head-row deltas reflect plans, not position (VERDICT r07 #4).
    "flagship_pricing_summary",
    "j2_orders_lineitem_join",
    # footer-skip scan over the once-per-process z-ordered tmp write:
    # the r11 adjudication measured a monotone 0.530→0.404 s decay
    # across five same-session runs (page-cache/footer-path warm-up),
    # so min-of-2 systematically over-reads this row by ~15%
    "s13_zorder_write_skipping",
}


def _extra_rows():
    """Bench-only rows (not registry queries): scale demonstrators whose
    oracle would be prohibitive but whose wall-time the rounds track."""
    from big_data_project_spark.pipeline.dedup import replicated_neardup_pairs
    from big_data_project_spark.pipeline.graph import replicated_pagerank

    from big_data_project_spark.pipeline.similarity import (
        replicated_gram, replicated_topk,
    )
    from big_data_project_spark.pipeline.text import replicated_bm25_topk

    # MinHash throughput under 4× corpus replication (distinct ids, salted
    # shingles): the band-join design's near-linear-scaling evidence — at
    # sf0.1 compare against the x7_minhash_neardup_pairs row (~4× expected).
    # BM25 under 4× verbatim replication: the postings-bounded retrieval
    # claim's trend line — compare against the x50_bm25_retrieval row.
    return {
        "x7_minhash_x4": lambda spark, sf_dir: replicated_neardup_pairs(
            spark, sf_dir, factor=4),
        "x50_bm25_x4": lambda spark, sf_dir: replicated_bm25_topk(
            spark, sf_dir, factor=4),
        "x8_topk_x4": lambda spark, sf_dir: replicated_topk(
            spark, sf_dir, factor=4),
        # Gram kernel under 4x replication: linear kernel work, d-bounded
        # exchange, key-identical output with cells agreeing within one
        # 4-decimal rounding step (pinned in test_pipeline — partial-sum
        # order can legally flip a boundary ulp) — compare against the
        # x61 pipeline's kernel stage.
        "x59_gram_x4": lambda spark, sf_dir: replicated_gram(
            spark, sf_dir, factor=4),
        # PageRank over 4 disjoint graph copies: the iterative family's
        # replication trend line — copy symmetry (every copy computes
        # identical per-copy values) is pinned in test_pipeline.
        "x51_pagerank_x4": lambda spark, sf_dir: replicated_pagerank(
            spark, sf_dir, factor=4),
    }


def _foreign_jvms() -> int:
    """Count java processes already running BEFORE this bench starts its
    own JVM.  An r11 A/B found a session sharing the host with one other
    Spark JVM read headline +29% and x64 sh-norm +27% at byte-identical
    code — the calibs only partially absorb contention, so a nonzero
    count marks the whole file as suspect for cross-round comparison."""
    n = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        n += 1
            except OSError:
                continue  # raced exit
    except OSError:
        return -1  # /proc unavailable; unknown
    return n


def _loadavg() -> tuple[float | None, float | None]:
    """Host (1m, 15m) load averages at bench start.  The foreign-JVM
    counter is blind to non-JVM load: an r13 session with
    foreign_jvms=0 but loadavg ~4.8 (residual non-Java activity) read
    headline 24.9 s vs 8.1 s on the same code minutes later — uniformly
    slow headline walls with FLAT demonstrators are the signature.
    A 1m reading ≳2 at start marks the file suspect like
    foreign_jvms>0.  The 15m axis was added in r14: a session started
    at 1m=0.0 minutes after a 25-minute full-load pytest run (15m ~4)
    read every persist/checkpoint-heavy demonstrator +15-35% at
    fastest-ever calibs — recent sustained load leaves a residue
    (thermal/cache state) the 1m axis can't see, so a high 15m with a
    clean 1m flags the DEMONSTRATOR rows (not the headline) suspect."""
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
            return float(parts[0]), float(parts[2])
    except (OSError, ValueError, IndexError):
        return None, None


# Clean-host calibration bands (r15): both loadavg axes CLEAN do not
# guarantee a comparable host — an r15 session at 1m=1.13/15m=0.38 read
# calib_shuffle 1.997 and calib_arrow_dirty 7.996 (vs the r12-r14 bands
# below) and every x8-family row 4-6× its trend; the immediate re-run
# reverted.  CPU-quota/steal throttling is invisible to loadavg, so the
# calibration axes are the AUTHORITATIVE discard signal: a reading with
# calib_flag non-empty is not comparable across rounds regardless of
# load axes.  Bands = max clean r12-r14 reading × 1.35 headroom.
# Comparison semantics (ADVICE r15/r16): calib_flag compares the
# 3-dp-ROUNDED readings (the values the JSON records) against these
# bounds, so a raw reading up to 0.0005 above a band records unflagged —
# intentional, so a recorded file alone reproduces its own flag; any
# future band re-base must account for that half-millisecond edge.
_CALIB_BANDS = {
    "calib_jvm_sec": 0.25,
    "calib_shuffle_sec": 1.85,
    "calib_arrow_dirty_sec": 1.95,
}


def calib_flag(readings: dict) -> list[str]:
    """The discard flag, computed from the SAME rounded values the JSON
    records — factored (r18) so the decision is unit-testable and
    recomputable from a recorded BENCH file alone.  An axis without a
    `_CALIB_BANDS` entry (stages, the r18 end-of-session reads) goes
    unflagged by design: bands are earned by cross-round evidence, not
    assumed."""
    return sorted(
        k for k, bound in _CALIB_BANDS.items()
        if readings.get(k) is not None and readings[k] > bound
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    foreign = _foreign_jvms()
    loadavg, loadavg_15m = _loadavg()
    if foreign > 0:
        print(f"# WARNING: {foreign} foreign JVM(s) running — contended "
              "readings are not comparable across rounds", file=sys.stderr)
    elif foreign < 0:
        print("# NOTE: foreign-JVM count unavailable (/proc unreadable)",
              file=sys.stderr)
    if loadavg is not None and loadavg >= 2.0:
        print(f"# WARNING: loadavg {loadavg} at start — non-JVM host load; "
              "readings are not comparable across rounds", file=sys.stderr)
    spark = get_spark(app_name="bdp-spark-bench")
    qs = dict(registry.all_queries())
    qs.update(_extra_rows())
    names = [n for n in HEADLINE + DEMONSTRATORS if n in qs]
    # warm the JVM + parquet footers with one untimed flagship run
    if names:
        qs[names[0]](spark, sf_dir).limit(1).collect()
    if "scale_bucketed_join" in names:
        # bucket-table creation is a one-time amortized cost, not part of
        # the steady-state join being measured
        from big_data_project_spark.operators.scale import ensure_bucketed

        ensure_bucketed(spark, sf_dir)
    calib = None
    for i in range(3):  # pass 0 is codegen/JIT warm-up, excluded from the min
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(cast(id as double) * cast(id as double))"
        ).collect()
        dt = time.perf_counter() - t0
        if i > 0:
            calib = dt if calib is None else min(calib, dt)
    # Second calibration axis (added r08): a fixed EXCHANGE workload.  The
    # pure-JVM calib above tracks only the CPU path; same-commit drift was
    # observed where query walls rose while calib_jvm_sec fell, because the
    # container's shuffle/IO path degrades independently of its ALU speed.
    # The key space must be HIGH-cardinality (10M distinct over 20M rows):
    # with few groups, map-side partial aggregation collapses each task to
    # |groups| rows before the exchange and the "shuffle" calib would time
    # the same ALU path as calib_jvm_sec — here nearly all 20M rows
    # genuinely serialize through the exchange.
    calib_sh = None
    for i in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("id % 10000000 AS k").groupBy(
            "k"
        ).count().selectExpr("sum(count)").collect()
        dt = time.perf_counter() - t0
        if i > 0:
            calib_sh = dt if calib_sh is None else min(calib_sh, dt)
    # Fifth calibration axis (added r15): fixed stage-LAUNCH overhead.
    # The r15 anchor-confirmation pair exposed a drift mode none of the
    # other axes see: two adjacent clean sessions (calib_flag [] both,
    # jvm/sh/ar_dirty within 8-14%) read headline walls 50% apart.  The
    # headline rows are short MULTI-STAGE jobs (0.1-2 s, 2-6 stages), so
    # per-stage scheduling/wake latency dominates them while every other
    # calib times one or two big stages where it amortizes to nothing.
    # This axis runs 12 minimal two-stage jobs (200 rows through one
    # 8-partition exchange each) — almost pure scheduler/launch path —
    # so short-query walls can be normalized against it.
    calib_stages = None
    for i in range(3):
        t0 = time.perf_counter()
        for j in range(12):
            spark.range(0, 200, 1, 8).selectExpr(
                f"(id + {j}) % 7 AS k"
            ).groupBy("k").count().selectExpr("sum(count)").collect()
        dt = time.perf_counter() - t0
        if i > 0:
            calib_stages = dt if calib_stages is None else min(calib_stages, dt)
    # Third calibration axis (added r10): a fixed Arrow/Python-worker
    # round-trip.  The JVM calibs share no code with the pandas-UDF path
    # (Python worker fork, Arrow IPC both ways, numpy kernel); the r10
    # x62 investigation measured that path drifting 40-80% on identical
    # code while both JVM calibs held their bands, so Arrow-dominated
    # rows need their own normalizer.
    calib_ar = None
    import pandas as _pd  # noqa: PLC0415 — bench-local, keeps import cost out of cold start

    def _arrow_work(batches):
        for pdf in batches:
            yield _pd.DataFrame({"s": [float((pdf["id"] * pdf["id"]).sum())]})

    # numPartitions on range (not repartition) — a round-robin exchange
    # here would entangle shuffle drift into the axis meant to isolate
    # the Python-worker/Arrow-IPC path (ADVICE r10).
    for i in range(3):
        t0 = time.perf_counter()
        spark.range(0, 8_000_000, numPartitions=32).mapInPandas(
            _arrow_work, "s double"
        ).selectExpr("sum(s)").collect()
        dt = time.perf_counter() - t0
        if i > 0:
            calib_ar = dt if calib_ar is None else min(calib_ar, dt)
    # Fourth axis (added r12): the SAME Arrow workload measured in the
    # DIRTY worker-pool state.  An r12 probe found the Arrow round-trip
    # is bimodal: one mapInPandas pass over a LIST column (object arrays
    # in the worker — every embedding kernel does this) permanently
    # shifts the session's reused Python workers from ~0.65 s to ~1.3 s
    # on the calib workload, while flat-column numpy work and all JVM
    # work leave it untouched (BASELINE.md "r12 arrow-state probe").
    # Every Arrow demonstrator row is TIMED in that dirty state (its own
    # warm-up passes list columns before its timed runs), so the
    # fresh-state calib above under-reads their axis ~2×; it also
    # explains the r11 driver-session reading (1.299 — squarely the
    # dirty band) vs the clean-session 0.56-0.67.  The dirtier is
    # idempotent (already-dirty sessions stay ~1.3), which makes this
    # axis session-state-INSENSITIVE: measured spread 1.10-1.37 across
    # sessions vs 0.45-1.35 for the fresh axis.  calib_arrow_sec keeps
    # its formula for cross-round continuity; judge Arrow rows on the
    # dirty axis from r12 on.
    import numpy as _np  # noqa: PLC0415 — bench-local

    def _arrow_dirty(batches):
        for pdf in batches:
            m = _np.vstack(pdf["v"].to_numpy()).astype(_np.float64)
            yield _pd.DataFrame({"s": [float(m.sum())]})

    from pyspark.sql import functions as _F  # noqa: PLC0415 — bench-local

    spark.range(0, 100_000, numPartitions=32).select(
        _F.array_repeat(_F.col("id").cast("double"), 64).alias("v")
    ).mapInPandas(_arrow_dirty, "s double").selectExpr("sum(s)").collect()
    calib_ar_dirty = None
    for i in range(3):
        t0 = time.perf_counter()
        spark.range(0, 8_000_000, numPartitions=32).mapInPandas(
            _arrow_work, "s double"
        ).selectExpr("sum(s)").collect()
        dt = time.perf_counter() - t0
        if i > 0:
            calib_ar_dirty = dt if calib_ar_dirty is None else min(calib_ar_dirty, dt)
    timings: dict[str, float] = {}
    for name in names:
        # clearCache below drops DataFrame caches but NOT localCheckpoint
        # RDD blocks or temp views — free each row's leftovers after
        # timing so min-of-N reruns and the long bench session don't
        # accumulate them (anything persisted before this row survives).
        before_rdds = snapshot_rdd_ids(spark)
        qs[name](spark, sf_dir).count()  # warm-up: codegen + JIT compile
        spark.catalog.clearCache()  # timed runs must recompute, not read cache
        best, n = None, 0
        for _ in range(3 if name in _MIN_OF_3 else 2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
            spark.catalog.clearCache()
        free_new_rdds(spark, before_rdds)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
    total = round(sum(t for n, t in timings.items() if n in HEADLINE), 3)
    demo = {n: t for n, t in timings.items() if n in DEMONSTRATORS}
    # END-of-session jvm re-read (added r18): the container's throttle
    # oscillates on a ~10-30 min period, SHORTER than a full session —
    # r18 session 1 read every start-calib clean yet all seventeen
    # sub-1 s rows uniformly 1.2-2.1× (a mid-session throttle close
    # stretching fixed per-job overhead), which was undetectable from
    # the recorded file.  Re-reading the same workload after the last
    # row makes that state self-evident: end ≫ start = the window
    # closed mid-session and short rows are suspect even with
    # calib_flag [].  No _CALIB_BANDS entry (ratio-only evidence, the
    # calib_stages_sec precedent) — an unknown axis goes unflagged.
    calib_end = None
    for i in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(cast(id as double) * cast(id as double))"
        ).collect()
        dt = time.perf_counter() - t0
        if i > 0:
            calib_end = dt if calib_end is None else min(calib_end, dt)
    # If the tail landed inside the long-sought fast window (jvm ≲0.16 —
    # first observed r18, only ever at session tails; a standalone probe
    # 3 min later read 0.402, so the window is shorter than probe
    # latency), grab the stages reading the judge has been waiting to
    # bound (VERDICT r17 #6): co-resident jvm+stages in a fast window is
    # the datum that lets calib_stages_sec get a band.
    calib_stages_end = None
    if calib_end is not None and calib_end <= 0.16:
        for i in range(3):
            t0 = time.perf_counter()
            for j in range(12):
                spark.range(0, 200, 1, 8).selectExpr(
                    f"(id + {j}) % 7 AS k"
                ).groupBy("k").count().selectExpr("sum(count)").collect()
            dt = time.perf_counter() - t0
            if i > 0:
                calib_stages_end = (
                    dt if calib_stages_end is None else min(calib_stages_end, dt)
                )
    # One readings mapping feeds BOTH the emitted calib_* fields and
    # calib_flag, and the flag compares the same round(v, 3) values that
    # land in the JSON — so the discard decision is reproducible from the
    # recorded file alone, and a new axis without a _CALIB_BANDS entry
    # simply goes unflagged instead of KeyError-ing in the driver's run.
    readings = {
        "calib_jvm_sec": round(calib, 3) if calib is not None else None,
        "calib_shuffle_sec": round(calib_sh, 3) if calib_sh is not None else None,
        "calib_arrow_sec": round(calib_ar, 3) if calib_ar is not None else None,
        "calib_arrow_dirty_sec": (
            round(calib_ar_dirty, 3) if calib_ar_dirty is not None else None
        ),
        "calib_stages_sec": (
            round(calib_stages, 3) if calib_stages is not None else None
        ),
        "calib_jvm_end_sec": (
            round(calib_end, 3) if calib_end is not None else None
        ),
        "calib_stages_end_sec": (
            round(calib_stages_end, 3) if calib_stages_end is not None else None
        ),
    }
    print(json.dumps({
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {n: t for n, t in timings.items() if n in HEADLINE},
        "demonstrators": demo,
        **readings,
        # None = unknown (/proc unreadable), never conflated with 0 = clean
        "foreign_jvms": foreign if foreign >= 0 else None,
        "loadavg_1m": loadavg,
        "loadavg_15m": loadavg_15m,
        # calibration axes outside their clean-host bands (see
        # _CALIB_BANDS): non-empty = host degraded, discard the reading
        "calib_flag": calib_flag(readings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
