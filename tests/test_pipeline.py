"""Invariant tests for the rows-only pipeline operators (SURVEY.md §5.2):
LSH recall vs brute force, SimHash sanity, IVF-ANN recall, language-ID
accuracy, multimodal decode determinism, approx-distinct error bounds,
seeded-shuffle reproducibility.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark import registry
from big_data_project_spark.session import scope
from big_data_project_spark.pipeline.dedup import (
    lsh_candidate_pairs, minhash_signatures, shingled_docs,
)

registry.load()
Q = registry.all_queries()


def test_x7_lsh_recall_vs_exact(spark, sf_dir):
    """Every exact near-dup pair (Jaccard ≥ 0.5) must be an LSH candidate
    — with 16×4 bands at s ≥ 0.9 the miss probability is ~1e-15."""
    docs = shingled_docs(spark, sf_dir)
    cands = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    exact = {
        (r.doc_a, r.doc_b)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= 0.5)
        .collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    assert exact <= cands, f"LSH missed {exact - cands}"


def test_x7_dedup_keep_removes_only_dup_docs(spark, sf_dir):
    total = Q["x6_exact_dedup"](spark, sf_dir).count()
    kept = Q["x7_minhash_dedup_keep"](spark, sf_dir).count()
    pairs = Q["x7_minhash_neardup_pairs"](spark, sf_dir).count()
    assert kept <= total
    assert total - kept <= pairs  # can't drop more docs than pair losers


def test_x7_simhash_identical_texts_collide(spark, sf_dir):
    out = Q["x7_simhash_pairs"](spark, sf_dir)
    # near-dup docs (shared token bags) should appear at small hamming;
    # and hamming is symmetric-bounded
    rows = out.collect()
    assert all(0 <= r.hamming <= 6 for r in rows)


def test_x8_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = Q["x8_similarity_topk"](spark, sf_dir).collect()
    ivf = Q["x8_ivf_ann_topk"](spark, sf_dir).collect()
    btop = {(r.query_id, r.neighbor_id) for r in brute}
    itop = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(btop & itop) / len(btop)
    # fixture vectors are near-random; nprobe=3/10 buckets ⇒ expect ~30%+
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"
    assert all(r.rk <= 5 if hasattr(r, "rk") else True for r in ivf)


def test_x8_ivf_trained_same_contract(spark, sf_dir):
    """The trained-quantizer IVF keeps the probe contract: top-5 per
    query, same query set, and sane recall vs brute force (on random
    fixture vectors training shifts buckets, it cannot 'improve' them —
    this guards the machinery, not clustering magic)."""
    brute = Q["x8_similarity_topk"](spark, sf_dir).collect()
    trained = Q["x8_ivf_trained_topk"](spark, sf_dir).collect()
    btop = {(r.query_id, r.neighbor_id) for r in brute}
    ttop = {(r.query_id, r.neighbor_id) for r in trained}
    assert {q for q, _ in ttop} == {q for q, _ in btop}
    per_q: dict[int, int] = {}
    for q, _ in ttop:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(k <= 5 for k in per_q.values())
    recall = len(btop & ttop) / len(btop)
    assert recall >= 0.2, f"trained-IVF recall collapsed: {recall}"


def test_x90_ivfadc_chain_replay_and_x38_consistency(spark, sf_dir):
    """x90 (trained IVF routing → cell-restricted ADC scan): the FULL
    chain — Lloyd-2 training, corpus assignment, nprobe routing, PQ
    codes, LUT gather-sum, per-cell top-k — must replay EXACTLY in
    pure numpy at the small tier (third implementation, independent of
    both engines), and its ADC arithmetic must agree with x38's
    full-table scan: any (query, neighbor) pair both emit carries the
    IDENTICAL adc_d2, and per query the global (x38) best distance
    lower-bounds the cell-restricted (x90) best."""
    import numpy as np

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import (
        _ADC_N_QUERIES, _ADC_TOP_K, _IVF_NPROBE, _PQ_D, _PQ_K, _PQ_M,
        _TRAINED_GENS, _pq_centroids,
    )

    erows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in erows], dtype=np.int64)
    labels = np.array([r.label for r in erows], dtype=np.int64)
    mat = np.array([r.embedding for r in erows], dtype=np.float64)

    def rnd(x, d):
        return round(float(x) + 1e-9, d)

    def csim4(a, b):
        return rnd(float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), 4)

    # Lloyd-2 training from the per-label seed (round-6 per generation)
    cent = {
        int(lab): [rnd(c, 6) for c in mat[labels == lab].mean(axis=0)]
        for lab in sorted(set(labels.tolist()))
    }
    for _ in range(_TRAINED_GENS):
        bucket_of = {}
        for vid, v in zip(ids, mat):
            best = max(
                cent.items(), key=lambda kv: (csim4(v, np.array(kv[1])), -kv[0])
            )[0]
            bucket_of[int(vid)] = best
        cent = {}
        for b in sorted(set(bucket_of.values())):
            members = mat[[bucket_of[int(i)] == b for i in ids]]
            cent[b] = [rnd(c, 6) for c in members.mean(axis=0)]
    assigned = {
        int(vid): max(
            cent.items(), key=lambda kv: (csim4(v, np.array(kv[1])), -kv[0])
        )[0]
        for vid, v in zip(ids, mat)
    }
    # nprobe routing per query
    probes = {
        int(q): [
            b for b, _ in sorted(
                ((b, csim4(mat[ids == q][0], np.array(c))) for b, c in cent.items()),
                key=lambda t: (-t[1], t[0]),
            )[:_IVF_NPROBE]
        ]
        for q in range(_ADC_N_QUERIES)
    }
    # PQ codes (first-min argmin) + per-query LUT
    cents = np.asarray(_pq_centroids())
    codes = {}
    for vid, v in zip(ids, mat):
        codes[int(vid)] = [
            int(((v[j * _PQ_D:(j + 1) * _PQ_D] - cents[j]) ** 2).sum(axis=1).argmin())
            for j in range(_PQ_M)
        ]
    expected = []
    for q in range(_ADC_N_QUERIES):
        qv = mat[ids == q][0]
        lut = np.stack([
            ((qv[j * _PQ_D:(j + 1) * _PQ_D][None, :] - cents[j]) ** 2).sum(axis=1)
            for j in range(_PQ_M)
        ])
        cand = []
        for vid in ids:
            vid = int(vid)
            if vid == q or assigned[vid] not in probes[q]:
                continue
            adc = 0.0
            for j in range(_PQ_M):
                adc += lut[j, codes[vid][j]]
            cand.append((rnd(adc, 4), vid))
        for adc, vid in sorted(cand)[:_ADC_TOP_K]:
            expected.append((q, vid, adc))

    got = [
        (r.query_id, r.neighbor_id, r.adc_d2)
        for r in Q["x90_ivfadc_topk"](spark, sf_dir)
        .orderBy("query_id", "adc_d2", "neighbor_id").collect()
    ]
    spark.catalog.clearCache()
    assert got == expected
    assert got, "fixture chain should produce candidates"

    # cross-operator consistency with the full-table ADC scan
    full = {
        (r.query_id, r.neighbor_id): r.adc_d2
        for r in Q["x38_pq_adc_topk"](spark, sf_dir).collect()
    }
    cell = {(q, n): d for q, n, d in got}
    for pair in set(full) & set(cell):
        assert full[pair] == cell[pair], pair
    best_full: dict[int, float] = {}
    for (q, _), d in full.items():
        best_full[q] = min(best_full.get(q, float("inf")), d)
    best_cell: dict[int, float] = {}
    for (q, _), d in cell.items():
        best_cell[q] = min(best_cell.get(q, float("inf")), d)
    assert set(best_cell) == set(best_full)
    for q, d in best_cell.items():
        assert best_full[q] <= d, (q, best_full[q], d)


def test_x9_lang_id_beats_chance(spark, sf_dir):
    out = Q["x9_lang_id"](spark, sf_dir)
    hits = out.filter(F.col("lang_pred") == F.col("lang_true")).count()
    total = out.count()
    # word-salad synthetic text: require better-than-chance (5 classes)
    assert hits / total > 0.2, f"lang-id accuracy {hits/total:.2f}"


def test_x10_decode_deterministic_and_consistent(spark, sf_dir):
    a = Q["x10_multimodal_decode"](spark, sf_dir).orderBy("doc_id").collect()
    b = Q["x10_multimodal_decode"](spark, sf_dir).orderBy("doc_id").collect()
    assert a == b  # stubbed codec must be deterministic
    meta = {r.doc_id: r for r in Q["x10_multimodal_metadata"](spark, sf_dir).collect()}
    for r in a:
        assert r.n_bytes == meta[r.doc_id].n_bytes
        assert 0.0 <= r.fake_mean_luma <= 1.0


def test_x10_resize_bounds_output_and_is_deterministic(spark, sf_dir):
    a = Q["x10_multimodal_resize"](spark, sf_dir).orderBy("doc_id").collect()
    b = Q["x10_multimodal_resize"](spark, sf_dir).orderBy("doc_id").collect()
    assert a == b
    for r in a:
        assert (r.out_w, r.out_h) == (32, 8)
        assert r.n_bytes_out <= 32 * 8  # bounded by target, not input


def test_x10_frame_sample_arithmetic(spark, sf_dir):
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.multimodal import attach_payload

    frames = Q["x10_frame_sample"](spark, sf_dir).toPandas()
    sizes = {
        r.doc_id: r.n
        for r in attach_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.length("payload").alias("n"))
        .collect()
    }
    per_doc = frames.groupby("doc_id")
    for doc_id, g in per_doc:
        n_frames = -(-sizes[doc_id] // 16)          # ceil(bytes / frame_size)
        expected = -(-n_frames // 4)                # ceil(frames / every_k)
        assert len(g) == expected, (doc_id, len(g), expected)
        assert sorted(g.frame_idx) == list(range(0, n_frames, 4))
        assert (g.frame_bytes <= 16).all()


def test_x10_real_codec_branch_is_guarded(spark, sf_dir):
    from big_data_project_spark.pipeline.multimodal import decode_features

    with pytest.raises(NotImplementedError):
        list(decode_features(iter([]), use_real_codec=True))


def test_a8_approx_distinct_error_bound(spark, sf_dir):
    approx = {
        r.event_type: r.approx_users
        for r in Q["a8_approx_distinct"](spark, sf_dir).collect()
    }
    from big_data_project_spark.io import load_table

    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n), (k, approx[k], n)


def test_a19_approx_percentiles_error_bound(spark, sf_dir):
    approx = {r.l_returnflag: r for r in Q["a19_approx_percentiles"](spark, sf_dir).collect()}
    exact = {r.l_returnflag: r for r in Q["a16_percentiles"](spark, sf_dir).collect()}
    for flag, e in exact.items():
        a = approx[flag]
        for p in ("p25", "p50", "p75"):
            ev, av = getattr(e, p), getattr(a, p)
            assert abs(av - ev) / max(abs(ev), 1) < 0.02, (flag, p, av, ev)


def test_o5_seeded_shuffle_reproducible(spark, sf_dir):
    a = [r.n_nationkey for r in Q["o5_seeded_shuffle"](spark, sf_dir).collect()]
    b = [r.n_nationkey for r in Q["o5_seeded_shuffle"](spark, sf_dir).collect()]
    assert a == b  # fixed seed ⇒ stable order
    assert sorted(a) == list(range(25))  # it is a permutation


def test_f9_xxhash64_matches_text_cardinality(spark, sf_dir):
    from big_data_project_spark.io import load_table

    out = Q["f9_xxhash64"](spark, sf_dir)
    n_hashes = out.select("text_xxh64").distinct().count()
    n_texts = load_table(spark, sf_dir, "documents").select("text").distinct().count()
    assert n_hashes == n_texts  # no collisions at fixture scale


def test_x7_clusters_cover_all_pair_endpoints(spark, sf_dir):
    """Every near-dup edge must land inside one cluster, and each cluster
    id must be the smallest member id."""
    from big_data_project_spark.pipeline.dedup import (
        neardup_clusters, verified_neardup_pairs,
    )

    labels = neardup_clusters(spark, sf_dir).toPandas().set_index("doc_id")["cluster"]
    pairs = verified_neardup_pairs(spark, sf_dir).toPandas()
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        assert labels[a] == labels[b], (a, b)
    assert (labels.index >= labels.values).all()  # cluster id = min member
    assert (labels.groupby(labels).size() >= 1).all()


def test_o7_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    """Same seed ⇒ identical sample; per-class rates near target fractions."""
    from big_data_project_spark.registry import all_queries

    q = all_queries()["o7_stratified_sample"]
    a = q(spark, sf_dir).toPandas()
    b = q(spark, sf_dir).toPandas()
    assert a.equals(b)
    from big_data_project_spark.io import load_table

    totals = (
        load_table(spark, sf_dir, "documents").groupBy("lang").count().toPandas()
        .set_index("lang")["count"]
    )
    rates = a.set_index("lang")["n_sampled"] / totals
    assert abs(rates.get("en", 0) - 0.5) < 0.15
    assert abs(rates.get("zh", 0) - 0.1) < 0.1


def test_s9_compaction_collapses_file_count(spark, sf_dir):
    import glob
    import os

    Q["s9_compaction"](spark, sf_dir).count()  # materialize both writes
    from big_data_project_spark.sources.formats import _tmp

    sf = os.path.basename(sf_dir.rstrip("/"))
    frag = glob.glob(os.path.join(_tmp(f"s9_frag_{sf}"), "part-*"))
    compact = glob.glob(os.path.join(_tmp(f"s9_compact_{sf}"), "part-*"))
    assert len(frag) == 64
    assert len(compact) <= 4
    # lossless: same row count both layouts
    assert (
        spark.read.parquet(_tmp(f"s9_frag_{sf}")).count()
        == spark.read.parquet(_tmp(f"s9_compact_{sf}")).count()
    )


def test_s10_sorted_layout_prunes_row_groups(spark, sf_dir):
    """The range-clustered copy must make most row groups prunable for the
    query's 3-month predicate: their footer min/max stats must not
    intersect [1995-06-01, 1995-09-01)."""
    import datetime
    import glob
    import os

    import pyarrow.parquet as pq

    from big_data_project_spark.sources.formats import sorted_lineitem_path

    out = sorted_lineitem_path(spark, sf_dir)
    lo = datetime.datetime(1995, 6, 1)
    hi = datetime.datetime(1995, 9, 1)
    total = overlapping = 0
    for f in glob.glob(os.path.join(out, "part-*.parquet")):
        meta = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(meta.num_columns)
            if meta.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            total += 1
            mn = st.min.replace(tzinfo=None)
            mx = st.max.replace(tzinfo=None)
            if mx >= lo and mn < hi:
                overlapping += 1
    assert total >= 8, f"expected multiple row groups, got {total}"
    # a 3-month slice of a ~7-year shipdate range: most groups must prune
    assert overlapping / total < 0.5, (overlapping, total)


def test_observed_metrics_single_pass(spark, sf_dir):
    """observe(): gate metrics materialize from the SAME action that
    computes the result — values must agree with independent recounts."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.plans.observe import observed_quality_gate

    gated, obs_in, obs_out = observed_quality_gate(spark, sf_dir)
    n_out = gated.count()  # the one action
    d = load_table(spark, sf_dir, "documents")
    assert obs_in.get["rows_in"] == d.count()
    assert obs_in.get["null_text"] == d.filter(F.col("text").isNull()).count()
    assert obs_out.get["rows_out"] == n_out
    assert obs_in.get["rows_in"] >= n_out
    assert obs_out.get["avg_len"] > 0


def test_s8_partition_upsert_touches_only_target_partition(spark, sf_dir):
    from big_data_project_spark.io import load_table
    from big_data_project_spark.registry import all_queries

    out = all_queries()["s8_partition_upsert"](spark, sf_dir).toPandas()
    base = (
        load_table(spark, sf_dir, "orders")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("order_month")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .toPandas()
        .set_index("order_month")
        .sort_index()
    )
    got = out.set_index("order_month").sort_index()
    first = base.index[0]
    # row counts identical everywhere; only the first month's sum doubled
    assert got["n"].equals(base["n"])
    assert abs(got.loc[first, "sum_price"] - 2 * base.loc[first, "sum_price"]) < 0.01
    rest_g, rest_b = got.drop(first), base.drop(first)
    assert (rest_g["sum_price"] - rest_b["sum_price"]).abs().max() < 0.01


def test_x7_minhash_pairs_subset_of_exact_ngram_pairs(spark, sf_dir):
    """Cross-algorithm consistency: the LSH-verified pairs (Jaccard >= 0.5)
    must be exactly the subset of the exact inverted-index pairs
    (threshold 0.3) at >= 0.5, with identical Jaccard values — two
    independent algorithms, one ground truth."""
    lsh = {(r.doc_a, r.doc_b): r.jaccard
           for r in Q["x7_minhash_neardup_pairs"](spark, sf_dir).collect()}
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in Q["x7_ngram_jaccard_pairs"](spark, sf_dir).collect()}
    exact_at_05 = {k: v for k, v in exact.items() if v >= 0.5}
    assert lsh == exact_at_05


def test_x8_embedding_dedup_partitions_id_space(spark, sf_dir):
    """Keep set + dropped set = all vec_ids, disjoint; every dropped vec
    has a >= 0.4-cosine partner with a smaller id that was kept or itself
    dropped for the same reason (greedy-by-id rule)."""
    from big_data_project_spark.io import load_table

    keep = {r.keep_vec_id for r in Q["x8_embedding_dedup_keep"](spark, sf_dir).collect()}
    all_ids = {r.vec_id for r in load_table(spark, sf_dir, "embeddings").select("vec_id").collect()}
    dropped = all_ids - keep
    assert keep | dropped == all_ids and not (keep & dropped)
    pairs = [(r.vec_a, r.vec_b)
             for r in Q["x8_cosine_pairs_threshold"](spark, sf_dir).collect()]
    with_smaller_partner = {b for a, b in pairs}
    assert dropped == with_smaller_partner & all_ids


def test_x8_tiled_broadcast_equals_single_block(spark, sf_dir):
    """The 100 TB path: forcing the B side into multiple vec_id-modulo
    blocks (block_rows far below the fixture size → ≥3 blocks) must give
    bit-identical results to the single-broadcast path, for both the
    threshold-pair kernel (union across blocks) and the kNN kernel
    (per-vector argmax reduce across blocks)."""
    from big_data_project_spark.pipeline.similarity import (
        x8_cosine_pairs_threshold, x8_knn_all,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    block_rows = max(1, n // 3)

    single = {tuple(r) for r in x8_cosine_pairs_threshold(spark, sf_dir).collect()}
    tiled = {
        tuple(r)
        for r in x8_cosine_pairs_threshold(spark, sf_dir, block_rows=block_rows).collect()
    }
    assert single == tiled and single

    single_knn = {tuple(r) for r in x8_knn_all(spark, sf_dir).collect()}
    tiled_knn = {
        tuple(r) for r in x8_knn_all(spark, sf_dir, block_rows=block_rows).collect()
    }
    assert single_knn == tiled_knn and len(single_knn) == n


def test_s3_binary_npz_scan_shapes_and_determinism(spark, sf_dir):
    """Rows-only invariant for the npz ingest: 4 shards × 8 patches with
    the synthesized 8×8×3 geometry, and bit-identical lst_mean values
    across two scans (the decode is deterministic)."""
    rows = Q["s3_binary_npz_scan"](spark, sf_dir).collect()
    assert len(rows) == 32
    assert {(r.h, r.w, r.bands) for r in rows} == {(8, 8, 3)}
    assert {r.shard for r in rows} == {f"shard_{i}.npz" for i in range(4)}
    again = Q["s3_binary_npz_scan"](spark, sf_dir).collect()
    key = lambda r: (r.shard, r.patch_idx)  # noqa: E731
    assert sorted(map(tuple, rows), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, again), key=lambda t: (t[0], t[1])
    )


def test_t4_watermark_batch_path_equals_tumbling(spark, sf_dir):
    """Rows-only invariant for T4's registry entry: in batch mode the
    watermark is a no-op, so the entry must emit exactly the tumbling
    counts (the real late-drop semantics are asserted with scripted
    micro-batches in tests/test_streaming.py)."""
    t4 = {tuple(r) for r in Q["t4_watermark_late_drop"](spark, sf_dir).collect()}
    t1 = {tuple(r) for r in Q["t1_tumbling_window"](spark, sf_dir).collect()}
    assert t4 == t1 and t4


def test_s15_zorder3_layout_prunes_all_three_dims(spark, sf_dir):
    """3-D Z-order row groups must be prunable on EVERY predicate column:
    for the half×half×half (partkey, suppkey, orderkey) region, a clear
    majority of row groups' footer stats must miss the region on at least
    one of the three dimensions."""
    import glob
    import os

    import pyarrow.parquet as pq

    from big_data_project_spark.io import load_table
    from big_data_project_spark.sources.formats import _Z3_COLS, zorder3_lineitem_path

    li = load_table(spark, sf_dir, "lineitem")
    maxes = li.agg(*[F.max(c) for c in _Z3_COLS]).first()
    cut = {c: m / 2.0 for c, m in zip(_Z3_COLS, maxes)}
    out = zorder3_lineitem_path(spark, sf_dir)
    total = overlapping = 0
    for f in glob.glob(os.path.join(out, "zoct=*", "part-*.parquet")):
        meta = pq.ParquetFile(f).metadata
        idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        }
        for rg in range(meta.num_row_groups):
            total += 1
            hits_all = all(
                meta.row_group(rg).column(idx[c]).statistics.min <= cut[c]
                for c in _Z3_COLS
            )
            overlapping += hits_all
    assert total >= 8, f"expected multiple row groups, got {total}"
    assert overlapping / total < 0.5, (overlapping, total)


def test_o9_tablesample_deterministic_and_bounded(spark, sf_dir):
    """TABLESAMPLE invariants: REPEATABLE(seed) is deterministic across
    runs, and the sampled total sits inside a generous binomial band
    around 10% of the source."""
    one = {(r.l_returnflag, r.n_sampled) for r in Q["o9_tablesample"](spark, sf_dir).collect()}
    two = {(r.l_returnflag, r.n_sampled) for r in Q["o9_tablesample"](spark, sf_dir).collect()}
    assert one == two and one
    from big_data_project_spark.io import load_table

    n_src = load_table(spark, sf_dir, "lineitem").count()
    n_sampled = sum(n for _, n in one)
    assert 0.05 * n_src < n_sampled < 0.15 * n_src, (n_sampled, n_src)


def test_x12_decontamination_partitions_training_docs(spark, sf_dir):
    """hits ∪ keep must be exactly the non-eval corpus, disjoint — a doc
    either leaks an 8-gram into the eval split or it is retained."""
    from big_data_project_spark.io import load_table

    hits = {r.doc_id for r in Q["x12_contamination_hits"](spark, sf_dir).collect()}
    keep = {r.doc_id for r in Q["x12_decontaminated_keep"](spark, sf_dir).collect()}
    train = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id")
        .collect()
    }
    assert not (hits & keep)
    assert hits | keep == train


def test_x9_repetition_stats_ratios_bounded(spark, sf_dir):
    """distinct_ratio and top_token_ratio live in (0, 1]; a doc's distinct
    count never exceeds its token count; vocab-prune conserves tokens."""
    rows = Q["x9_repetition_stats"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.distinct_ratio <= 1.0 and 0 < r.top_token_ratio <= 1.0
        assert r.n_distinct <= r.n_tokens
    prune = {r.doc_id: (r.n_kept, r.n_dropped)
             for r in Q["x9_vocab_prune"](spark, sf_dir).collect()}
    totals = {r.doc_id: r.n_tokens for r in rows}
    for doc_id, (kept, dropped) in prune.items():
        assert kept + dropped == totals[doc_id]


def test_a20_countmin_overestimates_within_bound(spark, sf_dir):
    """Count-min is one-sided: estimate >= exact always; with d=4 rows of
    w=64 buckets the min-of-rows overcount stays well under N/8 on this
    corpus."""
    rows = Q["a20_countmin_topk"](spark, sf_dir).collect()
    assert rows
    n_total = sum(r.exact_n for r in rows)  # lower bound on corpus tokens
    for r in rows:
        assert r.cms_estimate >= r.exact_n, (r.token, r.cms_estimate, r.exact_n)
        assert r.cms_estimate - r.exact_n <= n_total / 8


def test_s13_zorder_layout_prunes_both_dims(spark, sf_dir):
    """Z-order row groups must be prunable on BOTH predicate columns: for
    the quarter×quarter (partkey, suppkey) region, most row groups'
    footer stats miss the region on at least one dimension."""
    import glob
    import os

    import pyarrow.parquet as pq

    from big_data_project_spark.io import load_table
    from big_data_project_spark.sources.formats import zorder_lineitem_path

    li = load_table(spark, sf_dir, "lineitem")
    maxp, maxs = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    out = zorder_lineitem_path(spark, sf_dir)
    total = overlapping = 0
    for f in glob.glob(os.path.join(out, "part-*.parquet")):
        meta = pq.ParquetFile(f).metadata
        cols = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        }
        for rg in range(meta.num_row_groups):
            sp = meta.row_group(rg).column(cols["l_partkey"]).statistics
            ss = meta.row_group(rg).column(cols["l_suppkey"]).statistics
            total += 1
            if sp.min <= maxp / 4.0 and ss.min <= maxs / 4.0:
                overlapping += 1
    assert total >= 8, f"expected multiple row groups, got {total}"
    assert overlapping / total <= 0.5, (overlapping, total)


def test_x16_srp_lsh_rerank_is_exact_subset(spark, sf_dir):
    """SRP-LSH results must be a subset of the exact all-pairs ranking
    with EXACT similarities: every (query, neighbor, sim) it returns must
    carry the same rounded cosine the brute-force top-k computes, and its
    per-query sims can never exceed the exact top-1."""
    exact = {}
    for r in Q["x8_similarity_topk"](spark, sf_dir).collect():
        exact.setdefault(r.query_id, {})[r.neighbor_id] = r.sim
    lsh_rows = Q["x16_srp_lsh_ann_topk"](spark, sf_dir).collect()
    assert lsh_rows, "LSH returned no candidates at all"
    best_exact = {q: max(d.values()) for q, d in exact.items()}
    for r in lsh_rows:
        assert r.sim <= best_exact[r.query_id] + 1e-9
        if r.neighbor_id in exact.get(r.query_id, {}):
            assert abs(r.sim - exact[r.query_id][r.neighbor_id]) < 1e-9


def test_a21_hll_merge_matches_exact_within_bound(spark, sf_dir):
    """The merged sketch's estimate must be within HLL's error bound of
    the exact corpus-wide distinct-token count, and every per-source
    estimate within bound of its exact count (lgK=12 → ~1.6% rse; allow
    5%)."""
    from big_data_project_spark.io import load_table

    rows = {r.source: r.distinct_est for r in Q["a21_hll_merge"](spark, sf_dir).collect()}
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    exact_all = tok.select("token").distinct().count()
    assert abs(rows["ALL"] - exact_all) <= max(2, 0.05 * exact_all), (rows["ALL"], exact_all)
    exact_src = {r.source: r.n for r in
                 tok.groupBy("source").agg(F.countDistinct("token").alias("n")).collect()}
    for s, n in exact_src.items():
        assert abs(rows[s] - n) <= max(2, 0.05 * n), (s, rows[s], n)


def test_s14_python_datasource_parallel_and_deterministic(spark, sf_dir):
    """The custom Python DataSource must expose its partition fan-out to
    Spark (4 InputPartitions → 4 RDD partitions) and emit identical rows
    across repeated scans (per-partition seeded RNG)."""
    from big_data_project_spark.sources.python_ds import _register_source

    _register_source(spark)
    raw = spark.read.format("raster_patches").option("patches_per_partition", "16").load()
    assert raw.rdd.getNumPartitions() == 4
    assert raw.count() == 64
    a = sorted(map(tuple, Q["s14_python_datasource"](spark, sf_dir).collect()))
    b = sorted(map(tuple, Q["s14_python_datasource"](spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_x26_semdedup_keeps_superset_of_global_dedup(spark, sf_dir):
    """SemDeDup compares only within clusters, so every pair it finds is
    also a global pair: its loser set is a subset of the global dedup's,
    hence its kept set a superset of the global survivors."""
    sem_kept = {
        r.vec_id for r in Q["x26_semdedup"](spark, sf_dir).filter("kept").collect()
    }
    global_kept = {
        r.keep_vec_id for r in Q["x8_embedding_dedup_keep"](spark, sf_dir).collect()
    }
    assert global_kept <= sem_kept
    # and clusters partition the id space: every vector appears exactly once
    n_total = Q["x26_semdedup"](spark, sf_dir).count()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert n_total == n_vecs


def test_x24_redaction_leaves_no_pii(spark, sf_dir):
    """After the three redaction passes, no PII pattern may survive
    anywhere in the redacted text (checked on the tail window the query
    returns, which contains the synthesized contact line)."""
    from big_data_project_spark.pipeline.text import (
        _PII_EMAIL, _PII_IP, _PII_PHONE,
    )

    out = Q["x24_pii_redaction"](spark, sf_dir)
    leftovers = out.filter(
        F.regexp_count("redacted_tail", F.lit(_PII_EMAIL))
        + F.regexp_count("redacted_tail", F.lit(_PII_IP))
        + F.regexp_count("redacted_tail", F.lit(_PII_PHONE))
        > 0
    ).count()
    assert leftovers == 0
    # every doc carries the synthesized contact line → every category hit
    assert out.filter("n_emails >= 1 AND n_ips >= 1 AND n_phones >= 1").count() == out.count()


def test_spread_guard_branches(spark, sf_dir):
    """_spread's r19 guard (VERDICT r18 #5): the narrow branch repartitions
    a small fixture scan to cluster width; the wide branch (input size
    already >= defaultParallelism * maxPartitionBytes, i.e. the scan
    splits to at least cluster width by itself) returns the INPUT FRAME
    UNTOUCHED — same object, no exchange added — without compiling the
    physical plan or converting to an RDD (the probe reads the analyzed
    plan's statistics only)."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.dedup import _spread

    d = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # narrow branch: tiny fixture scan -> repartitioned to cluster width
    spread = _spread(d)
    assert spread is not d
    assert "RepartitionByExpression" in spread._jdf.queryExecution().logical().toString()
    assert spread.rdd.getNumPartitions() == par
    # wide branch: shrink maxPartitionBytes so the same scan counts as
    # already-wide -> identity, no repartition node
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        assert _spread(d) is d
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_replicated_minhash_scales_linearly(spark, sf_dir):
    """Scale demonstrator (VERDICT r04 #7): 4× corpus replication with
    salted shingles must yield ~4× the near-dup pairs — replicas share no
    shingles, so the replicated corpus is 4 independent copies and the
    band join's candidate set grows linearly, not quadratically.  The
    bound is ±1% (floor of 2 pairs) rather than exact: salting changes
    each replica's minhash signatures, so LSH recall on BORDERLINE pairs
    (jaccard right at the threshold) can differ per replica (observed:
    1023 vs 1024 at sf0.1 — ~0.1%); a looser bound would stop catching
    recall regressions in banding or salting."""
    from big_data_project_spark.pipeline.dedup import (
        replicated_neardup_pairs, verified_neardup_pairs,
    )

    base = verified_neardup_pairs(spark, sf_dir).count()
    x4 = replicated_neardup_pairs(spark, sf_dir, factor=4).count()
    assert base > 0 and abs(x4 - 4 * base) <= max(2, round(0.01 * 4 * base))


def test_replicated_bm25_scales_exactly(spark, sf_dir):
    """Retrieval scale demonstrator (VERDICT r05 #8): 4× verbatim corpus
    replication under remapped doc_ids must hit EXACTLY 4× the documents
    — replication is verbatim (no salting needed: nothing in BM25 is
    quadratic), so every replica of a term-hitting doc hits the same
    terms, and the postings volume the tf exchange carries grows exactly
    linearly.  Also pins that every replica of the 1× top doc appears in
    the replicated top-4 (N and avgdl scale together, so scores are
    preserved up to the idf's +0.5 smoothing)."""
    from big_data_project_spark.pipeline.text import (
        _bm25_doc_scores, replicated_bm25_topk,
    )
    from big_data_project_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    base_hits = _bm25_doc_scores(d).count()
    rep = replicated_bm25_topk(spark, sf_dir, factor=4)
    rep_hits = _bm25_doc_scores(
        load_table(spark, sf_dir, "documents")
        .crossJoin(spark.range(4).select(F.col("id").alias("r")))
        .select((F.col("doc_id") * 4 + F.col("r")).alias("doc_id"), "text")
    ).count()
    assert base_hits > 0 and rep_hits == 4 * base_hits
    top1 = _bm25_doc_scores(d).orderBy(F.col("bm25").desc(), "doc_id").first()
    rep_top = {r["doc_id"] for r in rep.limit(8).collect()}
    expect = {top1["doc_id"] * 4 + r for r in range(4)}
    assert expect <= rep_top, (sorted(rep_top), sorted(expect))


def test_kmeans_parallel_invariants(spark, sf_dir):
    """x40 (rows-only): k clusters, every vector assigned exactly once,
    and the trained cost beats the k=1 (global-mean) baseline — the
    invariant battery standing in for the DuckDB oracle that k-means||'s
    seeded RNG sampling makes impossible."""
    from pyspark.sql import functions as F

    from big_data_project_spark.pipeline.similarity import (
        _KMEANS_ML_K, x40_kmeans_parallel,
    )

    out = x40_kmeans_parallel(spark, sf_dir).collect()
    n_vectors = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(out) == _KMEANS_ML_K
    assert sum(r.n_members for r in out) == n_vectors
    cost = out[0].training_cost
    assert all(r.training_cost == cost for r in out)

    # k=1 baseline: sum of squared distances to the global mean
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    dim = len(e.first()["v"])
    mean = e.select(*[F.avg(F.element_at("v", i + 1)).alias(f"m{i}") for i in range(dim)]).first()
    sq = sum(
        (F.element_at("v", i + 1) - F.lit(mean[f"m{i}"])) ** 2 for i in range(dim)
    )
    k1_cost = e.select(F.sum(sq)).first()[0]
    assert cost < k1_cost


def test_star_contraction_on_long_chain(spark):
    """The property that justifies x43 over label propagation: a path
    graph of 64 nodes has diameter 63 — min-label propagation needs ~63
    rounds, star contraction must finish in O(log n).  All nodes must
    land in component 0."""
    from pyspark.sql import functions as F

    from big_data_project_spark.pipeline.dedup import star_contract

    chain = spark.range(63).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    labels, rounds = star_contract(chain, max_rounds=12)
    rows = labels.collect()
    assert len(rows) == 64
    assert all(r.cluster == 0 for r in rows)
    assert rounds <= 8, f"star contraction took {rounds} rounds on a 64-chain"


def test_star_contract_rejects_self_loops(spark):
    """The loop-free precondition fails LOUDLY (ADVICE r08): since the
    membership read-out derives from the canonical (loop-filtered) edge
    leaf, a self-loop-only node would silently vanish from the labels —
    the guard turns that into a ValueError at the checkpointed leaf,
    without re-executing the caller's pair pipeline."""
    from big_data_project_spark.pipeline.dedup import star_contract

    pairs = spark.createDataFrame([(1, 2), (3, 3)], "u long, v long")
    with pytest.raises(ValueError, match="loop-free"):
        star_contract(pairs)


# --- round-5 additions: structural invariants beyond the value oracles ------


def test_x51_pagerank_rank_properties(spark, sf_dir):
    """Top-25 PageRanks must be positive, non-increasing, each below the
    uniform-start upper bound regime (no node can exceed (1-d) + d = 1),
    and every reported node needs degree ≥ 1 (symmetric edges)."""
    rows = Q["x51_pagerank"](spark, sf_dir).collect()
    assert len(rows) == 25
    ranks = [r.pagerank for r in rows]
    assert all(0 < x < 1 for x in ranks)
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.degree >= 1 for r in rows)
    assert sum(ranks) < 1.0  # 25 of N nodes can't carry the whole mass


def test_s19_scd2_version_identity(spark, sf_dir):
    """SCD2 conservation laws: closed-v1 count == new-v2 count (every
    close pairs with an append), and current rows across versions ==
    the base dimension's key count (exactly one open row per key)."""
    from big_data_project_spark.io import load_table

    out = {(r.is_current, r.version): r.n_rows
           for r in Q["s19_scd2_merge"](spark, sf_dir).collect()}
    n_customers = load_table(spark, sf_dir, "customer").count()
    closed_v1 = out.get((False, 1), 0)
    current_v2 = out.get((True, 2), 0)
    current_v1 = out.get((True, 1), 0)
    assert closed_v1 == current_v2
    assert current_v1 + current_v2 == n_customers


def test_b5_ema_bounded_by_value_range(spark, sf_dir):
    """An EMA is a convex combination of observed values — per user it
    must land inside [min(value), max(value)]."""
    from big_data_project_spark.io import load_table

    ema = {r.user_id: r.ema for r in Q["b5_ema_smoothing"](spark, sf_dir).collect()}
    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert set(ema) == set(bounds)
    for uid, e in ema.items():
        lo, hi = bounds[uid]
        assert lo - 1e-6 <= e <= hi + 1e-6, (uid, e, lo, hi)


def test_x50_bm25_hits_and_ordering(spark, sf_dir):
    """Every returned doc matched ≥1 query term, scores are positive and
    non-increasing (Lucene idf variant is always > 0)."""
    rows = Q["x50_bm25_retrieval"](spark, sf_dir).collect()
    assert rows
    assert all(r.n_terms_hit >= 1 for r in rows)
    scores = [r.bm25 for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_t13_full_outer_partitions_into_t9_and_orphans(spark, sf_dir):
    """Batch-mode identity over the attribution family: the full-outer
    result must be exactly the inner matches (t9) plus each side's
    orphans, and its left-outer projection must agree with t12."""
    full = Q["t13_stream_stream_full_join"](spark, sf_dir)
    n_inner = Q["t9_stream_stream_join"](spark, sf_dir).count()
    n_left = Q["t12_stream_stream_left_join"](spark, sf_dir).count()
    counts = {r.outcome: r.n for r in
              full.groupBy("outcome").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("attributed", 0) == n_inner
    # t12 = attributed + unconverted views
    assert counts.get("attributed", 0) + counts.get("unconverted", 0) == n_left
    # organic = purchases with NO qualifying view — independently derived
    # from the purchase side (sum-of-groups == total is true by
    # construction and would never catch a dropped orphan row)
    from big_data_project_spark.io import load_table

    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    n_matched_purchases = (
        Q["t9_stream_stream_join"](spark, sf_dir)
        .select("purchase_id")
        .distinct()
        .count()
    )
    assert counts.get("organic", 0) == n_purchases - n_matched_purchases


def test_replicated_topk_expands_base_neighbors(spark, sf_dir):
    """Similarity scale demonstrator: 4× verbatim replication must
    return, per query, exactly the base top-k sims with each neighbor
    expanded into its 4 replicas and the list truncated to k — i.e. the
    multiset of sims is (s1 s1 s1 s1 s2) for base top-2 (s1, s2).
    Proves the replicated run exercises 4× the scan/score work without
    changing WHAT is retrieved — throughput scaling, not output drift."""
    from big_data_project_spark.pipeline.similarity import replicated_topk
    from big_data_project_spark.registry import all_queries

    base = all_queries()["x8_similarity_topk"](spark, sf_dir).collect()
    rep = replicated_topk(spark, sf_dir, factor=4).collect()
    assert len(rep) == len(base) == 50
    by_q_base: dict = {}
    for r in base:
        by_q_base.setdefault(r["query_id"], []).append(r["sim"])
    for qid, sims in by_q_base.items():
        top = sorted(sims, reverse=True)
        want = sorted((top[0],) * 4 + (top[1],), reverse=True)
        got = sorted(
            (r["sim"] for r in rep if r["query_id"] == qid * 4), reverse=True
        )
        assert got == want, (qid, got, want)


def test_replicated_gram_is_invariant(spark, sf_dir):
    """Linear-algebra scale demonstrator: the mean-scaled Gram of the
    corpus replicated 4x must equal the 1x Gram CELL-FOR-CELL
    ((4*sum)/(4*n) = sum/n at the 4-decimal parity rounding) — the
    replicated run does 4x the kernel matmul work while the d-bounded
    cell exchange and the answer stay fixed.  Throughput scaling with
    zero output drift, the strongest form of the x7/x50/x8 trend-line
    claims."""
    from big_data_project_spark.pipeline.similarity import replicated_gram
    from big_data_project_spark.registry import all_queries

    base = sorted(map(tuple, all_queries()["x59_embedding_gram"](spark, sf_dir).collect()))
    rep = sorted(map(tuple, replicated_gram(spark, sf_dir, factor=4).collect()))
    assert len(base) == 2080
    assert [r[:2] for r in rep] == [b[:2] for b in base]
    # cell values equal up to ONE 4-decimal rounding step, not bit-exact:
    # the 1x and 4x runs sum partition partials in different orders, so a
    # pre-round value within an ulp of a 0.00005 boundary may legally
    # round to the adjacent step (ADVICE r07).  In practice the +1e-9
    # nudge keeps sums off boundaries and the cells come back identical.
    assert all(abs(r[2] - b[2]) <= 1e-4 + 1e-12 for r, b in zip(rep, base))
    # ...and boundary flips must stay ISOLATED: a genuine sub-1e-4 kernel
    # regression shifts cells systematically, while rounding-order ulps
    # touch at most a handful of boundary-straddling cells (ADVICE r08).
    n_diff = sum(1 for r, b in zip(rep, base) if r[2] != b[2])
    assert n_diff < 0.01 * len(base), f"{n_diff}/{len(base)} cells drifted"


def test_pca_top2_extends_x61_and_orders_energy(spark, sf_dir):
    """x62's first component must be x61's projection verbatim (same
    rounded recurrence on the same checkpointed Gram — deflation only
    ADDS a component), and the leading direction must capture at least
    as much energy as the deflated one: mean(proj1²) ≥ mean(proj2²)
    (the Rayleigh-quotient ordering, up to the 4-decimal rounding)."""
    x61 = {r.vec_id: r.proj for r in Q["x61_pca_project"](spark, sf_dir).collect()}
    rows = Q["x62_pca_top2"](spark, sf_dir).collect()
    assert len(rows) == len(x61) > 0
    # same one-rounding-step tolerance as test_replicated_gram_is_invariant:
    # the two invocations run the Gram kernel separately, and partition
    # partials summing in a different order may flip a 4-decimal boundary
    for r in rows:
        assert abs(r.proj1 - x61[r.vec_id]) <= 1e-4 + 1e-12, (
            r.vec_id, r.proj1, x61[r.vec_id])
    e1 = sum(r.proj1 ** 2 for r in rows) / len(rows)
    e2 = sum(r.proj2 ** 2 for r in rows) / len(rows)
    assert e1 >= e2 - 1e-4, (e1, e2)


def test_x64_triangles_match_bruteforce(spark, sf_dir):
    """The degree-ordered oriented wedge count must equal the canonical
    id-ordered brute-force 3-way edge join (every triangle found once,
    none invented — the orientation is pure bookkeeping), and each
    reported node's triangle count is bounded by its wedge capacity
    C(degree, 2).  When the top-20 limit doesn't bind, per-node credits
    must sum to exactly 3× the global count (each triangle credits all
    three vertices)."""
    from big_data_project_spark.pipeline.graph import (
        _cooccurrence_edges, _tri_frames, triangle_counts_per_node,
    )

    tri_n = _tri_frames(spark, sf_dir)[0].count()
    p = _cooccurrence_edges(spark, sf_dir)
    p1, p2, p3 = p.alias("p1"), p.alias("p2"), p.alias("p3")
    brute = (
        p1.join(p2, (F.col("p2.u") == F.col("p1.u")) & (F.col("p1.v") < F.col("p2.v")))
        .join(p3, (F.col("p3.u") == F.col("p1.v")) & (F.col("p3.v") == F.col("p2.v")))
        .count()
    )
    assert tri_n == brute and tri_n > 0
    rows = Q["x64_triangle_count"](spark, sf_dir).collect()
    assert all(r.triangles <= r.degree * (r.degree - 1) // 2 for r in rows)
    # the 3T identity over ALL nodes THROUGH the query's own
    # explode/aggregate/join path (the unlimited builder behind x64 —
    # recounting from the tri frame directly would be a tautology and
    # the top-20 limit would hide a miscrediting aggregation)
    try:
        full = triangle_counts_per_node(spark, sf_dir).collect()
        assert sum(r.triangles for r in full) == 3 * tri_n
        assert len({r.part_key for r in full}) == len(full)  # one row per node
    finally:
        spark.catalog.clearCache()


def test_x64_orientation_tames_star_hub_skew(spark):
    """The scale claim behind x64: on a hub-and-spoke graph (one node
    adjacent to all n−1 others — the power-law worst case), the degree
    orientation must point every hub edge INTO the hub, so the hub's
    oriented out-degree is 0 and every leaf's is ≤ 2: the wedge stream
    stays Σ outdeg² = O(n), never the hub's C(n−1, 2) ≈ 80k wedges.
    Count correctness on the same graph: each leaf-leaf cross edge
    closes exactly one triangle through the hub, nothing else."""
    from big_data_project_spark.pipeline.graph import _orient, triangles_of_edges

    n = 400
    hub = [(0, i) for i in range(1, n)]
    cross = [(2 * k, 2 * k + 1) for k in range(1, 40)]  # 39 leaf-leaf edges
    edges = spark.createDataFrame(hub + cross, "u long, v long")
    try:
        tri, deg = triangles_of_edges(edges)
        rows = tri.collect()
        assert len(rows) == 39
        assert all(0 in (r.a, r.b, r.c) for r in rows)  # all go through the hub
        deg_map = {r.node: r.degree for r in deg.collect()}
        assert deg_map[0] == n - 1  # raw hub degree IS the worst case
        outdeg = {
            r.src: r.od
            for r in _orient(edges, deg).groupBy("src").agg(F.count(F.lit(1)).alias("od")).collect()
        }
        assert 0 not in outdeg  # hub emits ZERO oriented edges
        assert max(outdeg.values()) <= 2  # leaves: ≤1 hub edge + ≤1 cross edge
    finally:
        # persisted frames must not leak into the shared session on an
        # assertion failure (ADVICE r08)
        spark.catalog.clearCache()


def test_lpa_communities_parity_both_tiers(spark):
    """Sync label propagation (registered r09 as `x65_lpa_communities`):
    the unrolled-CTE oracle must hash-match at BOTH fixture tiers — the
    exact check the driver runs on the registered slot.  All-integer
    output, so parity is definitional."""
    from big_data_project_spark.pipeline.graph import _LPA_ORACLE, lpa_communities
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            res = compare("lpa_communities", lpa_communities(spark, sf), con, _LPA_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            assert res.spark_rows > 1  # real cluster structure, not one blob
        finally:
            spark.catalog.clearCache()


def test_lpa_converges_on_bridged_triangles(spark):
    """Deterministic sync-LPA semantics on a hand-simulable graph: two
    triangles {1,2,3} and {5,6,7} joined by one bridge edge 3–5 must end
    as exactly two communities split at the bridge after 3 rounds (the
    (max count, min label) tie-break propagates 1 through the left
    triangle and 3 — carried over the bridge in round 1 — through the
    right one; hand-traced round by round)."""
    from big_data_project_spark.pipeline.graph import _lpa_step

    und = [(1, 2), (1, 3), (2, 3), (5, 6), (5, 7), (6, 7), (3, 5)]
    sym = und + [(v, u) for u, v in und]
    edges = spark.createDataFrame(sym, "u long, v long")
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(3):
        labels = _lpa_step(edges, labels)
    got = {r.node: r.lbl for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 3, 6: 3, 7: 3}


def test_domain_router_parity_both_tiers(spark):
    """Domain routing census (registered r09 as `x66_domain_router`
    alongside lpa_communities's x65):
    the oracle must hash-match at BOTH fixture tiers,
    every doc must route somewhere (the keyword lists cover the fixture
    vocabulary), and the census must partition the corpus exactly —
    Σ n_docs = |documents|."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.quality import (
        _DOMAIN_ORACLE, domain_route_counts,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        con = duckdb_connect(sf)
        df = domain_route_counts(spark, sf)
        res = compare("domain_route_counts", df, con, _DOMAIN_ORACLE)
        assert res.ok, (sf, res.detail, res.mismatches[:3])
        rows = df.collect()
        assert len(rows) >= 4  # a real mixture, not one catch-all bucket
        n_docs = load_table(spark, sf, "documents").count()
        assert sum(r.n_docs for r in rows) == n_docs


def test_x67_ppr_parity_both_tiers(spark):
    """Weighted personalized PageRank (registered r09): the unrolled-CTE
    oracle must hash-match at BOTH fixture tiers — rank floats quantize
    to 10 decimals per iteration on both engines (the x51 convention),
    so the 6-decimal output parity is exact, not probabilistic."""
    from big_data_project_spark.registry import ORACLES, all_queries
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    q = all_queries()["x67_personalized_pagerank"]
    sql = ORACLES["x67_personalized_pagerank"]
    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            res = compare("x67_ppr", q(spark, sf), con, sql)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            assert res.spark_rows > 0
        finally:
            spark.catalog.clearCache()


def test_x67_ppr_is_brand_conditioned(spark, sf_dir):
    """Personalization must actually condition the ranking: every rank is
    positive, part_keys are unique, ranks are non-increasing in output
    order, seeds exist in the top-25 (teleport re-injects (1-d)/|S| at
    every seed each round — at d=0.85 over a pruned graph that keeps
    seeds near the top), the is_seed flag agrees with the brand dim, and
    NON-seeds also appear (mass genuinely propagates off the seed set
    through weighted edges — at sf0.01 the top node is a non-seed,
    a low-out-weight neighbor of seeds that concentrates their mass)."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.graph import _PPR_SEED_BRAND
    from big_data_project_spark.registry import all_queries

    try:
        rows = all_queries()["x67_personalized_pagerank"](spark, sf_dir).collect()
        assert 0 < len(rows) <= 25
        assert all(r.ppr > 0 for r in rows)
        assert len({r.part_key for r in rows}) == len(rows)
        assert all(a.ppr >= b.ppr for a, b in zip(rows, rows[1:]))
        brand_keys = {
            r.p_partkey
            for r in load_table(spark, sf_dir, "part")
            .filter(F.col("p_brand") == _PPR_SEED_BRAND)
            .select("p_partkey")
            .collect()
        }
        for r in rows:
            assert r.is_seed == int(r.part_key in brand_keys), r
        seeds = [r for r in rows if r.is_seed]
        non_seeds = [r for r in rows if not r.is_seed]
        assert seeds, "teleport set absent from its own top-25"
        assert non_seeds, "mass never propagated off the seed set"
    finally:
        spark.catalog.clearCache()


def test_khop_bfs_parity_both_tiers(spark):
    """Delta-frontier BFS census (prepped for the r10 window, not yet
    registered — the x65/x66 pattern): the unrolled-CTE oracle must
    hash-match at BOTH fixture tiers, layer 0 must be exactly the seed
    set, distances must be contiguous from 0, and the census must never
    exceed the graph's node count."""
    from big_data_project_spark.pipeline.graph import (
        _BFS_ORACLE, _copurchase_weighted_edges, khop_bfs_distances,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = khop_bfs_distances(spark, sf)
            res = compare("khop_bfs", df, con, _BFS_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            rows = df.collect()
            assert [r.dist for r in rows] == list(range(len(rows)))
            assert rows[0].n_nodes > 0  # seeds exist in the graph
            n_nodes = (
                _copurchase_weighted_edges(spark, sf)
                .select("u").distinct().count()
            )
            assert sum(r.n_nodes for r in rows) <= n_nodes
        finally:
            spark.catalog.clearCache()


def test_adamic_adar_parity_and_bruteforce(spark):
    """Adamic-Adar link prediction (prepped for the r10 window): the
    oracle must hash-match at BOTH fixture tiers, and at sf0.001 the
    top-20 must agree with an independent driver-side brute force over
    the (200-node) pruned graph — every returned pair non-adjacent,
    score = Σ 1/ln(deg) over its common neighbors within 1e-6, and no
    excluded pair scoring above the returned minimum."""
    import math

    from big_data_project_spark.pipeline.graph import (
        _AA_ORACLE, _copurchase_weighted_edges, adamic_adar_links,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            res = compare(
                "adamic_adar", adamic_adar_links(spark, sf), con, _AA_ORACLE
            )
            assert res.ok, (sf, res.detail, res.mismatches[:3])
        finally:
            spark.catalog.clearCache()
    try:
        got = adamic_adar_links(spark, SF_DIR).collect()
        sym = _copurchase_weighted_edges(spark, SF_DIR).collect()
        adj: dict[int, set[int]] = {}
        for r in sym:
            adj.setdefault(r.u, set()).add(r.v)
        brute = {}
        nodes = sorted(adj)
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if b in adj[a]:
                    continue
                common = adj[a] & adj[b]
                if common:
                    brute[(a, b)] = sum(1 / math.log(len(adj[z])) for z in common)
        assert got, "pruned fixture graph should yield AA candidates"
        for r in got:
            assert r.part_b not in adj[r.part_a]  # genuinely non-adjacent
            assert r.common_neighbors == len(adj[r.part_a] & adj[r.part_b])
            assert abs(r.aa_score - brute[(r.part_a, r.part_b)]) < 1e-6
        floor = min(r.aa_score for r in got)
        missed = [p for p, s in brute.items() if s > floor + 1e-6
                  and p not in {(r.part_a, r.part_b) for r in got}]
        assert not missed, f"brute force outranks returned top-20: {missed[:3]}"
    finally:
        spark.catalog.clearCache()


def test_kcore_census_parity_and_bruteforce(spark):
    """k-core peel census (prepped for a future window, the x68/x69
    pattern): the unrolled-CTE oracle must hash-match at BOTH fixture
    tiers; the census must cover every graph node exactly once; the
    threshold must equal (9·|directed edges|) div (10·|V|); and at the
    sf0.01 tier the whole census must agree with an independent
    driver-side Python peel of the pruned graph."""
    from big_data_project_spark.pipeline.graph import (
        _KCORE_ORACLE, _KCORE_ROUNDS, _copurchase_weighted_edges, kcore_census,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = kcore_census(spark, sf)
            res = compare("kcore_census", df, con, _KCORE_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            rows = df.collect()
            sym = _copurchase_weighted_edges(spark, sf).collect()
            adj: dict[int, set[int]] = {}
            for e in sym:
                adj.setdefault(e.u, set()).add(e.v)
            assert sum(r.n_nodes for r in rows) == len(adj)
            k = (9 * len(sym)) // (10 * len(adj))
            assert all(r.k_threshold == k for r in rows)
        finally:
            spark.catalog.clearCache()
    # independent brute force at the loop's last tier (rows/adj/k in scope)
    alive = set(adj)
    expected_round = {}
    for r in range(1, _KCORE_ROUNDS + 1):
        nxt = {u for u in alive if len(adj[u] & alive) >= k}
        for u in alive - nxt:
            expected_round[u] = r
        alive = nxt
    expected_round.update({u: 0 for u in alive})
    by_round: dict[int, list[int]] = {}
    for node, r in expected_round.items():
        by_round.setdefault(r, []).append(node)
    expected = sorted(
        (r, len(ns), min(ns), max(ns), k) for r, ns in by_round.items()
    )
    got = sorted(
        (r.peel_round, r.n_nodes, r.min_node, r.max_node, r.k_threshold)
        for r in rows
    )
    assert got == expected


def test_zipf_slope_parity_and_bruteforce(spark):
    """Zipf bigram rank-frequency fit (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers; the top-N cap must
    engage (n_fit = min(cap, n_vocab)); and the fitted
    slope/intercept/R² must agree with an independent driver-side
    closed-form least squares over the Python-counted bigram table."""
    import math

    from big_data_project_spark.pipeline.text import (
        _ZIPF_MAX_RANK, _ZIPF_ORACLE, zipf_slope_fit,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect
    from big_data_project_spark.io import load_table

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = zipf_slope_fit(spark, sf)
            res = compare("zipf_slope", df, con, _ZIPF_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            row = df.collect()[0]
            assert row.n_fit == min(_ZIPF_MAX_RANK, row.n_vocab)
            assert row.zipf_slope < 0  # frequency falls with rank
            assert 0 < row.fit_r2 <= 1
            # driver-side brute force: count bigrams in Python, rank,
            # closed-form OLS on (ln rank, ln freq)
            docs = load_table(spark, sf, "documents").select("text").collect()
            counts: dict[str, int] = {}
            for d in docs:
                w = [t for t in d.text.lower().split(" ")]
                for a, b in zip(w, w[1:]):
                    if a and b:
                        g = a + " " + b
                        counts[g] = counts.get(g, 0) + 1
            assert row.n_vocab == len(counts)
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            top = top[:_ZIPF_MAX_RANK]
            xs = [math.log(i + 1) for i in range(len(top))]
            ys = [math.log(n) for _, n in top]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            sxx = sum((x - mx) ** 2 for x in xs)
            sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
            syy = sum((y - my) ** 2 for y in ys)
            slope = sxy / sxx
            intercept = my - slope * mx
            r2 = sxy * sxy / (sxx * syy)
            assert abs(row.zipf_slope - slope) < 1e-3, (row.zipf_slope, slope)
            assert abs(row.zipf_intercept - intercept) < 1e-3
            assert abs(row.fit_r2 - r2) < 1e-3
        finally:
            spark.catalog.clearCache()


def test_levenshtein_verified_pairs_parity_and_bruteforce(spark):
    """Edit-distance dedup verification (prepped for a future window):
    the length-pruned n² oracle must hash-match the LSH-candidate path
    at BOTH fixture tiers (LSH recall 1 on the bimodal fixture — the
    x7 pattern), and every returned pair's edit distance must agree
    with an independent driver-side DP Levenshtein over the capped
    prefixes."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.dedup import (
        _LEV_CAP, _LEV_ORACLE, _LEV_SIM_THRESHOLD, levenshtein_verified_pairs,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    def dp_lev(s: str, t: str) -> int:
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = levenshtein_verified_pairs(spark, sf)
            res = compare("lev_pairs", df, con, _LEV_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = df.collect()
            assert got, "fixture should contain edit-near-dup pairs"
            texts = {
                r.doc_id: r.text[:_LEV_CAP]
                for r in load_table(spark, sf, "documents").collect()
            }
            for r in got:
                lev = dp_lev(texts[r.doc_a], texts[r.doc_b])
                assert r.edit_distance == lev, (r.doc_a, r.doc_b, lev)
                mx = max(len(texts[r.doc_a]), len(texts[r.doc_b]))
                sim = 1.0 - lev / mx
                assert sim >= _LEV_SIM_THRESHOLD
                assert abs(r.edit_sim - sim) < 1e-3
        finally:
            spark.catalog.clearCache()


def test_replicated_pagerank_copy_symmetry_and_quarter_scale(spark, sf_dir):
    """The x51_pagerank_x4 bench demonstrator's correctness invariant:
    over ``factor`` DISJOINT graph copies, every copy must compute the
    IDENTICAL per-copy rank values (same 10-decimal rounded recurrence
    in each copy), and each must equal the 1× run's value scaled by
    1/factor to within the accumulated seed-rounding slack (the seed is
    round(1/(factor·N)) rather than round(1/N)/factor)."""
    from big_data_project_spark.pipeline.graph import (
        _REP_OFFSET, pagerank_ranks_deep, replicated_pagerank_ranks,
    )

    try:
        factor = 2
        rep = replicated_pagerank_ranks(spark, sf_dir, factor).collect()
        by_copy: dict[int, dict[int, float]] = {}
        for r in rep:
            by_copy.setdefault(r.node_id // _REP_OFFSET, {})[
                r.node_id % _REP_OFFSET
            ] = r.r
        assert sorted(by_copy) == list(range(factor))
        assert by_copy[0] == by_copy[1]  # exact: same rounded recurrence
        one = {
            r.node_id: r.r
            for r in pagerank_ranks_deep(
                spark, sf_dir, iters=3, checkpoint_every=None
            ).collect()
        }
        assert set(one) == set(by_copy[0])
        for node, r in by_copy[0].items():
            assert abs(r * factor - one[node]) < 1e-6, (node, r, one[node])
    finally:
        spark.catalog.clearCache()


def test_hits_parity_and_bruteforce(spark):
    """HITS hubs/authorities (prepped for a future window): the
    unrolled-CTE oracle must hash-match at BOTH fixture tiers; the
    authority vector must be a probability distribution (sum 1 at the
    10-decimal quantization); and the full score vectors must agree
    with an independent driver-side Python HITS using the same
    sum-normalized, 10-decimal-rounded half-steps."""
    from big_data_project_spark.pipeline.graph import (
        _HITS_ITERS, _HITS_ORACLE, hits_authorities, hits_scores,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            res = compare("hits", hits_authorities(spark, sf), con, _HITS_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
        finally:
            spark.catalog.clearCache()
    try:
        hubs, auths, pairs = hits_scores(spark, SF_DIR)
        got_h = {r.cust: r.h for r in hubs.collect()}
        got_a = {r.supp: r.a for r in auths.collect()}
        edges = [(r.cust, r.supp) for r in pairs.collect()]
        assert abs(sum(got_a.values()) - 1.0) < 1e-6
        assert abs(sum(got_h.values()) - 1.0) < 1e-6
        assert all(v > 0 for v in got_a.values())
        # independent Python HITS with the same quantized recurrence
        h = {c: 1.0 for c, _ in edges}
        for _ in range(_HITS_ITERS):
            a_raw: dict[int, float] = {}
            for c, s in edges:
                a_raw[s] = a_raw.get(s, 0.0) + h[c]
            t = max(sum(a_raw.values()), 1e-4)
            a = {s: round(v / t + 1e-12, 10) for s, v in a_raw.items()}
            h_raw: dict[int, float] = {}
            for c, s in edges:
                h_raw[c] = h_raw.get(c, 0.0) + a[s]
            t = max(sum(h_raw.values()), 1e-4)
            h = {c: round(v / t + 1e-12, 10) for c, v in h_raw.items()}
        assert set(got_a) == set(a) and set(got_h) == set(h)
        assert all(abs(got_a[s] - a[s]) < 1e-9 for s in a)
        assert all(abs(got_h[c] - h[c]) < 1e-9 for c in h)
    finally:
        spark.catalog.clearCache()


def test_winnow_overlap_parity_bruteforce_and_hot_cap(spark):
    """Winnowing overlap report (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers; the full top-20 must
    agree with an independent driver-side Python winnow + pair count;
    and the df hot-fingerprint cap must actually drop a synthetic
    boilerplate fingerprint shared by more than _WIN_MAX_DF docs."""
    import hashlib

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.dedup import (
        _WIN_MAX_DF, _WIN_SHARED_MIN, _WIN_W, _WINNOW_ORACLE,
        winnow_fingerprints, winnow_overlap_pairs,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    K, P = 3, 1_000_000_007

    def py_winnow(text: str) -> set:
        w = text.split(" ")
        if len(w) < K + _WIN_W - 1:
            return set()
        kg = [" ".join(w[j:j + K]) for j in range(len(w) - K + 1)]
        h = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % P for g in kg]
        return {min(h[j:j + _WIN_W]) for j in range(len(h) - _WIN_W + 1)}

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = winnow_overlap_pairs(spark, sf)
            res = compare("winnow", df, con, _WINNOW_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = [(r.doc_a, r.doc_b, r.shared_fp, r.fp_a, r.fp_b)
                   for r in df.collect()]
            fps = {r.doc_id: py_winnow(r.text)
                   for r in load_table(spark, sf, "documents").collect()}
            fps = {d: s for d, s in fps.items() if s}
            df_count: dict[int, int] = {}
            for s in fps.values():
                for f in s:
                    df_count[f] = df_count.get(f, 0) + 1
            hot = {f for f, c in df_count.items() if c > _WIN_MAX_DF}
            assert not hot  # fixture max df is single digits
            docs = sorted(fps)
            pairs = []
            for i, da in enumerate(docs):
                for db in docs[i + 1:]:
                    sh = len(fps[da] & fps[db])
                    if sh >= _WIN_SHARED_MIN:
                        pairs.append((da, db, sh, len(fps[da]), len(fps[db])))
            pairs.sort(key=lambda p: (-p[2], p[0], p[1]))
            assert got == pairs[:20]
        finally:
            spark.catalog.clearCache()
    # hot-fingerprint cap: one boilerplate sentence shared by many docs
    # must NOT produce pairs once its fingerprints exceed the df cap
    try:
        boiler = " ".join(f"w{i}" for i in range(_WIN_W + K - 1))
        n_docs = _WIN_MAX_DF + 5
        rows = [(i, boiler) for i in range(n_docs)]
        df = spark.createDataFrame(rows, schema="doc_id long, text string")
        fp = winnow_fingerprints(df).persist()
        from pyspark.sql import functions as F

        keep = (
            fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _WIN_MAX_DF).select("fp")
        )
        assert fp.count() > 0 and keep.count() == 0
    finally:
        spark.catalog.clearCache()


def test_cdc_census_parity_bruteforce_and_shift_robustness(spark):
    """CDC chunk-dedup census (prepped for a future window): the oracle
    must hash-match at BOTH fixture tiers; the census must agree with
    an independent driver-side Python chunk count; and the defining
    CDC property must hold — prepending one token to a document
    re-chunks only the neighbourhood of the insertion (every chunk
    beyond the first boundary is IDENTICAL), where fixed-size blocking
    would shift every block."""
    import hashlib

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.dedup import (
        _CDC_D, _CDC_MIN_REPORT, _CDC_ORACLE, cdc_chunks, cdc_dedup_census,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    K, P = 3, 1_000_000_007

    def py_chunks(text: str) -> list:
        w = text.split(" ")
        if len(w) < K:
            return [text]
        h = [int(hashlib.md5(" ".join(w[j:j + K]).encode()).hexdigest()[:15],
                 16) % P for j in range(len(w) - K + 1)]
        bounds = [1] + [j + 2 for j, v in enumerate(h) if v % _CDC_D == 0] \
            + [len(w) + 1]
        return [" ".join(w[s - 1:e - 1]) for s, e in zip(bounds, bounds[1:])]

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = cdc_dedup_census(spark, sf)
            res = compare("cdc_census", df, con, _CDC_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = [(r.chash, r.n_occurrences, r.n_docs, r.tok_len)
                   for r in df.collect()]
            occ: dict[str, int] = {}
            docs_of: dict[str, set] = {}
            for r in load_table(spark, sf, "documents").collect():
                for c in py_chunks(r.text):
                    if len(c.split(" ")) < _CDC_MIN_REPORT:
                        continue
                    occ[c] = occ.get(c, 0) + 1
                    docs_of.setdefault(c, set()).add(r.doc_id)
            rows = [
                (int(hashlib.md5(c.encode()).hexdigest()[:15], 16) % P,
                 n, len(docs_of[c]), len(c.split(" ")))
                for c, n in occ.items()
            ]
            rows.sort(key=lambda t: (-t[1], t[0]))
            assert got == rows[:20]
            assert got[0][1] > 1  # the fixture has real duplicated segments
        finally:
            spark.catalog.clearCache()
    # boundary-shift robustness on a real fixture doc
    try:
        text = load_table(spark, SF_DIR, "documents").first().text
        rows2 = [(0, text), (1, "zzz " + text)]
        df2 = spark.createDataFrame(rows2, schema="doc_id long, text string")
        got2: dict[int, list] = {0: [], 1: []}
        for r in cdc_chunks(df2).collect():
            got2[r.doc_id].append(r.chunk)
        base, shifted = set(got2[0]), set(got2[1])
        # everything after the first boundary re-aligns: at most the
        # leading chunk differs on each side
        assert len(base - shifted) <= 1 and len(shifted - base) <= 1
    finally:
        spark.catalog.clearCache()


def test_textrank_parity_and_bruteforce(spark):
    """TextRank keywords (prepped for a future window): the unrolled-CTE
    oracle must hash-match at BOTH fixture tiers; the rank vector must
    be a probability distribution; and the full vector must agree with
    an independent driver-side Python TextRank running the same
    quantized recurrence."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.text import (
        _TEXTRANK_ORACLE, _TR_DAMP, _TR_ITERS, textrank_keywords,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            res = compare(
                "textrank", textrank_keywords(spark, sf), con, _TEXTRANK_ORACLE
            )
            assert res.ok, (sf, res.detail, res.mismatches[:3])
        finally:
            spark.catalog.clearCache()
    try:
        got = {r.word: r.textrank
               for r in textrank_keywords(spark, SF_DIR).collect()}
        # python reference with the same 10-decimal quantized recurrence
        wt: dict[tuple, int] = {}
        for r in load_table(spark, SF_DIR, "documents").collect():
            w = r.text.lower().split(" ")
            for a, b in zip(w, w[1:]):
                if a and b and a != b:
                    k = (min(a, b), max(a, b))
                    wt[k] = wt.get(k, 0) + 1
        edges: dict[str, dict[str, int]] = {}
        for (a, b), c in wt.items():
            edges.setdefault(a, {})[b] = c
            edges.setdefault(b, {})[a] = c
        wout = {u: sum(nb.values()) for u, nb in edges.items()}
        n = len(wout)
        rank = {u: round(1.0 / n + 1e-12, 10) for u in wout}
        for _ in range(_TR_ITERS):
            contrib: dict[str, float] = {}
            for u, nb in edges.items():
                for v, c in nb.items():
                    contrib[v] = contrib.get(v, 0.0) + rank[u] * c / wout[u]
            rank = {v: round((1 - _TR_DAMP) / n + _TR_DAMP * s + 1e-12, 10)
                    for v, s in contrib.items()}
        assert abs(sum(rank.values()) - 1.0) < 1e-4
        top = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:len(got)]
        for w, r in top:
            assert abs(got[w] - r) < 1e-6, (w, got[w], r)
    finally:
        spark.catalog.clearCache()


def test_assortativity_parity_and_bruteforce(spark):
    """Degree assortativity (prepped for a future window): the oracle
    must hash-match at BOTH fixture tiers, and the statistic must agree
    with an independent driver-side Pearson correlation over the
    Python-built degree-annotated edge list."""
    import math

    from big_data_project_spark.pipeline.graph import (
        _ASSORT_ORACLE, _copurchase_weighted_edges, degree_assortativity,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = degree_assortativity(spark, sf)
            res = compare("assort", df, con, _ASSORT_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            row = df.collect()[0]
            sym = _copurchase_weighted_edges(spark, sf).collect()
            adj: dict[int, set[int]] = {}
            for e in sym:
                adj.setdefault(e.u, set()).add(e.v)
            deg = {u: len(s) for u, s in adj.items()}
            xs = [deg[e.u] for e in sym]
            ys = [deg[e.v] for e in sym]
            n = len(xs)
            mx, my = sum(xs) / n, sum(ys) / n
            sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
            sxx = sum((x - mx) ** 2 for x in xs)
            syy = sum((y - my) ** 2 for y in ys)
            r = sxy / math.sqrt(sxx * syy)
            assert abs(row.assortativity - r) < 1e-3, (row.assortativity, r)
            assert row.n_nodes == len(deg)
            assert row.n_edges == n // 2
            assert row.max_degree == max(deg.values())
        finally:
            spark.catalog.clearCache()


def test_hash_stratified_sample_parity_brute_and_stability(spark):
    """Hash-deterministic stratified sampling (prepped for a future
    window): the oracle must hash-match at BOTH fixture tiers; the
    selection must agree with an independent driver-side md5-ordered
    Python sampler (exact rows, ranks, and floored proportional
    quotas); and the defining property must hold — the selected set is
    IDENTICAL under a different partitioning of the input (hash order
    is a property of the data, not the execution)."""
    import hashlib

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.quality import (
        _STRAT_BUDGET, _STRAT_ORACLE, hash_stratified_sample,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = hash_stratified_sample(spark, sf)
            res = compare("strat_sample", df, con, _STRAT_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = [(r.lang, r.doc_id, r.sample_rank, r.quota)
                   for r in df.collect()]
            docs = [(r.lang, r.doc_id)
                    for r in load_table(spark, sf, "documents")
                    .select("lang", "doc_id").collect()]
            n = len(docs)
            by_lang: dict[str, list] = {}
            for lang, doc in docs:
                by_lang.setdefault(lang, []).append(doc)
            expected = []
            for lang in sorted(by_lang):
                quota = (_STRAT_BUDGET * len(by_lang[lang])) // n
                order = sorted(
                    by_lang[lang],
                    key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d),
                )
                expected += [(lang, d, i + 1, quota)
                             for i, d in enumerate(order[:quota])]
            assert sorted(got) == sorted(expected)
            assert 0 < len(got) <= _STRAT_BUDGET  # flooring never overshoots
        finally:
            spark.catalog.clearCache()
    # partition-stability: same selection from a repartitioned scan
    try:
        from pyspark.sql import functions as F

        base = hash_stratified_sample(spark, SF_DIR).collect()
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        try:
            again = hash_stratified_sample(spark, SF_DIR).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert sorted(map(tuple, base)) == sorted(map(tuple, again))
    finally:
        spark.catalog.clearCache()


def test_gravity_trending_parity_brute_and_divergence(spark):
    """Gravity-decayed trending (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers; the top-20 must agree
    with an independent driver-side Python computation of
    Σ 1/(Δdays+2)²; and the ranking must genuinely diverge from plain
    event counts (recency reorders — the operator's reason to exist)."""
    import datetime as dt

    from big_data_project_spark.io import load_table
    from big_data_project_spark.operators.behavior import (
        _TREND_ORACLE, _TREND_REF, gravity_trending_users,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    ref = dt.date.fromisoformat(_TREND_REF)
    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = gravity_trending_users(spark, sf)
            res = compare("trend", df, con, _TREND_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = [(r.user_id, r.gravity_score, r.n_events, r.n_recent)
                   for r in df.collect()]
            score: dict[int, float] = {}
            count: dict[int, int] = {}
            for r in load_table(spark, sf, "events").select("user_id", "ts").collect():
                dd = max((ref - r.ts.date()).days, 0)
                score[r.user_id] = score.get(r.user_id, 0.0) + 1.0 / ((dd + 2) ** 2)
                count[r.user_id] = count.get(r.user_id, 0) + 1
            top = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
            assert [u for u, _ in top] == [g[0] for g in got]
            for (u, s), g in zip(top, got):
                assert abs(g[1] - s) < 1e-5, (u, g[1], s)
                assert g[2] == count[u]
            by_score = [g[0] for g in got]
            by_count = sorted(by_score, key=lambda u: (-count[u], u))
            assert by_score != by_count, "gravity never reordered vs counts"
        finally:
            spark.catalog.clearCache()


def test_ahash_banded_pairs_parity_and_bruteforce(spark):
    """Banded perceptual aHash pairs (prepped for a future window): the
    band-for-band oracle must hash-match at BOTH fixture tiers, and the
    whole pipeline — 64-cell hash, 8×8-bit banding, candidate union,
    hamming verify — must agree with an independent driver-side numpy/
    pure-Python implementation."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.multimodal import (
        _AHASH_MAX_HAMMING, _AHASH_ORACLE, ahash_near_dup_pairs,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    import numpy as np

    def ah(b: bytes) -> str:
        n = len(b)
        if n == 0:
            return "0" * 64
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        idx = (np.arange(n) * 64) // n
        sums = np.bincount(idx, weights=arr, minlength=64)
        counts = np.bincount(idx, minlength=64)
        means = sums / np.maximum(counts, 1)
        g = arr.sum() / n
        return "".join("1" if m > g else "0" for m in means)

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = ahash_near_dup_pairs(spark, sf)
            res = compare("ahash_pairs", df, con, _AHASH_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = [(r.doc_a, r.doc_b, r.hamming) for r in df.collect()]
            H = {r.doc_id: ah(r.text.encode())
                 for r in load_table(spark, sf, "documents").collect()}
            buckets: dict[tuple, list] = {}
            for d in sorted(H):
                for bi in range(8):
                    buckets.setdefault((bi, H[d][bi * 8:(bi + 1) * 8]), []).append(d)
            cand = set()
            for v in buckets.values():
                for i in range(len(v)):
                    for j in range(i + 1, len(v)):
                        cand.add((v[i], v[j]))
            expected = sorted(
                (a, b, sum(x != y for x, y in zip(H[a], H[b])))
                for a, b in cand
                if sum(x != y for x, y in zip(H[a], H[b])) <= _AHASH_MAX_HAMMING
            )
            assert sorted(got) == expected
            assert got, "fixture should contain perceptual near-dup pairs"
        finally:
            spark.catalog.clearCache()


def test_ngram_novelty_parity_and_bruteforce(spark):
    """Corpus-level n-gram novelty (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers, and every document's
    (n_grams, n_unique, gate) must agree with an independent
    driver-side Python df computation over the same distinct-3-gram
    sets."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.text import (
        _NOVELTY_GATE, _NOVELTY_ORACLE, ngram_novelty_scores,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = ngram_novelty_scores(spark, sf)
            res = compare("novelty", df, con, _NOVELTY_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = {r.doc_id: (r.n_grams, r.n_unique, r.passes_novelty)
                   for r in df.collect()}
            grams: dict[int, set] = {}
            for r in load_table(spark, sf, "documents").collect():
                w = r.text.split(" ")
                if len(w) < 3:
                    continue
                grams[r.doc_id] = {" ".join(w[i:i + 3])
                                   for i in range(len(w) - 2)}
            df_count: dict[str, int] = {}
            for s in grams.values():
                for g in s:
                    df_count[g] = df_count.get(g, 0) + 1
            assert set(got) == set(grams)
            for d, s in grams.items():
                uniq = sum(1 for g in s if df_count[g] == 1)
                gate = int(uniq / len(s) >= _NOVELTY_GATE)
                assert got[d] == (len(s), uniq, gate), (d, got[d])
            # the score must actually separate the corpus (not all-0/all-1)
            gates = {v[2] for v in got.values()}
            assert gates == {0, 1}
        finally:
            spark.catalog.clearCache()


def test_phrase_search_parity_and_bruteforce(spark):
    """Positional phrase search (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers, and the top-20 must
    agree with an independent driver-side Python scan counting adjacent
    occurrences of the query phrase."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.text import (
        _PHRASE, _PHRASE_ORACLE, phrase_search,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = phrase_search(spark, sf)
            res = compare("phrase", df, con, _PHRASE_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = [(r.doc_id, r.n_matches, r.n_tokens) for r in df.collect()]
            counts = {}
            toklen = {}
            for r in load_table(spark, sf, "documents").collect():
                w = r.text.lower().split(" ")
                n = sum(1 for a, b in zip(w, w[1:])
                        if (a, b) == _PHRASE)
                toklen[r.doc_id] = len(w)
                if n:
                    counts[r.doc_id] = n
            expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
            assert got == [(d, n, toklen[d]) for d, n in expected]
            assert got, "fixture should contain the query phrase"
            if sf == SF_DIR:
                # the sf0.001 tier has multi-occurrence docs; sf0.01's
                # max is 1 (measured) — assert only where it holds
                assert got[0][1] >= 2
        finally:
            spark.catalog.clearCache()


def test_benford_audit_parity_and_bruteforce(spark):
    """Benford first-digit audit (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers; every digit row must
    agree with an independent driver-side census; shares must sum to 1;
    and the fixture's deviation must be MATERIAL (TPC-H prices are
    banded-uniform, not Benford — measuring that gap is the audit's
    purpose)."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.operators.aggregates import (
        _BENFORD_ORACLE, _BENFORD_PCT, benford_digit_audit,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = benford_digit_audit(spark, sf)
            res = compare("benford", df, con, _BENFORD_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            rows = {r.digit: r for r in df.collect()}
            import math

            counts: dict[int, int] = {}
            for r in load_table(spark, sf, "lineitem").select(
                "l_extendedprice"
            ).collect():
                d = int(str(int(math.floor(r.l_extendedprice)))[0])
                counts[d] = counts.get(d, 0) + 1
            total = sum(counts.values())
            assert set(rows) == set(counts)
            for d, n in counts.items():
                assert rows[d].n == n
                assert abs(rows[d].obs_pct - n / total) < 1e-3
                assert rows[d].benford_pct == _BENFORD_PCT[d]
            assert abs(sum(r.obs_pct for r in rows.values()) - 1.0) < 1e-2
            assert max(r.abs_dev for r in rows.values()) > 0.05  # material
        finally:
            spark.catalog.clearCache()


def test_silhouette_parity_and_bruteforce(spark):
    """Simplified silhouette (prepped for a future window): the oracle
    must hash-match at BOTH fixture tiers; cluster sizes must cover the
    corpus; every silhouette must lie in [-1, 1]; and the per-cluster
    means must agree with an independent driver-side numpy
    implementation of the same rounded pipeline."""
    import numpy as np

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import (
        _SILHOUETTE_ORACLE, silhouette_by_cluster,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = silhouette_by_cluster(spark, sf)
            res = compare("silhouette", df, con, _SILHOUETTE_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            rows = {r.bucket: r for r in df.collect()}
            e = load_table(spark, sf, "embeddings").collect()
            assert sum(r.n_vectors for r in rows.values()) == len(e)
            assert all(-1 <= r.min_silhouette <= r.mean_silhouette <= 1
                       for r in rows.values())
            # numpy reference with the same rounding conventions
            by_label: dict[int, list] = {}
            for r in e:
                by_label.setdefault(r.label, []).append(np.array(r.embedding))
            cents = {l: np.mean(v, axis=0) for l, v in by_label.items()}
            cids = sorted(cents)

            def cos(u, v):
                return round(float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))
                             + 1e-9, 4)

            agg: dict[int, list] = {}
            for r in e:
                v = np.array(r.embedding)
                sims = {c: cos(v, cents[c]) for c in cids}
                best = max(sims.values())
                bucket = min(c for c in cids if sims[c] == best)
                other = max(s for c, s in sims.items() if c != bucket)
                a, b = 1.0 - best, 1.0 - other
                s = round((b - a) / max(max(a, b), 1e-4) + 1e-9, 4)
                agg.setdefault(bucket, []).append(s)
            for bucket, ss in agg.items():
                assert rows[bucket].n_vectors == len(ss)
                assert abs(rows[bucket].mean_silhouette
                           - (sum(ss) / len(ss))) < 1e-3
                assert abs(rows[bucket].min_silhouette - min(ss)) < 1e-9
        finally:
            spark.catalog.clearCache()


def test_mutual_nn_parity_and_bruteforce(spark):
    """Mutual 1-NN pairs (prepped for a future window): the oracle must
    hash-match at BOTH fixture tiers, and the pair set must agree with
    an independent driver-side numpy 1-NN computation with the same
    rounded-sim/smallest-id tie-break — including the defining
    asymmetry check: one-way nearest pairs that are NOT mutual must be
    absent."""
    import numpy as np

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import (
        _MUTUAL_ORACLE, mutual_nn_pairs,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = mutual_nn_pairs(spark, sf)
            res = compare("mutual_nn", df, con, _MUTUAL_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            got = {(r.vec_a, r.vec_b) for r in df.collect()}
            rows = load_table(spark, sf, "embeddings").collect()
            ids = np.array([r.vec_id for r in rows])
            mat = np.array([r.embedding for r in rows], dtype=float)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(mat @ mat.T + 1e-9, 4)
            np.fill_diagonal(sims, -np.inf)
            order = np.argsort(ids)
            assert (ids == ids[order]).all()  # fixture ids are sorted
            nn = {}
            for i, vid in enumerate(ids):
                best = sims[i].max()
                cand = ids[sims[i] == best]
                nn[vid] = int(cand.min())  # smallest-id tie-break
            expected = {(a, b) for a, b in nn.items()
                        if a < b and nn[b] == a}
            assert got == expected
            one_way = {(min(a, b), max(a, b)) for a, b in nn.items()
                       if nn[nn[a]] != a for b in [nn[a]]}
            assert got.isdisjoint(one_way)
            assert got, "fixture should contain mutual pairs"
        finally:
            spark.catalog.clearCache()


def test_node2vec_transition_parity_and_bruteforce(spark):
    """node2vec transition census (prepped for a future window): the
    oracle must hash-match at BOTH fixture tiers, and the per-class
    counts/weights/mean-probabilities must agree with an independent
    driver-side pure-Python second-order walk-bias computation over the
    same pruned co-purchase edge list."""
    from big_data_project_spark.pipeline.graph import (
        _N2V_INV_P, _N2V_INV_Q, _N2V_ORACLE,
        _copurchase_weighted_edges, node2vec_transition_census,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = node2vec_transition_census(spark, sf)
            res = compare("node2vec", df, con, _N2V_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
        finally:
            spark.catalog.clearCache()
    # brute force at the small tier only (wedge work is quadratic)
    try:
        edges = {
            (r.u, r.v): r.w
            for r in _copurchase_weighted_edges(
                spark, SF_DIR, keep_weight=True
            ).collect()
        }
        adj = {}
        for (u, v), w in edges.items():
            adj.setdefault(u, {})[v] = w
        agg = {}
        for t, nbrs in adj.items():
            for mid in nbrs:
                raw = {}
                for nv, w_uv in adj[mid].items():
                    if nv == t:
                        cls, alpha = "return", _N2V_INV_P
                    elif (t, nv) in edges:
                        cls, alpha = "triangle", 1.0
                    else:
                        cls, alpha = "explore", _N2V_INV_Q
                    raw[nv] = (cls, w_uv, w_uv * alpha)
                denom = sum(x for _, _, x in raw.values())
                for cls, w_uv, x in raw.values():
                    n, sw, ps = agg.get(cls, (0, 0, 0.0))
                    agg[cls] = (n + 1, sw + w_uv, ps + x / denom)
        got = {
            r.bias_class: (r.n_transitions, r.sum_weight, r.mean_prob)
            for r in node2vec_transition_census(spark, SF_DIR).collect()
        }
        assert set(got) == {"return", "triangle", "explore"}
        for cls, (n, sw, ps) in agg.items():
            gn, gsw, gmp = got[cls]
            assert (gn, gsw) == (n, sw), cls
            assert abs(gmp - ps / n) < 1e-5, cls
        # every (t, mid) context contributes exactly one return row
        n_contexts = sum(len(nbrs) for nbrs in adj.values())
        assert got["return"][0] == n_contexts
    finally:
        spark.catalog.clearCache()


def _replay_walks(adj):
    """Pure-Python third implementation of the deterministic walk corpus
    (hashlib md5, same argmin pick; one walk of ``_DW_STEPS`` hops per
    adjacency key) → {wid: [node at pos 0..STEPS]}.  Factored from
    ``_replay_walk_census`` (r14) so x91's replay can read the corpus
    twice (pair census + node-visit frequencies) while the walk recipe
    keeps exactly one definition per engine: ``_dw_walk_visits``
    (Spark), ``_walk_ctes`` (DuckDB oracle), and this replay."""
    import hashlib

    from big_data_project_spark.pipeline.graph import _DW_STEPS

    walks = {}
    for wid in adj:
        node, seq = wid, [wid]
        for k in range(1, _DW_STEPS + 1):
            node = min(
                adj[node],
                key=lambda v: (
                    hashlib.md5(f"{wid}:{k}:{v}".encode()).hexdigest(), v
                ),
            )
            seq.append(node)
        walks[wid] = seq
    return walks


def _replay_walk_census(adj):
    """Skip-gram pair census over the ``_replay_walks`` corpus, shared
    by the x86, x89, and x91 replay tests."""
    from collections import Counter

    from big_data_project_spark.pipeline.graph import _DW_WINDOW

    census: Counter = Counter()
    for seq in _replay_walks(adj).values():
        for i in range(len(seq)):
            for j in range(i + 1, min(i + _DW_WINDOW, len(seq) - 1) + 1):
                if seq[i] != seq[j]:
                    census[(min(seq[i], seq[j]), max(seq[i], seq[j]))] += 1
    return census


def test_deepwalk_pairs_parity_and_replay(spark):
    """DeepWalk positive pairs (prepped for a future window): the oracle
    must hash-match at BOTH fixture tiers, and the full walk corpus must
    replay EXACTLY in pure Python (hashlib md5, same argmin pick) at the
    small tier — including the derived pair census, not just the top
    20."""
    from big_data_project_spark.pipeline.graph import (
        _DW_ORACLE, _copurchase_weighted_edges, deepwalk_positive_pairs,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = deepwalk_positive_pairs(spark, sf)
            res = compare("deepwalk", df, con, _DW_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
        finally:
            spark.catalog.clearCache()
    try:
        adj = {}
        for r in _copurchase_weighted_edges(spark, SF_DIR).collect():
            adj.setdefault(r.u, []).append(r.v)
        census = _replay_walk_census(adj)
        expected = sorted(
            ((-n, a, b) for (a, b), n in census.items())
        )[:20]
        got = [
            (-r.n_cooc, r.node_a, r.node_b)
            for r in deepwalk_positive_pairs(spark, SF_DIR).collect()
        ]
        assert got == expected
        assert got, "fixture walks should produce pairs"
    finally:
        spark.catalog.clearCache()


def test_knn_graph_walks_chain_parity_and_replay(spark):
    """x89 (ANN-graph → walk-corpus chain): the oracle must hash-match
    at BOTH fixture tiers, and at the small tier the walk census must
    replay EXACTLY in pure Python over the SAME final k-NN frame the
    x88 replay test verifies — walks, window pairs, AND the
    is_knn_edge annotation.  The whole body runs under
    ``session.scope``: each chain run localCheckpoints the
    NN-descent round frames, and clearCache() alone would leak those
    blocks into the shared session for the rest of the suite."""
    from big_data_project_spark import registry
    from big_data_project_spark.pipeline.graph import knn_graph_walk_pairs
    from big_data_project_spark.pipeline.similarity import _nnd_round_frames
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    registry.load()
    oracle = registry.ORACLES["x89_knn_graph_walks"]
    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = knn_graph_walk_pairs(spark, sf)
            res = compare("x89_knn_graph_walks", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])

    with scope(spark):
        _, rounds = _nnd_round_frames(spark, SF_DIR)
        kedges = {(r.a, r.b) for r in rounds[-1].collect()}
        adj: dict[int, set[int]] = {}
        for a, b in kedges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        census = _replay_walk_census(adj)
        undirected = {(min(a, b), max(a, b)) for a, b in kedges}
        expected = [
            (a, b, -neg, int((a, b) in undirected))
            for neg, a, b in sorted(
                (-n, a, b) for (a, b), n in census.items()
            )[:20]
        ]
        got = [
            (r.node_a, r.node_b, r.n_cooc, r.is_knn_edge)
            for r in knn_graph_walk_pairs(spark, SF_DIR).collect()
        ]
        assert got == expected
        assert got, "fixture walks should produce pairs"
        # the chain's value proposition: walks surface co-occurrence
        # pairs BEYOND the direct ANN edges (window-2 hops)
        assert any(p not in undirected for p in census), (
            "walk mining added nothing over the raw k-NN edge set"
        )


def test_skipgram_batch_parity_and_replay(spark):
    """x91 (skip-gram training batch): oracle parity at BOTH tiers, then
    a full-chain pure-Python replay at the small tier — walks (shared
    ``_replay_walks``), pair census, top-``_SG_BATCH`` selection,
    node-visit frequencies, the smoothed cumulative-interval table, the
    md5-uniform draws, and the interval inversion — so the composed
    operator has a third implementation from the definition, not just
    the CTE mirror.  Also asserts the batch invariants a trainer relies
    on: exactly K negatives per positive pair, and every negative drawn
    from the vocabulary table."""
    from big_data_project_spark import registry
    from big_data_project_spark.pipeline.graph import (
        _SG_BATCH, _SG_NEG_K, _copurchase_weighted_edges,
        skipgram_training_batch,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    registry.load()
    oracle = registry.ORACLES["x91_skipgram_batches"]
    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = skipgram_training_batch(spark, sf)
            res = compare("x91_skipgram_batches", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
        finally:
            spark.catalog.clearCache()

    try:
        adj: dict[int, list[int]] = {}
        for r in _copurchase_weighted_edges(spark, SF_DIR).collect():
            adj.setdefault(r.u, []).append(r.v)
        census = _replay_walk_census(adj)
        pairs, draws, table_nodes = _replay_sg_batch(adj)
        expected = {(c, p, n, j, neg) for c, p, n, j, neg in draws}
        got = {
            (r.center, r.pos, r.n_cooc, r.j, r.neg)
            for r in skipgram_training_batch(spark, SF_DIR).collect()
        }
        assert got == expected
        assert len(got) == min(_SG_BATCH, len(census)) * _SG_NEG_K
        assert {neg for *_, neg in got} <= table_nodes
    finally:
        spark.catalog.clearCache()


def _replay_sg_batch(adj):
    """Pure-Python replay of x91's batch construction over a replayed
    walk corpus: top-``_SG_BATCH`` census pairs, node-visit
    frequencies, the count^0.75-smoothed cumulative-interval table, and
    the md5-uniform negative draws.  Returns (pairs, draws,
    table_nodes) with pairs = [(center, pos, n_cooc)], draws =
    [(center, pos, n_cooc, j, neg)].  Factored from the x91 replay
    test (r15) so x92's SGD-step replay consumes the SAME rebuilt
    batch instead of a second copy of the recipe."""
    import hashlib
    import math
    from collections import Counter

    from big_data_project_spark.pipeline.graph import (
        _SG_BATCH, _SG_NEG_K, _SG_NEG_VOCAB,
    )

    walks = _replay_walks(adj)
    census = _replay_walk_census(adj)
    pairs = [
        (a, b, -negn)
        for negn, a, b in sorted(((-n, a, b) for (a, b), n in census.items()))[
            :_SG_BATCH
        ]
    ]

    visits: Counter = Counter()
    for seq in walks.values():
        visits.update(seq)
    vocab = sorted(visits.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab = vocab[:_SG_NEG_VOCAB]
    weights = [math.sqrt(n * math.sqrt(n)) for _, n in vocab]
    tot = sum(weights)
    cum_hi, run = [], 0.0
    for w in weights:
        run += w
        cum_hi.append(round(run / tot + 1e-9, 6))
    cum_lo = [0.0] + cum_hi[:-1]

    draws = []
    for a, b, n in pairs:
        for j in range(1, _SG_NEG_K + 1):
            h = hashlib.md5(f"{a}:{b}:{j}".encode()).hexdigest()
            u = (int(h[:15], 16) % 1_000_000) / 1_000_000.0
            (neg,) = [
                node
                for (node, _), lo, hi in zip(vocab, cum_lo, cum_hi)
                if lo <= u < hi
            ]
            draws.append((a, b, n, j, neg))
    return pairs, draws, {node for node, _ in vocab}


def test_sgns_train_step_parity_and_replay(spark):
    """x92 (one SGNS SGD step over x91's batch): oracle parity at BOTH
    tiers, then a full-chain pure-Python replay at the small tier —
    the rebuilt batch (shared ``_replay_sg_batch``), the md5 vector
    init, the per-example dot + clamped sigmoid, BOTH gradient folds
    with draw multiplicity, and the rounded SGD update — every value
    compared EXACTLY, so the training step has a third implementation
    from the SGNS definition (Mikolov 2013), not just the CTE mirror.
    Also asserts the trainer-facing invariants: two full matrices
    (2 sides × vocab × _SG_DIM rows), every center-role node moved in
    v_in, and v1 = v0 wherever the gradient is zero."""
    from big_data_project_spark import registry
    from big_data_project_spark.pipeline.graph import _SG_DIM, sgns_train_step
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    registry.load()
    oracle = registry.ORACLES["x92_sgns_train_step"]
    # session.scope, not bare clearCache: _sgns_inputs/_sgns_step
    # localCheckpoint, and those RDD blocks would otherwise leak into the
    # shared session fixture for the rest of the suite.
    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = sgns_train_step(spark, sf)
            res = compare("x92_sgns_train_step", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])

    with scope(spark):
        ex, nodes, vin, vout = _replay_sgns_setup(spark)
        ginr, goutr, vin1, vout1 = _replay_sgns_step(ex, vin, vout)

        expected = set()
        for side, vecs, grads, upd in (
            ("in", vin, ginr, vin1),
            ("out", vout, goutr, vout1),
        ):
            for key, v0 in vecs.items():
                expected.add(
                    (side, *key, v0, grads.get(key, 0.0), upd[key])
                )

        got = {
            (r.side, r.node, r.k, r.v0, r.grad, r.v1)
            for r in sgns_train_step(spark, SF_DIR).collect()
        }
        assert got == expected
        assert len(got) == 2 * len(nodes) * _SG_DIM

        # trainer-facing invariants
        centers = {c for c, _, _ in ex}
        moved_in = {n for (s, n, _k, v0, _g, v1) in got if s == "in" and v1 != v0}
        assert moved_in == {
            n for n in centers
            if any(ginr.get((n, k), 0.0) != 0.0 for k in range(_SG_DIM))
        }
        for s, n, k, v0, g, v1 in got:
            if g == 0.0:
                assert v1 == v0, (s, n, k)


def _replay_sgns_setup(spark):
    """Pure-Python SGNS inputs over the replayed batch (mirror of
    ``_sgns_inputs``): the weighted example Counter, the vocabulary,
    and the two md5-initialized matrices as {(node, k): v} dicts.
    Shared by the x92 and x93 replay tests (r15)."""
    import hashlib
    from collections import Counter

    from big_data_project_spark.pipeline.graph import (
        _SG_DIM, _SG_INIT_SCALE, _copurchase_weighted_edges,
    )
    from tests.conftest import SF_DIR

    adj: dict[int, list[int]] = {}
    for r in _copurchase_weighted_edges(spark, SF_DIR).collect():
        adj.setdefault(r.u, []).append(r.v)
    pairs, draws, _ = _replay_sg_batch(adj)

    ex: Counter = Counter()
    for c, p, _n in pairs:
        ex[(c, p, 1.0)] += 1
    for c, _p, _n, _j, neg in draws:
        ex[(c, neg, 0.0)] += 1
    nodes = sorted({c for c, _, _ in ex} | {x for _, x, _ in ex})

    def init(side, node, k):
        h = hashlib.md5(f"{side}:{node}:{k}".encode()).hexdigest()
        u = (int(h[:15], 16) % 2_000_000) / 1_000_000.0 - 1.0
        return round(u * _SG_INIT_SCALE + 1e-9, 6)

    vin = {(n, k): init("i", n, k) for n in nodes for k in range(_SG_DIM)}
    vout = {(n, k): init("o", n, k) for n in nodes for k in range(_SG_DIM)}
    return ex, nodes, vin, vout


def _replay_sgns_grads(ex, vin, vout):
    """Pure-Python mirror of ``_sgns_grads`` alone: the two 6-dp
    multiplicity-weighted gradient folds as {(node, k): grad} dicts
    (present only for keys that received any contribution).  THE one
    replay-tier gradient definition — shared by the SGD step
    (``_replay_sgns_step``) and the Adam step
    (``_replay_sgns_adam_epoch``)."""
    import math

    from big_data_project_spark.pipeline.graph import _SG_CLAMP, _SG_DIM

    gin: dict = {}
    gout: dict = {}
    for (c, x, label), cnt in ex.items():
        dot = round(
            sum(vin[c, k] * vout[x, k] for k in range(_SG_DIM)) + 1e-9, 6
        )
        dc = max(min(dot, _SG_CLAMP), -_SG_CLAMP)
        g = round(1.0 / (1.0 + math.exp(-dc)) + 1e-9, 6) - label
        for k in range(_SG_DIM):
            gin[c, k] = gin.get((c, k), 0.0) + cnt * g * vout[x, k]
            gout[x, k] = gout.get((x, k), 0.0) + cnt * g * vin[c, k]
    ginr = {key: round(v + 1e-9, 6) for key, v in gin.items()}
    goutr = {key: round(v + 1e-9, 6) for key, v in gout.items()}
    return ginr, goutr


def _replay_sgns_step(ex, vin, vout):
    """Pure-Python mirror of ONE ``_sgns_grads`` + ``_sgns_step``
    round: returns (gin, gout, vin1, vout1) with the gradients from
    the shared ``_replay_sgns_grads`` and the matrices updated per the
    10-dp rule.  Shared by the x92 (one call) and x93 (two calls)
    replay tests."""
    from big_data_project_spark.pipeline.graph import _SG_LR

    ginr, goutr = _replay_sgns_grads(ex, vin, vout)
    vin1 = {
        key: round(v - _SG_LR * ginr.get(key, 0.0) + 1e-12, 10)
        for key, v in vin.items()
    }
    vout1 = {
        key: round(v - _SG_LR * goutr.get(key, 0.0) + 1e-12, 10)
        for key, v in vout.items()
    }
    return ginr, goutr, vin1, vout1


def test_sgns_epoch_parity_replay_and_trajectory(spark):
    """x93 (2-step SGNS epoch; prepped r15, registered r16 as the
    round's sanctioned stretch): oracle parity at BOTH tiers via a
    direct compare, a pure-Python replay applying the shared step
    function TWICE (step 2's gradients over step 1's updated matrices —
    the trajectory, not a closed form), and the consistency contract
    with x92: the epoch's (v0, v1) columns must equal the registered
    single-step query's output exactly."""
    from big_data_project_spark.pipeline.graph import (
        _SG_DIM, _sgns_epoch_oracle, sgns_train_epoch, sgns_train_step,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    oracle = _sgns_epoch_oracle()
    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = sgns_train_epoch(spark, sf)
            res = compare("x93_sgns_train_epoch", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])

    with scope(spark):
        ex, nodes, vin, vout = _replay_sgns_setup(spark)
        _gi1, _go1, vin1, vout1 = _replay_sgns_step(ex, vin, vout)
        _gi2, _go2, vin2, vout2 = _replay_sgns_step(ex, vin1, vout1)

        expected = set()
        for side, m0, m1, m2 in (
            ("in", vin, vin1, vin2),
            ("out", vout, vout1, vout2),
        ):
            for key, v0 in m0.items():
                expected.add((side, *key, v0, m1[key], m2[key]))

        rows = sgns_train_epoch(spark, SF_DIR).collect()
        got = {(r.side, r.node, r.k, r.v0, r.v1, r.v2) for r in rows}
        assert got == expected
        assert len(got) == 2 * len(nodes) * _SG_DIM

        # x92 consistency: the epoch's first step IS the registered step
        step_rows = {
            (r.side, r.node, r.k, r.v0, r.v1)
            for r in sgns_train_step(spark, SF_DIR).collect()
        }
        assert {(s, n, k, v0, v1) for s, n, k, v0, v1, _ in got} == step_rows

        # the epoch actually trains: some vector moves in BOTH steps,
        # and no step-2 update without a step-1 update on the in side
        assert any(v1 != v0 and v2 != v1 for _, _, _, v0, v1, v2 in got)


def _replay_sgns_metrics(ex, vin, vout):
    """Pure-Python mirror of ``_sgns_metrics_row`` over one pair of
    replay matrices: (n_examples, loss, accuracy) from the Mikolov
    2013 objective — multiplicity-weighted mean binary cross-entropy
    on the 6-dp clamped sigmoid, accuracy via the exact ``dot > 0``
    decision — every rounding point the engine recipe's."""
    import math

    from big_data_project_spark.pipeline.graph import _SG_CLAMP, _SG_DIM

    tot, loss_sum, ok = 0, 0.0, 0
    for (c, x, label), cnt in ex.items():
        dot = round(
            sum(vin[c, k] * vout[x, k] for k in range(_SG_DIM)) + 1e-9, 6
        )
        dc = max(min(dot, _SG_CLAMP), -_SG_CLAMP)
        sig = round(1.0 / (1.0 + math.exp(-dc)) + 1e-9, 6)
        lex = round(
            -(label * math.log(sig) + (1.0 - label) * math.log(1.0 - sig))
            + 1e-9,
            6,
        )
        tot += cnt
        loss_sum += cnt * lex
        ok += cnt * (1 if (dot > 0) == (label == 1.0) else 0)
    return tot, round(loss_sum / tot + 1e-9, 6), round(ok / tot + 1e-9, 6)


def test_sgns_epoch_metrics_parity_replay_and_descent(spark):
    """x94 (per-step epoch metrics; prepped r16, registered r17):
    oracle parity at BOTH tiers via a direct compare, a pure-Python
    replay of loss/accuracy at every evaluation point over the shared
    replay trajectory, and the claim the query exists to verify: the
    loss STRICTLY DESCENDS across the epoch — the reference's
    ``epoch_loss`` bookkeeping (flax_model.py:246-253) with the
    descent now oracle-checkable, not just property-tested."""
    from big_data_project_spark.pipeline.graph import (
        _sgns_metrics_oracle, sgns_epoch_metrics,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    oracle = _sgns_metrics_oracle()
    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = sgns_epoch_metrics(spark, sf)
            res = compare("x94_sgns_epoch_metrics", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])

    with scope(spark):
        ex, _nodes, vin, vout = _replay_sgns_setup(spark)
        traj = [(vin, vout)]
        for _ in range(2):
            _gi, _go, nvin, nvout = _replay_sgns_step(ex, *traj[-1])
            traj.append((nvin, nvout))
        expected = [
            (i, *_replay_sgns_metrics(ex, m_in, m_out))
            for i, (m_in, m_out) in enumerate(traj)
        ]

        rows = sgns_epoch_metrics(spark, SF_DIR).collect()
        got = [(r.step, r.n_examples, r.loss, r.accuracy) for r in rows]
        assert got == expected

        # the oracle-verified descent trajectory: strictly falling loss
        losses = [loss for _, _, loss, _ in got]
        assert all(a > b for a, b in zip(losses, losses[1:])), losses
        # constant batch size across evaluation points (the reference
        # scores the same examples it trains on within an epoch)
        assert len({n for _, n, _, _ in got}) == 1


def _replay_sgns_adam_epoch(ex, vin, vout, steps=2):
    """Pure-Python mirror of ``sgns_adam_epoch``: gradients via the
    shared ``_replay_sgns_grads``, then the bias-corrected Adam
    moment/update recipe at every rounding point the engines use.
    Returns (w_trajectories, m, s) per side as {(node, k): ...}
    dicts: trajectories are lists [w0..wN]."""
    import math

    from big_data_project_spark.pipeline.graph import (
        _ADAM_B1, _ADAM_B2, _ADAM_EPS, _SG_LR,
    )

    w_in, w_out = dict(vin), dict(vout)
    m_in = dict.fromkeys(w_in, 0.0)
    s_in = dict.fromkeys(w_in, 0.0)
    m_out = dict.fromkeys(w_out, 0.0)
    s_out = dict.fromkeys(w_out, 0.0)
    traj_in = {key: [w] for key, w in w_in.items()}
    traj_out = {key: [w] for key, w in w_out.items()}
    for t in range(1, steps + 1):
        gi, go = _replay_sgns_grads(ex, w_in, w_out)
        bc1, bc2 = 1.0 - _ADAM_B1**t, 1.0 - _ADAM_B2**t
        for w, m, s, g, traj in (
            (w_in, m_in, s_in, gi, traj_in),
            (w_out, m_out, s_out, go, traj_out),
        ):
            for key in w:
                gv = g.get(key, 0.0)
                m[key] = round(
                    _ADAM_B1 * m[key] + (1.0 - _ADAM_B1) * gv + 1e-12, 10
                )
                s[key] = round(
                    _ADAM_B2 * s[key] + (1.0 - _ADAM_B2) * gv * gv + 1e-12,
                    10,
                )
                w[key] = round(
                    w[key]
                    - _SG_LR
                    * (m[key] / bc1)
                    / (math.sqrt(s[key] / bc2) + _ADAM_EPS)
                    + 1e-12,
                    10,
                )
                traj[key].append(w[key])
    return (traj_in, m_in, s_in), (traj_out, m_out, s_out)


def test_sgns_adam_epoch_parity_replay_and_state(spark):
    """x95 (2-step Adam epoch — the reference's ACTUAL optimizer,
    optax.adam at flax_model.py:275, where x92/x93 transposed the
    plain-SGD simplification; prepped r16, registered r17): oracle
    parity at BOTH tiers via direct compare, a pure-Python replay of
    the full optimizer state (weight trajectory AND final first/second
    moments) over the shared gradient definition, and the state
    invariants Adam guarantees: s >= 0 everywhere, m = s = 0 exactly
    where no gradient ever arrived (with w frozen), and every
    gradient-receiving coordinate moved in step 1."""
    from big_data_project_spark.pipeline.graph import (
        _SG_DIM, _sgns_adam_oracle, sgns_adam_epoch,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    oracle = _sgns_adam_oracle()
    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = sgns_adam_epoch(spark, sf)
            res = compare("x95_sgns_adam_epoch", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])

    with scope(spark):
        ex, nodes, vin, vout = _replay_sgns_setup(spark)
        (ti, mi, si), (to, mo, so) = _replay_sgns_adam_epoch(ex, vin, vout)

        expected = set()
        for side, traj, m, s in (("in", ti, mi, si), ("out", to, mo, so)):
            for key, ws in traj.items():
                expected.add((side, *key, *ws, m[key], s[key]))

        rows = sgns_adam_epoch(spark, SF_DIR).collect()
        got = {
            (r.side, r.node, r.k, r.w0, r.w1, r.w2, r.m, r.s) for r in rows
        }
        assert got == expected
        assert len(got) == 2 * len(nodes) * _SG_DIM

        # optimizer-state invariants
        gi1, _go1 = _replay_sgns_grads(ex, vin, vout)
        for side, n, k, w0, w1, w2, m, s in got:
            assert s >= 0.0, (side, n, k, s)
            if m == 0.0 and s == 0.0:
                # no gradient ever arrived: Adam must not move the weight
                assert w0 == w1 == w2, (side, n, k)
            if side == "in" and gi1.get((n, k), 0.0) != 0.0:
                assert w1 != w0, (n, k)  # every step-1 gradient moves w

        # Adam out-descends SGD at the same lr on this batch (both
        # trajectories are deterministic; the property tier asserts
        # descent itself — this pins the optimizer actually biting)
        from tests.test_properties import _sgns_batch_loss

        w_in_final = {key: ws[-1] for key, ws in ti.items()}
        w_out_final = {key: ws[-1] for key, ws in to.items()}
        _, _, vin1, vout1 = _replay_sgns_step(ex, vin, vout)
        _, _, vin2, vout2 = _replay_sgns_step(ex, vin1, vout1)
        assert _sgns_batch_loss(ex, w_in_final, w_out_final) < _sgns_batch_loss(
            ex, vin2, vout2
        )


def test_negative_sampling_parity_and_table_invariants(spark):
    """Negative-sampling table (prepped for a future window): oracle
    parity at BOTH tiers plus the table invariants a trainer relies on —
    K rows, probs sum to 1, cum_hi strictly increasing and ending at 1,
    and the smoothed weights agree with an independent driver-side
    count**0.75 computation."""
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.text import (
        _NEG_ORACLE, _NEG_VOCAB_K, negative_sampling_table,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        try:
            con = duckdb_connect(sf)
            df = negative_sampling_table(spark, sf)
            res = compare("negsample", df, con, _NEG_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            rows = df.collect()
            n_distinct = (
                load_table(spark, sf, "documents")
                .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
                .filter(F.col("w") != "")
                .distinct()
                .count()
            )
            assert len(rows) == min(_NEG_VOCAB_K, n_distinct)
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            assert abs(sum(r.prob for r in rows) - 1.0) < 1e-3
            # non-decreasing on the 6dp-rounded values: two adjacent
            # cum_hi can legitimately round equal if a prob falls below
            # 5e-7 (ADVICE r10) — strictness holds only pre-rounding
            cums = [r.cum_hi for r in rows]
            assert all(b >= a for a, b in zip(cums, cums[1:]))
            assert abs(cums[-1] - 1.0) < 1e-6
            # counts non-increasing in rank; smoothing flattens the head
            ns = [r.n for r in rows]
            assert all(a >= b for a, b in zip(ns, ns[1:]))
            smooth = [n ** 0.75 for n in ns]
            tot = sum(smooth)
            for r, s in zip(rows, smooth):
                assert abs(r.prob - s / tot) < 1e-4
            assert rows[0].prob / rows[-1].prob < ns[0] / ns[-1] or ns[0] == ns[-1]
        finally:
            spark.catalog.clearCache()


def test_nn_descent_parity_convergence_and_replay(spark):
    """x88 NN-descent k-NN graph: the oracle must hash-match at BOTH
    fixture tiers; the census must show the convergence the operator
    exists for (probe recall strictly improves from init to final
    round, mean_sim non-decreasing); and every census value must agree
    with an independent pure-Python replay of the full algorithm —
    md5 seed partitions, rounded-sim/smallest-id top-k, symmetrized
    neighbor-of-neighbor candidates, md5 probe sample — at sf0.001."""
    import hashlib

    import numpy as np

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import (
        _NND_K, _NND_ORACLE, _NND_PROBES, _NND_ROUNDS, _NND_SEEDS,
        _nnd_n_blocks, nn_descent_knn_graph,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = nn_descent_knn_graph(spark, sf)
            res = compare("nn_descent", df, con, _NND_ORACLE)
            assert res.ok, (sf, res.detail, res.mismatches[:3])
            rows = sorted(df.collect(), key=lambda r: r["round"])
            assert [r["round"] for r in rows] == list(range(_NND_ROUNDS + 1))
            assert rows[-1].probe_recall > rows[0].probe_recall, (
                "refinement must beat the seed graph"
            )
            # Fixture-empirical, NOT a true invariant: a node whose seed
            # block was a singleton has a sub-k list and can gain NEW
            # lower-sim edges in later rounds, lowering the global mean
            # even though every existing rank only improves.  The true
            # per-node rank-dominance invariant is asserted in the
            # pure-Python replay below; this aggregate check just pins the
            # current fixtures' behavior (both tiers seed with full-ish
            # blocks, so the mean happens to be monotone here).
            assert all(
                b.mean_sim >= a.mean_sim for a, b in zip(rows, rows[1:])
            ), "mean_sim decreased on these fixtures (was monotone r11)"

    # --- pure-Python replay at the small tier --------------------------
    erows = load_table(spark, SF_DIR, "embeddings").collect()
    ids = [r.vec_id for r in erows]
    mat = np.array([r.embedding for r in erows], dtype=float)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    idx = {v: i for i, v in enumerate(ids)}
    sims = np.round(mat @ mat.T + 1e-9, 4)

    def topk(pairs):
        by_a = {}
        for a, b in pairs:
            by_a.setdefault(a, []).append((-sims[idx[a], idx[b]], b))
        return {
            a: [(b, -ns) for ns, b in sorted(lst)[:_NND_K]]
            for a, lst in by_a.items()
        }

    n_blocks = _nnd_n_blocks(len(ids))
    seed_pairs = set()
    for j in range(_NND_SEEDS):
        blk = {}
        for v in ids:
            h = int(hashlib.md5(f"{j}:{v}".encode()).hexdigest()[:15], 16)
            blk.setdefault(h % n_blocks, []).append(v)
        for members in blk.values():
            seed_pairs |= {(a, b) for a in members for b in members if a != b}
    knn = topk(seed_pairs)
    probes = sorted(
        ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:_NND_PROBES]
    exact = topk({(a, b) for a in probes for b in ids if b != a})
    exact_edges = {(a, b) for a, lst in exact.items() for b, _ in lst}

    def census(g, rnd):
        edges = [(a, b, s) for a, lst in g.items() for b, s in lst]
        hits = sum((a, b) in exact_edges for a, b, _ in edges)
        return (
            rnd,
            len(edges),
            round(sum(s for *_, s in edges) / len(edges) + 1e-9, 4),
            round(hits / len(exact_edges) + 1e-9, 4),
        )

    expected = [census(knn, 0)]
    for r in range(1, _NND_ROUNDS + 1):
        cur = {(a, b) for a, lst in knn.items() for b, _ in lst}
        sym = cur | {(b, a) for a, b in cur}
        by_src = {}
        for a, b in sym:
            by_src.setdefault(a, set()).add(b)
        non = {
            (a, c) for a, mid in sym for c in by_src.get(mid, ()) if c != a
        }
        prev = knn
        knn = topk(non | cur)
        expected.append(census(knn, r))
        # The TRUE refinement invariant (candidates include current edges,
        # so each node's existing top-k ranks can only improve): the new
        # kept-sim list elementwise dominates the old over the shared
        # prefix.  This holds per node regardless of seed-block size —
        # unlike the global mean, which sub-k nodes gaining new lower-sim
        # edges can legitimately pull down.
        for a, old in prev.items():
            new = knn.get(a, [])
            assert len(new) >= len(old), (r, a)
            for (_, ns), (_, os_) in zip(new, old):
                assert ns >= os_, (r, a, new, old)
    with scope(spark):
        got = [
            (r["round"], r.n_edges, r.mean_sim, r.probe_recall)
            for r in sorted(
                nn_descent_knn_graph(spark, SF_DIR).collect(),
                key=lambda r: r["round"],
            )
        ]
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g[0] == e[0] and g[1] == e[1], (g, e)
        assert abs(g[2] - e[2]) < 1e-4 and abs(g[3] - e[3]) < 1e-4, (g, e)


def test_read_dataset_split_parity_replay_and_contract(spark):
    """pipeline_read_dataset_split (prepped r17, un-registered): the
    reference's full ``read_dataset`` ingest (trainer/
    flax_model.py:99-144) — glob → npz decode → invalid-temperature
    repair → concat → sequential int(n·ratio) split — as one composed
    pipeline over the deterministic v3 shards.  Checks: oracle parity
    at BOTH tiers (the binary write → binaryFile scan → Arrow np.load
    roundtrip is real; the oracle recomputes from the formula), a
    numpy replay of the impute/split, and the composition contract:
    28 train / 4 test patches at ratio 0.9, the invalid mask actually
    fires, and imputed means stay inside the valid range."""
    import numpy as np

    from big_data_project_spark.sources.formats import (
        _RD_PATCHES, _RD_RATIO, _RD_SHARDS, _RD_SIDE, _RD_VALID,
        _read_dataset_oracle, read_dataset_split,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    oracle = _read_dataset_oracle()
    for sf in (SF_DIR, SF_DIR_ORACLE):
        con = duckdb_connect(sf)
        df = read_dataset_split(spark, sf)
        res = compare("pipeline_read_dataset_split", df, con, oracle)
        assert res.ok, (sf, res.detail, res.mismatches[:3])

    # numpy replay of the whole composition from the generating formula
    lo, hi = _RD_VALID
    i_ix, p_ix, y_ix, x_ix = np.meshgrid(
        np.arange(_RD_SHARDS), np.arange(_RD_PATCHES),
        np.arange(_RD_SIDE), np.arange(_RD_SIDE), indexing="ij",
    )
    base = ((i_ix * 97 + p_ix * 31 + y_ix * 7 + x_ix * 13) % 256) * 0.25 + 250
    lst = np.where((i_ix * 31 + p_ix * 7 + y_ix * 13 + x_ix * 3) % 19 == 0,
                   400.0, base)
    train_size = int(_RD_SHARDS * _RD_PATCHES * _RD_RATIO)
    expected = []
    for i in range(_RD_SHARDS):
        for p in range(_RD_PATCHES):
            patch = lst[i, p]
            invalid = (patch < lo) | (patch > hi)
            vm = round(float(patch[~invalid].mean()) + 1e-9, 6)
            repl = min(max(round(vm * 4 + 1e-9) / 4, lo), hi)
            imputed = np.where(invalid, repl, patch)
            expected.append((
                "train" if i * _RD_PATCHES + p < train_size else "test",
                f"shard_{i}.npz", p, patch.size, int(invalid.sum()),
                round(float(imputed.mean()) + 1e-9, 6),
            ))

    rows = read_dataset_split(spark, SF_DIR).collect()
    got = [
        (r.split, r.shard, r.patch_idx, r.n_cells, r.n_invalid, r.lst_mean)
        for r in rows
    ]
    assert got == expected

    # composition contract
    assert sum(1 for r in got if r[0] == "train") == train_size == 28
    assert sum(1 for r in got if r[0] == "test") == 4
    assert sum(r[4] for r in got) > 0, "the invalid mask never fired"
    assert all(lo <= r[5] <= hi for r in got)
    # the split is SEQUENTIAL: no train patch after the first test patch
    splits = [r[0] for r in got]  # ordered by (shard, patch_idx)
    assert splits == ["train"] * train_size + ["test"] * 4


def _replay_tae_expected(ex, nodes, vin, vout):
    """Pure-Python replay of the FULL ``train_and_evaluate`` schedule
    over an arbitrary example source — per-epoch md5 permutation into
    equal batches, one bias-corrected Adam step per batch, pre-update
    metric means (6-dp scaled-integer fold, the exact arithmetic of
    the engine/oracle pair), post-epoch full-set eval, keep-N
    checkpoint checksums, modulo-gated snapshot counts.  Factored
    (r18) from the tae test so the main() composition's replay shares
    the schedule verbatim over the patch-corpus examples."""
    import hashlib
    import math

    from big_data_project_spark.pipeline.graph import (
        _ADAM_B1, _ADAM_B2, _ADAM_EPS, _PRED_EVERY, _SG_DIM,
        _SG_EPOCH_STEPS, _SG_LR, _TE_EPOCHS, _TE_KEEP,
    )

    n_batches = _SG_EPOCH_STEPS
    w_in, w_out = dict(vin), dict(vout)
    m_in = dict.fromkeys(w_in, 0.0)
    s_in = dict.fromkeys(w_in, 0.0)
    m_out = dict.fromkeys(w_out, 0.0)
    s_out = dict.fromkeys(w_out, 0.0)

    def adam_update(w, m, s, g, t):
        bc1, bc2 = 1.0 - _ADAM_B1**t, 1.0 - _ADAM_B2**t
        for key in w:
            gv = g.get(key, 0.0)
            m[key] = round(
                _ADAM_B1 * m[key] + (1.0 - _ADAM_B1) * gv + 1e-12, 10
            )
            s[key] = round(
                _ADAM_B2 * s[key] + (1.0 - _ADAM_B2) * gv * gv + 1e-12, 10
            )
            w[key] = round(
                w[key]
                - _SG_LR * (m[key] / bc1)
                / (math.sqrt(s[key] / bc2) + _ADAM_EPS)
                + 1e-12,
                10,
            )

    def checksum():
        return sum(
            int(round(v * 1e10))
            for d in (w_in, m_in, s_in, w_out, m_out, s_out)
            for v in d.values()
        )

    def scaled_mean(vals):
        return round(
            sum(int(round(v * 1e6)) for v in vals) / (len(vals) * 1e6) + 1e-9,
            6,
        )

    t = 0
    expected = []
    kept = set(range(_TE_EPOCHS - _TE_KEEP + 1, _TE_EPOCHS + 1))
    n_state_rows = 2 * len(nodes) * _SG_DIM
    for e in range(1, _TE_EPOCHS + 1):
        keys = sorted(
            ex,
            key=lambda key: hashlib.md5(
                f"{e}:{key[0]}:{key[1]}:{int(key[2])}".encode()
            ).hexdigest(),
        )
        bs = len(keys) // n_batches
        pre_mets = []
        for b in range(n_batches):
            bex = {key: ex[key] for key in keys[b * bs : (b + 1) * bs]}
            pre_mets.append(_replay_sgns_metrics(bex, w_in, w_out))
            gi, go = _replay_sgns_grads(bex, w_in, w_out)
            t += 1
            adam_update(w_in, m_in, s_in, gi, t)
            adam_update(w_out, m_out, s_out, go, t)
        tl = scaled_mean([m[1] for m in pre_mets])
        ta = scaled_mean([m[2] for m in pre_mets])
        _tn, test_l, test_a = _replay_sgns_metrics(ex, w_in, w_out)
        ck = (n_state_rows, checksum()) if e in kept else (None, None)
        pr = len(ex) if e % _PRED_EVERY == 0 else None
        expected.append((e, tl, ta, test_l, test_a, *ck, pr))
    return expected


def test_sgns_train_and_evaluate_full_fidelity(spark):
    """pipeline_sgns_train_and_evaluate: the
    reference driver at FULL fidelity — per-epoch re-permuted
    mini-batches (flax_model.py:234-236, :350), one bias-corrected
    Adam step per distinct batch (:275), epoch metrics (:238-259,
    :355-375), keep-3 full-optimizer-state checkpoints (:377), and
    modulo-gated prediction snapshots (:380-384) — in ONE pipeline
    returning only the sinks' read-back.  Checks: oracle parity at
    BOTH tiers, a pure-Python replay of the ENTIRE schedule (8 Adam
    steps over 8 distinct batches, metric means, full-state integer
    checksums), and the sink contracts (swept checkpoint NULL, ungated
    snapshots NULL, gated ones lossless)."""
    from big_data_project_spark.pipeline.graph import (
        _PRED_EVERY, _sgns_tae_oracle, sgns_train_and_evaluate,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    oracle = _sgns_tae_oracle()
    for sf in (SF_DIR, SF_DIR_ORACLE):
        with scope(spark):
            con = duckdb_connect(sf)
            df = sgns_train_and_evaluate(spark, sf)
            res = compare("pipeline_sgns_train_and_evaluate", df, con, oracle)
            assert res.ok, (sf, res.detail, res.mismatches[:3])

    with scope(spark):
        ex, nodes, vin, vout = _replay_sgns_setup(spark)
        expected = _replay_tae_expected(ex, nodes, vin, vout)

        rows = sgns_train_and_evaluate(spark, SF_DIR).collect()
        got = [
            (
                r.epoch, r.train_loss, r.train_accuracy,
                r.test_loss, r.test_accuracy,
                r.ckpt_rows, r.state_checksum, r.pred_rows,
            )
            for r in rows
        ]
        assert got == expected

        # sink contracts made explicit
        assert got[0][5] is None and got[0][6] is None  # epoch 1 swept
        for e, row in enumerate(got, start=1):
            assert (row[7] is None) == (e % _PRED_EVERY != 0)
        # the driver trains: full-set eval improves end to end
        assert got[-1][3] < got[0][3]


def _replay_patch_batch():
    """Pure-Python replay of the patch corpus's example source — the
    ingest leg of the main() composition: formula cells → valid-mean
    impute (quantized to the 0.25 grid, clipped) → sequential train
    cut → floor tokens → window-1 adjacency census → top-batch →
    count^0.75 token-frequency negatives via the interval + md5-uniform
    recipe.  Returns (pairs, draws) in the `_replay_sg_batch` shapes."""
    import hashlib
    import math
    from collections import Counter

    from big_data_project_spark.pipeline.graph import (
        _SG_BATCH, _SG_NEG_K, _SG_NEG_VOCAB,
    )
    from big_data_project_spark.sources.formats import (
        _RD_PATCHES, _RD_RATIO, _RD_SHARDS, _RD_SIDE, _RD_VALID,
    )

    lo, hi = _RD_VALID
    train_size = int(_RD_SHARDS * _RD_PATCHES * _RD_RATIO)

    def lstv(i, p, y, x):
        if (i * 31 + p * 7 + y * 13 + x * 3) % 19 == 0:
            return 400.0
        return ((i * 97 + p * 31 + y * 7 + x * 13) % 256) * 0.25 + 250

    tokens: dict[tuple[int, int, int, int], int] = {}
    for i in range(_RD_SHARDS):
        for p in range(_RD_PATCHES):
            if i * _RD_PATCHES + p >= train_size:
                continue
            vals = {
                (y, x): lstv(i, p, y, x)
                for y in range(_RD_SIDE)
                for x in range(_RD_SIDE)
            }
            valid = [v for v in vals.values() if lo <= v <= hi]
            vm = round(sum(valid) / len(valid) + 1e-9, 6)
            repl = min(max(round(vm * 4 + 1e-9) / 4, lo), hi)
            for (y, x), v in vals.items():
                tokens[(i, p, y, x)] = int(
                    math.floor(v if lo <= v <= hi else repl)
                )

    census: Counter = Counter()
    for (i, p, y, x), tok in tokens.items():
        tok_b = tokens.get((i, p, y, x + 1))
        if tok_b is not None:
            census[(tok, tok_b)] += 1
            census[(tok_b, tok)] += 1
    pairs = [
        (a, b, -negn)
        for negn, a, b in sorted(((-n, a, b) for (a, b), n in census.items()))[
            :_SG_BATCH
        ]
    ]

    freq = Counter(tokens.values())
    vocab = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_SG_NEG_VOCAB]
    weights = [math.sqrt(n * math.sqrt(n)) for _, n in vocab]
    tot = sum(weights)
    cum_hi, run = [], 0.0
    for w in weights:
        run += w
        cum_hi.append(round(run / tot + 1e-9, 6))
    cum_lo = [0.0] + cum_hi[:-1]

    draws = []
    for a, b, n in pairs:
        for j in range(1, _SG_NEG_K + 1):
            h = hashlib.md5(f"{a}:{b}:{j}".encode()).hexdigest()
            u = (int(h[:15], 16) % 1_000_000) / 1_000_000.0
            (neg,) = [
                node
                for (node, _), l_, h_ in zip(vocab, cum_lo, cum_hi)
                if l_ <= u < h_
            ]
            draws.append((a, b, n, j, neg))
    return pairs, draws


def _replay_main_setup():
    """Pure-Python main() inputs (mirror of ``_patch_sgns_inputs``):
    the weighted example Counter over the patch-corpus batch, the
    vocabulary, and the two md5-initialized matrices."""
    import hashlib
    from collections import Counter

    from big_data_project_spark.pipeline.graph import _SG_DIM, _SG_INIT_SCALE

    pairs, draws = _replay_patch_batch()
    ex: Counter = Counter()
    for c, p, _n in pairs:
        ex[(c, p, 1.0)] += 1
    for c, _p, _n, _j, neg in draws:
        ex[(c, neg, 0.0)] += 1
    nodes = sorted({c for c, _, _ in ex} | {x for _, x, _ in ex})

    def init(side, node, k):
        h = hashlib.md5(f"{side}:{node}:{k}".encode()).hexdigest()
        u = (int(h[:15], 16) % 2_000_000) / 1_000_000.0 - 1.0
        return round(u * _SG_INIT_SCALE + 1e-9, 6)

    vin = {(n, k): init("i", n, k) for n in nodes for k in range(_SG_DIM)}
    vout = {(n, k): init("o", n, k) for n in nodes for k in range(_SG_DIM)}
    return ex, nodes, vin, vout


def test_main_ingest_to_training_parity_replay_and_contract(spark):
    """pipeline_main_ingest_to_training: the reference's OUTERMOST
    composition — main() (trainer/flax_model.py:403-412), read_dataset's
    ingest feeding the train_and_evaluate driver.  Checks: oracle parity
    at sf0.01 (the sf0.001 tier is the registry sweep's,
    test_oracle_parity.py); the composition contract — the Spark example
    frame equals the pure-Python ingest→example replay EXACTLY (formula
    cells, impute, train cut, tokens, census, negatives); and the
    full-schedule replay of the training over those examples (the
    factored `_replay_tae_expected`)."""
    from big_data_project_spark.pipeline.graph import (
        _main_oracle, _patch_sgns_inputs, main_ingest_to_training,
    )
    from tests.conftest import SF_DIR, SF_DIR_ORACLE
    from tests.oracle_harness import compare, duckdb_connect

    with scope(spark):
        con = duckdb_connect(SF_DIR_ORACLE)
        df = main_ingest_to_training(spark, SF_DIR_ORACLE)
        res = compare("pipeline_main_ingest_to_training", df, con, _main_oracle())
        assert res.ok, (res.detail, res.mismatches[:3])

    with scope(spark):
        ex, nodes, vin, vout = _replay_main_setup()

        # composition contract: the ingest leg REALLY fed the example
        # construction — the Spark ex frame matches the replay Counter
        sp_ex, sp_vin, sp_vout = _patch_sgns_inputs(spark, SF_DIR)
        got_ex = {
            (r.center, r.ctx, r.label): r.cnt for r in sp_ex.collect()
        }
        assert got_ex == dict(ex)
        sp_vin.unpersist()
        sp_vout.unpersist()

        expected = _replay_tae_expected(ex, nodes, vin, vout)
        rows = main_ingest_to_training(spark, SF_DIR).collect()
        got = [
            (
                r.epoch, r.train_loss, r.train_accuracy,
                r.test_loss, r.test_accuracy,
                r.ckpt_rows, r.state_checksum, r.pred_rows,
            )
            for r in rows
        ]
        assert got == expected
        # the composed driver trains on the ingested corpus
        assert got[-1][3] < got[0][3]
