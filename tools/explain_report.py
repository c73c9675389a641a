"""Physical-plan audit: verify the plans are the plans we want at scale.

Checks, per representative query:
- predicate pushdown reached the parquet scan (PushedFilters non-empty)
- column pruning happened (ReadSchema is a strict subset)
- small dims joined via BroadcastHashJoin (no shuffle of the fact side)
- aggregations are partial+final HashAggregate pairs
- no row-at-a-time Python UDF in hot paths (BatchEvalPython only in x1)

Writes PLANS.md with the formatted plans + assertion results.
Usage: python tools/explain_report.py [sf_dir] [--diff] [--save]
  --diff  compare normalized plans with tools/plan_baseline.json; exit 1
          on any DRIFT (plan changed) or NEW (no baseline) entry
  --save  write tools/plan_baseline.json from this run (nothing else
          writes it, so a missing baseline keeps --diff failing)
"""

from __future__ import annotations

import hashlib
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lens_warehouse_spark import registry
from lens_warehouse_spark.session import get_spark

CHECKS: dict[str, list[tuple[str, str]]] = {
    # query -> list of (description, substring expected in formatted plan)
    "q1_pricing_summary": [
        ("filter pushed to scan", "PushedFilters: [IsNotNull(l_shipdate)"),
        ("partial aggregate", "HashAggregate"),
        ("vectorized parquet reader", "Batched: true"),
    ],
    "p3_range_predicate": [
        (
            "range pushdown",
            "GreaterThanOrEqual(p_size,10), LessThanOrEqual(p_size,20)",
        ),
        ("column pruning", "ReadSchema: struct<p_partkey:bigint,p_name:string,p_size:int>"),
    ],
    "j2_broadcast_dim_join": [
        ("dims broadcast", "BroadcastHashJoin"),
        ("no sort-merge join", "!SortMergeJoin"),
    ],
    "j6_star_join_revenue": [
        ("date filter pushed", "PushedFilters: [IsNotNull(o_orderdate)"),
        ("broadcast star", "BroadcastHashJoin"),
    ],
    "j3_semi_join": [("semi join strategy", "LeftSemi")],
    "j4_anti_join": [("anti join strategy", "LeftAnti")],
    "o4_top_k": [("top-k, not full sort", "TakeOrderedAndProject")],
    "u5_cohort_count": [
        ("single final aggregate over tagged union", "Union"),
        ("hash aggregation", "HashAggregate"),
    ],
    "l2_minhash_neardup": [
        ("map-side partial min() signature agg", "partial_min"),
    ],
    "l3b_knn_batch": [
        ("probe side broadcast", "BroadcastNestedLoopJoin"),
    ],
    "x2_pandas_udf": [("Arrow eval, not pickled rows", "ArrowEvalPython")],
    "q2_min_cost_supplier": [
        ("dims broadcast", "BroadcastHashJoin"),
        ("no cartesian product", "!CartesianProduct"),
        ("part filter pushed", "PushedFilters: [IsNotNull(p_type)"),
    ],
    "q16_parts_supplier_count": [
        ("denylist anti-join broadcast", "BroadcastHashJoin"),
        ("anti join strategy", "LeftAnti"),
    ],
    "q20_excess_suppliers": [
        ("part-family semi-join broadcast", "LeftSemi"),
        ("name prefix pushed to scan", "StringStartsWith(p_name,large)"),
    ],
    "l16_decontamination": [
        ("benchmark gram set broadcast", "BroadcastHashJoin"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l20_curation_pipeline": [
        ("anti-join stages", "LeftAnti"),
        ("keep-first dedup semi-join", "LeftSemi"),
        ("partial aggregation", "HashAggregate"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "l19b_quantized_knn": [
        ("probe side broadcast", "Broadcast"),
        ("no row-at-a-time python", "!BatchEvalPython"),
        ("top-k via window rank, no global sort of scores", "Window"),
    ],
    "q21_waiting_suppliers": [
        ("exists rewritten to semi join", "LeftSemi"),
        ("not-exists rewritten to anti join", "LeftAnti"),
        ("status filter pushed", "EqualTo(o_orderstatus,F)"),
    ],
    "a16_heavy_hitters": [
        ("candidate recount is a broadcast semi-join", "LeftSemi"),
        ("MG summaries run as Arrow batches", "MapInPandas"),
        ("exact recount partially aggregated", "HashAggregate"),
    ],
    "l21_bigram_lm_score": [
        ("model counts partially aggregated", "HashAggregate"),
        ("no row-at-a-time python", "!BatchEvalPython"),
        ("vocab size broadcast to scorer", "BroadcastNestedLoopJoin"),
    ],
    "s7_snapshot_diff": [
        ("single full-outer key join", "FullOuter"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "l3i_ann_ivf_multiprobe": [
        ("probe side broadcast", "Broadcast"),
        ("top-k via window rank", "Window"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l22_pii_redaction": [
        ("pure codegen regex pass, no exchange before sort", "!Exchange hashpartitioning"),
        ("no python at all", "!BatchEvalPython"),
        ("column pruning to doc_id+text", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "w8_zscore_outliers": [
        ("moments joined back via broadcast", "BroadcastHashJoin"),
        ("partial aggregation of moments", "HashAggregate"),
        ("no window over unpartitioned data", "!WindowExec"),
    ],
    "t15_attribution": [
        ("band join keyed on user_id, no cartesian", "!CartesianProduct"),
        ("event_type filters pushed to scan", "EqualTo(event_type,purchase)"),
    ],
    "w9_sliding_distinct": [
        ("constant fan-out explode, no range self-join on events", "explode(sequence"),
        ("two-phase distinct aggregate", "HashAggregate"),
    ],
    "s8_scd2_history": [
        ("single key-partitioned window pass", "Window"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "l1b_incremental_dedup": [
        ("corpus anti-join (broadcast at this SF; bucketed at scale)", "LeftAnti"),
        ("keep-first partially aggregated", "HashAggregate"),
        ("column pruning to doc_id+text", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "s10_asof_read": [
        ("as-of reads ONE resolved snapshot dir, no union of versions", "!Union"),
        ("partial aggregation", "HashAggregate"),
    ],
    "s11_codelist_decode": [
        ("code-list dim broadcast", "BroadcastHashJoin"),
        ("no shuffle of the fact side before agg", "!SortMergeJoin"),
    ],
    # global_rank's range exchange executes inside the localCheckpoint,
    # so downstream plans show the pinned relation (Scan ExistingRDD) —
    # the assertion is "partitioned window over the checkpoint, no
    # unpartitioned WindowExec over the raw table".
    "w5_distribution": [
        ("rank over the pinned ranged relation", "Scan ExistingRDD"),
        ("offsets joined back via broadcast", "BroadcastHashJoin"),
        ("row count from the rank's totals, no second customer scan", "!Scan parquet"),
    ],
    "l25_zipf_slope": [
        ("rank over the pinned ranged relation", "Scan ExistingRDD"),
        ("tf partially aggregated", "HashAggregate"),
    ],
    "l29_semantic_dedup": [
        ("within-cell self-join is a hash join, not cartesian", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l8f_media_sniff": [
        ("decode runs as Arrow batches", "MapInPandas"),
        ("column pruning to doc_id+text", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    # Real-codec media paths (l8g/l8h/l8i): blob synthesis is columnar
    # JVM SQL, decode is one Arrow-batched map stage, and nothing
    # shuffles except the output orderBy's range exchange — the
    # pointer-to-blob 100 TB shape with zero data-sized exchanges.
    "l8g_pixel_resize": [
        ("decode+resample runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id", "ReadSchema: struct<doc_id:bigint>"),
    ],
    "l8h_audio_decode": [
        ("chunk walk runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
    ],
    "l8i_video_frame_sample": [
        ("frame walk runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
    ],
    # r8 compressed-image codecs: same shape — SQL blob synthesis
    # (incl. SQL Adler-32/CRC/bit-packing) must stay columnar JVM
    # work feeding ONE Arrow decode stage, with zero joins/exchanges.
    "l8j_png_decode": [
        ("inflate+filter-inverse runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id", "ReadSchema: struct<doc_id:bigint>"),
    ],
    "l8k_gif_decode": [
        ("LZW decode runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id", "ReadSchema: struct<doc_id:bigint>"),
    ],
    "l8l_jpeg_decode": [
        ("Huffman+IDCT decode runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id", "ReadSchema: struct<doc_id:bigint>"),
    ],
    "l8m_tiff_decode": [
        ("IFD walk + strip assembly runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id", "ReadSchema: struct<doc_id:bigint>"),
    ],
    "l8n_media_dispatch": [
        ("sniff-and-route runs as one Arrow stage", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
    ],
    "l8o_jpeg_color_decode": [
        ("color MCU decode runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id", "ReadSchema: struct<doc_id:bigint>"),
    ],
    "l8p_flac_decode": [
        ("Rice/LPC decode runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
    ],
    "l8q_jpeg_progressive_decode": [
        ("multi-scan coefficient decode runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
    ],
    "s21_gzip_text_scan": [
        ("gzip decode runs as Arrow batches", "MapInPandas"),
        ("no join, no corpus shuffle", "!Join"),
        ("no hash exchange (only the output sort ranges)", "!hashpartitioning"),
        ("column pruning to doc_id+text", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "s12_partitioned_scan": [
        ("partition pruning at the scan", "PartitionFilters: [isnotnull(event_date"),
        ("partial aggregation", "HashAggregate"),
    ],
    "j11_binned_interval_join": [
        ("interval join rewritten to bin equi-join", "!BroadcastNestedLoopJoin"),
        ("no cartesian product", "!CartesianProduct"),
        ("priority+date filters pushed to the orders scan", "In(o_orderpriority, [1-URGENT,2-HIGH])"),
    ],
    "s14_bucketed_join": [
        ("co-located sort-merge join", "SortMergeJoin"),
        ("no shuffle on the lineitem side", "!Exchange hashpartitioning(l_orderkey"),
        ("no shuffle on the orders side", "!Exchange hashpartitioning(o_orderkey"),
        ("bucketed scan", "SelectedBucketsCount"),
    ],
    "a17_approx_percentile": [
        ("GK sketch + exact percentiles in one agg pass", "ObjectHashAggregate"),
        ("rank-certification pass joins broadcast", "BroadcastHashJoin"),
        ("no cartesian product", "!CartesianProduct"),
        ("no python anywhere", "!BatchEvalPython"),
    ],
    "a18_hll_rollup": [
        ("sketch partials combine map-side", "ObjectHashAggregate"),
        ("exact pass joins the KB-sized rollup broadcast", "BroadcastHashJoin"),
        ("no python anywhere", "!BatchEvalPython"),
    ],
    "a19_sketch_overlap": [
        ("pair table is a broadcast of KB sketches", "BroadcastNestedLoopJoin"),
        ("sketch partials combine map-side", "ObjectHashAggregate"),
    ],
    "l26_epoch_shuffle": [
        ("offsets broadcast back, not shuffled", "BroadcastHashJoin"),
        ("local ranks only — no unpartitioned window over the corpus", "Window"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "s9_schema_evolution": [
        ("merged read stays a single partial-aggregated pass", "HashAggregate"),
        ("no python anywhere", "!BatchEvalPython"),
    ],
    # The exact-quantile family runs aggregates.exact_quantiles in-plan:
    # one map-side GK sketch brackets every p, the brackets ride a
    # broadcast to the scan, and the selection window is partitioned by
    # (keys, p_idx) — no pinned relation, so building runs no job.
    "a20_exact_median": [
        ("GK bracket sketch partially aggregated", "partial_percentile_approx("),
        ("brackets broadcast to the scan", "BroadcastNestedLoopJoin Inner BuildRight"),
        ("selection window partitioned by p", "windowspecdefinition(p_idx#"),
        ("nothing pinned at build", "!Scan ExistingRDD"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "a21_grouped_exact_median": [
        ("GK bracket sketch partially aggregated", "partial_percentile_approx("),
        ("brackets broadcast to the scan", "BroadcastHashJoin Inner BuildRight"),
        ("selection window partitioned by (group, p)", "windowspecdefinition(event_type#"),
        ("nothing pinned at build", "!Scan ExistingRDD"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "a22_grouped_exact_percentile": [
        ("GK bracket sketch partially aggregated", "partial_percentile_approx("),
        ("brackets broadcast to the scan", "BroadcastHashJoin Inner BuildRight"),
        ("selection window partitioned by (group, p)", "windowspecdefinition(event_type#"),
        ("nothing pinned at build", "!Scan ExistingRDD"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "a24_equidepth_histogram": [
        ("GK bracket sketch partially aggregated", "partial_percentile_approx("),
        ("brackets broadcast to the scan", "BroadcastNestedLoopJoin Inner BuildRight"),
        ("selection window partitioned by p", "windowspecdefinition(p_idx#"),
        ("nine deciles joined as one broadcast row", "BroadcastNestedLoopJoin Cross BuildRight"),
        ("nothing pinned at build", "!Scan ExistingRDD"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "j12_skew_salted_join": [
        ("salted join is a real equi join", "!CartesianProduct"),
        ("no nested loop", "!BroadcastNestedLoopJoin"),
    ],
    # The tf persist pin is size-GATED (round 5): below 100k docs the
    # cheap tokenize subtree recomputes instead of materializing, so at
    # the audit SF the plan must show NO cache scan; the pinned variant
    # is exercised by the volume bench at 10x/100x.
    "l13_tfidf_top_terms": [
        ("pin gated off at small SF", "!InMemoryTableScan"),
        ("vocab-sized partial aggregation for df", "HashAggregate"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # --- round-5 breadth: scale-critical plans previously unaudited ---
    "j8_asof_latest_event": [
        ("as-of rank predicate pushed into the window", "WindowGroupLimit"),
        ("as-of cutoff pushed to scan", "LessThanOrEqual(ts"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "o5_top_k_per_group": [
        ("per-group top-k pushed into the window", "WindowGroupLimit"),
        ("dim side broadcast", "BroadcastHashJoin"),
        ("no distinct-agg expand", "!Expand"),
    ],
    "w1_ranking": [
        ("window partitioned per brand, not global", "windowspecdefinition(p_brand"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "j7b_range_join": [
        ("binned rewrite yields an equi join", "BroadcastHashJoin"),
        ("no cartesian", "!CartesianProduct"),
        ("no nested loop", "!BroadcastNestedLoopJoin"),
    ],
    "j9_cross_join": [
        ("guarded cross joins via broadcast NLJ, small side broadcast", "BroadcastNestedLoop"),
        ("never a shuffled cartesian", "!CartesianProduct"),
    ],
    "p9_correlated_subquery": [
        ("subquery decorrelated to an equi join", "BroadcastHashJoin"),
        ("no per-row re-execution shape", "!BroadcastNestedLoopJoin"),
    ],
    "l12_chunking": [
        ("chunks from one exploded sequence", "Generate"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l11_deterministic_sample": [
        ("md5 bucket filter evaluated natively", "!BatchEvalPython"),
        ("scan pruned by pushdown", "PushedFilters: [IsNotNull(doc_id)"),
    ],
    "g4_kanon_cells": [
        ("cell counts partially aggregated", "HashAggregate"),
        ("geohash bit arithmetic stays native", "!BatchEvalPython"),
    ],
    "q18_large_orders": [
        ("top-k, not full sort", "TakeOrderedAndProject"),
        ("dims broadcast", "BroadcastHashJoin"),
    ],
    "u5_cohort_count_naive": [
        ("atom predicates pushed to scans", "In(o_orderpriority"),
        ("hash aggregation", "HashAggregate"),
    ],
    "t11_gap_fill": [
        ("calendar from exploded sequence", "Generate"),
        ("grid joined broadcast", "BroadcastHashJoin"),
        ("time bounds pushed to scan", "GreaterThanOrEqual(ts"),
    ],
    "t14_retention_matrix": [
        ("cohort self-join broadcast at this SF", "BroadcastHashJoin"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "s13_incremental_mv": [
        ("base+delta merge is a key join (SMJ: both sides large at scale)", "SortMergeJoin"),
        ("partial aggregation", "HashAggregate"),
    ],
    "x1_python_udf": [
        ("deliberate row-at-a-time demo IS BatchEvalPython", "BatchEvalPython"),
    ],
    "x6_arrow_udf": [
        ("arrow-vectorized eval", "ArrowEvalPython"),
        ("not row-at-a-time", "!BatchEvalPython"),
    ],
    "s15_dynamic_partition_pruning": [
        ("dim filter injected into the fact scan at runtime", "dynamicpruning"),
        ("dim side broadcast", "BroadcastHashJoin"),
    ],
    # l17's stats are computed in the projection: no explode and no
    # distinct-agg Expand may reappear (the 20x regression shape).
    "l17_repetition_filter": [
        ("no explode of grams", "!Generate"),
        ("no distinct-agg expand", "!Expand"),
        ("no gram shuffle", "!Exchange hashpartitioning"),
    ],
    "j13_record_linkage": [
        ("blocked equi join, not cartesian", "!CartesianProduct"),
        ("no nested loop across blocks", "!BroadcastNestedLoopJoin"),
    ],
    "s18_data_quality": [
        ("orphan checks are hash anti-joins", "BroadcastHashJoin"),
        ("no cartesian anywhere", "!CartesianProduct"),
    ],
    # l31 pins the tokenize+window-hash+agg subtree as a columnar cache
    # (persist MEMORY_AND_DISK): both the doc-frequency agg and the
    # final join read the same InMemoryRelation, so the heavy scan
    # executes once (its lineage still PRINTS under both consumers).
    "l31_substring_dedup": [
        ("one tokenize pass cached for both consumers", "InMemoryTableScan"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l32_gram_matrix": [
        ("Gram partials computed as Arrow batches", "MapInPandas"),
        ("partial+final reduction of partials", "HashAggregate"),
        ("no explode of dimension pairs into rows", "!Generate"),
    ],
    "a23_grouped_mode": [
        ("rank predicate pushed into the window", "WindowGroupLimit"),
        ("pair counts partially aggregated", "HashAggregate"),
        ("window partitioned per user, not global", "windowspecdefinition(user_id"),
    ],
    "t19_anomaly_zscore": [
        ("bucket counts partially aggregated", "HashAggregate"),
        ("window partitioned per event_type over the aggregated frame", "windowspecdefinition(event_type"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "g2_spatial_join": [
        ("cell-bucket equi-join, never all-pairs", "!CartesianProduct"),
        ("no nested loop", "!BroadcastNestedLoopJoin"),
        ("neighbor-cell fan-out via explode", "Generate"),
    ],
    "g1_subtree_rollup": [
        ("ancestor closure flattened in codegen", "Generate"),
        ("rollup partially aggregated (root combines map-side)", "HashAggregate"),
        ("no iterative driver loop artifacts", "!Scan ExistingRDD"),
    ],
    "u7_washout_cohort": [
        ("violation exclusion is an anti join", "LeftAnti"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "w10_longest_streak": [
        ("window only over distinct days per user", "windowspecdefinition(user_id"),
        ("island aggregation partial+final", "HashAggregate"),
    ],
    "t21_max_concurrency": [
        ("running sum partitioned per day, not global", "windowspecdefinition(day"),
        ("session rebuild windowed per user", "windowspecdefinition(user_id"),
    ],
    "f10_variant_extract": [
        ("variant parse/extract stays JVM-side", "!BatchEvalPython"),
        ("aggregation partial+final", "HashAggregate"),
    ],
    "s19_python_datasource": [
        ("custom source plans as a V2 batch scan", "BatchScan lws_synth"),
        ("partitioned read, no driver materialization", "!Scan ExistingRDD"),
    ],
    # l39 A-ES weighted sample: map-only key projection straight into a
    # per-partition top-k merge — no shuffle of the corpus before the take.
    "l39_weighted_sample": [
        ("per-partition top-k merge, not a global sort", "TakeOrderedAndProject"),
        ("no corpus shuffle before the take", "!Exchange hashpartitioning"),
        ("no row-at-a-time python", "!BatchEvalPython"),
        ("column pruning to doc_id+n_chars", "ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
    ],
    # l3j MMR (r12 certified form): the candidate pool must be a
    # per-partition top-k over ONE scored corpus pass (the pool feeds
    # both sides of the 20x20 pairwise join, so it is pinned — two
    # InMemoryTableScans, not two corpus scans), and the greedy chain
    # is exactly one Arrow group.
    "l3j_mmr_rerank": [
        ("candidate pool is a per-partition top-k merge", "TakeOrderedAndProject"),
        ("pool pinned for both pairwise sides", "InMemoryTableScan"),
        ("greedy chain is one Arrow group", "FlatMapGroupsInPandas"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # l40 simhash banding: the candidate join must be a hash EQUI join
    # on the band key (AQE broadcasts the banded side at audit SF; at
    # scale the same equi join shuffles on (band_id, band_val)), never
    # an all-pairs product.
    "l40_simhash_neardup": [
        ("banded self-join is a hash equi-join", "BroadcastHashJoin"),
        ("no cartesian product", "!CartesianProduct"),
        ("no nested loop", "!BroadcastNestedLoopJoin"),
        ("no row-at-a-time python", "!BatchEvalPython"),
        ("simhash computed once, pinned for banding + both verify sides", "InMemoryTableScan"),
    ],
    "u8_incidence_curve": [
        ("entry anchors partially aggregated", "HashAggregate"),
        ("total joined via broadcast single row", "BroadcastNestedLoopJoin"),
        ("cumulative window over the bounded month series", "windowspecdefinition(month"),
    ],
    # a26 distributed CDF: the cumsum window must be partitioned on the
    # range-partition id (never the single-partition global window),
    # with offsets/totals riding broadcasts.
    # (the range exchange itself runs EAGERLY inside localCheckpoint,
    # so it cannot appear in the formatted plan — the audit pins its
    # effect instead: the window repartitions on the partition id, not
    # the whole value domain into one task)
    "a26_ks_test": [
        ("cumsum window partitioned per range partition", "windowspecdefinition(__p"),
        ("window input exchanged on the partition id", "hashpartitioning(__p"),
        ("offsets and totals broadcast back", "BroadcastExchange"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # l41 novelty: totals are map-side (array_distinct on the per-row
    # gram-hash array); the only data-sized shuffle keys are 8-byte
    # gram hashes.
    "l41_ngram_novelty": [
        ("gram explode stays JVM-side", "Generate"),
        ("first-occurrence agg partial+final", "HashAggregate"),
        ("no cartesian product", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
        ("column pruning to doc_id+text", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    # l43 containment: bounded-corpus quadratic baseline — but still a
    # hash EQUI join on the token, with the doc_id bound pushed into
    # the scan.
    # (AQE broadcasts the bounded side at audit SF; at scale the same
    # equi join shuffles on tok — the l40 hint discipline)
    "l43_containment_neardup": [
        ("pair generation is a token hash equi-join", "HashJoin"),
        ("no cartesian product", "!CartesianProduct"),
        ("corpus bound pushed to the scan", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,2000)]"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # --- round-6 additions: the graded volume subset + cohort flagship
    # + the ANN/dedup scale paths + the widest TPC-H join trees -------
    # t3 gaps-and-islands: ONE user_id exchange feeds both window
    # passes and the island groupBy (clustering already satisfied);
    # the only other exchange is the final ORDER BY range partition.
    # Islands form (array-fold variant REJECTED in-harness — OOM at
    # 1000x under the shared JVM; see t3_session_window's comment).
    "t3_session_window": [
        ("sessionize shuffles on user_id once", "hashpartitioning(user_id"),
        ("both window passes JVM-side", "Window"),
        ("island agg partial+final", "HashAggregate"),
        ("no python, no cartesian", "!BatchEvalPython"),
    ],
    "l9_language_id": [
        ("trained weights joined via broadcast", "BroadcastHashJoin"),
        ("no sort-merge join of corpus vs weights", "!SortMergeJoin"),
        ("token explode stays JVM-side", "Generate"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l28_boilerplate_scrub": [
        # Tier 1 at audit SF (<=100k docs): single-job broadcast
        # mark-join with the JVM lambda chunker — Python-free plan.
        ("frequent-chunk set joined via broadcast", "BroadcastHashJoin LeftOuter"),
        ("chunk counts partial+final", "HashAggregate"),
        ("no cartesian product", "!CartesianProduct"),
        ("tier 1 chunker is a JVM lambda, no Arrow transfer", "!ArrowEvalPython"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # Size-routed tier 2 (forced via the virtual @tier2 entry): the
    # map-side scrub — the collected boiler set means NO mark join and
    # NO groupBy(doc_id) rebuild; the only Exchange in the whole plan
    # is the final orderBy's range partitioning. At audit SF the set is
    # tiny (<=64) so membership is a constant-folded literal; the
    # searchsorted-UDF variant is equality-tested in test_short_docs.
    "l28_boilerplate_scrub@tier2": [
        ("no join anywhere — membership is map-side", "!Join"),
        ("corpus never hash-shuffles (only the output sort ranges)", "!hashpartitioning"),
        ("no explode of chunk strings", "!Generate"),
        ("no cartesian product", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # u5b tagged visit-level cohort: one branch per atom, unioned, then
    # the same bitmask gate, combined map-side before its one shuffle.
    "u5b_cohort_visit_counts": [
        ("tagged union of per-atom branches", "Union"),
        ("map-side partial bitmask combine", "partial_bit_or"),
    ],
    # u5d fused cohort: tagged UNION of predicate branches -> ONE
    # bitmask aggregate — the one-shuffle CNF plan (cohort.py).
    "u5d_cohort_visit_counts_fused": [
        ("tagged union of CNF branches", "Union"),
        ("dims broadcast inside branches", "BroadcastHashJoin"),
        ("bitmask agg partial+final", "HashAggregate"),
        ("no sort-merge join", "!SortMergeJoin"),
    ],
    "u5e_cohort_count_auto": [
        ("auto strategy picked the fused union plan", "Union"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    # ANN family: candidate generation is a bucket equi-join (hash
    # band / IVF cell), never all-pairs; Spark 4 pushes the per-probe
    # rank limit down as WindowGroupLimit (partial top-k before the
    # final window sort — the TakeOrderedAndProject of windows).
    "l3c_ann_lsh": [
        ("band-bucket equi-join", "BroadcastHashJoin"),
        ("top-k rank pushed down", "WindowGroupLimit"),
        ("no all-pairs cartesian", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l3e_ann_ivf": [
        ("cell assignment computed once and cached", "InMemoryTableScan"),
        ("centroid scoring is a broadcast cross of k centroids", "BroadcastNestedLoopJoin Cross"),
        ("cell equi-join for candidates", "BroadcastHashJoin"),
        ("top-k rank pushed down", "WindowGroupLimit"),
        ("no all-pairs cartesian", "!CartesianProduct"),
    ],
    "l3f_ann_ivf_trained": [
        ("trained centroids broadcast", "BroadcastExchange"),
        ("trained codebook broadcast for assignment + certificates", "BroadcastNestedLoopJoin Cross"),
        ("independent nearest-cell re-derivation partially aggregated", "HashAggregate"),
        ("final assignment pinned across the certificate consumers", "InMemoryTableScan"),
        ("top-k rank pushed down", "WindowGroupLimit"),
        ("no all-pairs cartesian", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l3g_ann_lsh_multiprobe": [
        ("probe expansion is a generate, not a self-join", "Generate"),
        ("bucket equi-join", "BroadcastHashJoin"),
        ("top-k rank pushed down", "WindowGroupLimit"),
        ("no all-pairs cartesian", "!CartesianProduct"),
    ],
    "l2f_minhash_threshold": [
        ("signatures computed once and reused", "InMemoryTableScan"),
        ("banded candidate equi-join", "BroadcastHashJoin"),
        ("no all-pairs cartesian", "!CartesianProduct"),
    ],
    "l2g_jaccard_prefix": [
        ("prefix tokens selected via rank window", "Window"),
        ("candidate generation is a prefix-token equi-join", "BroadcastHashJoin"),
        ("no all-pairs cartesian", "!CartesianProduct"),
    ],
    # TPC-H wide join trees: every dim side broadcast, EXISTS/IN
    # rewritten to semi joins, aggregates partial+final.
    "q3_shipping_priority": [
        ("top-k, not full sort", "TakeOrderedAndProject"),
        ("dims broadcast", "BroadcastHashJoin"),
        ("segment filter pushed to scan", "EqualTo(c_mktsegment,BUILDING)"),
    ],
    "q5_local_supplier_volume": [
        ("five-way join all broadcast", "BroadcastHashJoin"),
        ("region restriction as semi join", "LeftSemi"),
        ("no sort-merge join at this SF", "!SortMergeJoin"),
    ],
    "q8_market_share": [
        ("six-way join all broadcast", "BroadcastHashJoin"),
        ("part/region restrictions as semi joins", "LeftSemi"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "q9_product_profit": [
        ("profit join tree fully broadcast", "BroadcastHashJoin"),
        ("agg partial+final", "HashAggregate"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "l34_inverted_index": [
        ("postings built by two-stage agg (term,doc -> term)", "ObjectHashAggregate"),
        ("tf counts map-side combined first", "HashAggregate"),
        ("no cartesian product", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l37_bm25": [
        ("corpus stats broadcast as single-row cross", "BroadcastNestedLoopJoin Cross"),
        ("top-k, not full sort", "TakeOrderedAndProject"),
        ("df/tf joins broadcast", "BroadcastHashJoin"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    # r11 certified-contract plans. Gates avoid pinning AQE's
    # broadcast-vs-shuffle choice on the corpus-sized degree/cert joins
    # (no broadcast hint in the code — AQE upgrades at small SF, shuffles
    # at scale); they pin the invariants that must hold at EVERY SF.
    "l15_sequence_packing": [
        ("first-fit runs as ONE Arrow-grouped pass, pinned for all three certificate consumers", "FlatMapGroupsInPandas"),
        ("packed relation reused from cache, not recomputed", "InMemoryTableScan"),
        ("half-full certificate joined via broadcast (8 rows)", "BroadcastHashJoin"),
        ("no cartesian product", "!CartesianProduct"),
    ],
    "l35_pagerank_centrality": [
        ("kNN top-k pushed into the window sort", "WindowGroupLimit"),
        ("IVF assignment pinned across edge/degree/rank consumers", "InMemoryTableScan"),
        ("certificate scalars broadcast as single-row cross", "BroadcastNestedLoopJoin Cross"),
        ("no cartesian product", "!CartesianProduct"),
        ("no row-at-a-time python", "!BatchEvalPython"),
    ],
    "l32b_pca_project": [
        ("literal-array projections + Bessel check stay in codegen", "!BatchEvalPython"),
        ("global zero-mean/variance certificates partially aggregated", "HashAggregate"),
        ("certificate row broadcast as single-row cross", "BroadcastNestedLoopJoin Cross"),
        ("column pruning to vec_id+embedding", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
    ],
}


def mask_bucket(plan: str) -> str:
    """Staging-keyed session-catalog names (s14 buckets) embed the sf_dir
    fingerprint by design — not plan drift, and not stable across machines."""
    return re.sub(r"lws_bucket_[0-9a-f]+", "lws_bucket_x", plan)


def normalize_plan(plan: str) -> str:
    """Strip run-varying noise (expression ids, codegen stage ids, node
    numbers, paths, checkpointed RDD ids, the session counter in Python
    lambda variable names) so two runs of an unchanged query normalize
    identically, whatever ran before it — the unit of comparison for --diff.
    The operator tree stays readable for the diff; the node details
    (expressions, schemas, partitioning) enter as a digest, so an
    expression-only change drifts too."""
    plan = re.sub(r"#\d+L?", "#x", plan)
    plan = re.sub(r"lambda (\w+?)_\d+#", r"lambda \1_x#", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=x]", plan)
    plan = re.sub(r"\[codegen id : \d+\]", "[codegen id : x]", plan)
    plan = re.sub(r"\(\d+\)", "(x)", plan)
    plan = re.sub(r"file:[^\s,\]]+", "file:x", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[x]", mask_bucket(plan))
    tree = plan.split("\n\n")[0]  # the operator tree, before the node details
    return f"{tree}\nfull plan sha256: {hashlib.sha256(plan.encode()).hexdigest()}"


def main() -> int:
    import json

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    baseline_path = os.path.join(repo, "tools", "plan_baseline.json")
    registry.load_all()
    spark = get_spark("explain-report")
    failures = []
    snapshots: dict[str, str] = {}
    out = ["# PLANS — physical plan audit (auto-generated by tools/explain_report.py)\n"]
    def build(name: str):
        # Virtual entries audit size-routed plans the audit SF would
        # never take: l28's tier 2 (map-side scrub) only fires above
        # 100k docs, so force the route and explain THAT plan.
        if name == "l28_boilerplate_scrub@tier2":
            from lens_warehouse_spark.llm import curation

            saved = curation._L28_SMALL_DOCS
            curation._L28_SMALL_DOCS = 0
            try:
                return registry.QUERIES["l28_boilerplate_scrub"](spark, sf_dir)
            finally:
                curation._L28_SMALL_DOCS = saved
        return registry.QUERIES[name](spark, sf_dir)

    for name, checks in CHECKS.items():
        df = build(name)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"\n## {name}\n")
        for desc, needle in checks:
            if needle.startswith("!"):
                ok = needle[1:] not in plan
            else:
                ok = needle in plan
            mark = "PASS" if ok else "FAIL"
            if not ok:
                failures.append((name, desc))
            out.append(f"- {mark}: {desc} (`{needle}`)\n")
        head = mask_bucket(plan.split("\n\n")[0])
        out.append(f"\n```\n{head}\n```\n")
        snapshots[name] = normalize_plan(plan)
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.writelines(out)
    print(f"{len(CHECKS) - len({n for n, _ in failures})}/{len(CHECKS)} queries clean")
    for name, desc in failures:
        print(f"FAIL {name}: {desc}")

    drifted = []
    if "--diff" in flags:
        baseline = {}  # a missing baseline makes every plan NEW
        if os.path.exists(baseline_path):
            with open(baseline_path) as f:
                baseline = json.load(f)
        import difflib

        for name, now in sorted(snapshots.items()):
            if name not in baseline:
                drifted.append(name)
                print(f"NEW  {name}: no baseline plan")
                continue
            if baseline[name] != now:
                drifted.append(name)
                print(f"DRIFT {name}: physical plan changed since baseline")
                diff = difflib.unified_diff(
                    baseline[name].splitlines(),
                    now.splitlines(),
                    lineterm="",
                    n=1,
                )
                for line in list(diff)[2:12]:
                    print(f"  {line}")
        if not drifted:
            print(f"no plan drift across {len(snapshots)} snapshotted queries")
    if "--save" in flags:
        with open(baseline_path, "w") as f:
            json.dump(snapshots, f, indent=1, sort_keys=True)
        print(f"baseline saved: {baseline_path}")
    # A drifted or unbaselined plan fails like a failed check: re-save
    # with --save only once the new plan is confirmed intended.
    return 1 if failures or drifted else 0


if __name__ == "__main__":
    raise SystemExit(main())
