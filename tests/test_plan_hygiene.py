"""Physical-plan hygiene: the optimizations the 100 TB design leans on must
actually appear in the plans — pushed filters reach the parquet scan,
column pruning holds, small dimensions broadcast, hot relational paths stay
inside whole-stage codegen (no Python evaluation nodes)."""

from __future__ import annotations


from conftest import SF_CORRECT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    from wde_spark.queries import QUERIES

    df = QUERIES["q1_pricing_summary"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused wide columns must not be read
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_q5_broadcasts_small_dims(spark):
    from wde_spark.queries import QUERIES

    df = QUERIES["q5_local_supplier_volume"](spark, SF_CORRECT)
    df.collect()  # execute THIS plan so AQE finalizes it (codegen visible)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(" in plan


def test_relational_paths_have_no_python_nodes(spark):
    """Every oracle-checked relational/window/dedup query must stay JVM-side
    (Arrow/Python evaluation only where declared: qdict, multimodal)."""
    from wde_spark.queries import QUERIES

    python_ok = {"multimodal_frames", "multimodal_features"}
    offenders = {}
    for name in [
        "q1_pricing_summary", "q3_shipping_priority", "lww_latest_order",
        "topk_orders_per_customer", "window_frames_running",
        "carry_forward_purchase", "word_count_top100",
        "exact_dedup_documents", "minhash_signatures_documents",
        "neardup_lsh_verified", "quality_score_documents",
        "cosine_topk_embeddings", "embedding_neardup_exact",
        "resolve_ladder_parts", "session_events",
    ]:
        plan = _plan(QUERIES[name](spark, SF_CORRECT))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan \
                or "MapInPandas" in plan:
            offenders[name] = True
    assert not offenders, f"Python nodes in hot paths: {list(offenders)}"


def test_exact_dedup_single_shuffle(spark):
    """Tier-1 dedup must be exactly one exchange (the groupBy on the
    fingerprint) — no extra sorts/shuffles."""
    from wde_spark.queries import QUERIES

    plan = _plan(QUERIES["exact_dedup_documents"](spark, SF_CORRECT))
    # repartition (spread) + the agg exchange; no join/sort exchanges
    assert plan.count("Exchange hashpartitioning") == 1


def test_q6_all_predicates_pushed(spark):
    """Q6: every filter (date range, discount band, quantity cap) must reach
    the parquet scan as a pushed filter AND only the 4 needed columns of 11
    are read."""
    from wde_spark.queries import QUERIES

    plan = QUERIES["q6_forecast_revenue"](spark, SF_CORRECT) \
        ._jdf.queryExecution().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    # column pruning: the scan reads exactly the 4 needed columns of 11
    cols = scan.split("[", 1)[1].split("]", 1)[0]
    assert sorted(c.split("#")[0] for c in cols.split(",")) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]
    # all three predicate families are in the scan's data filters (the
    # PushedFilters list itself is elided in toString after ~100 chars)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"isnotnull({col}" in scan, f"filter on {col} not at the scan"
    assert "PushedFilters: [IsNotNull(" in scan


def test_asof_join_single_shuffle(spark):
    """The as-of join must be ONE exchange (the union shuffled on the key) —
    never a range-join pair explosion or a nested-loop join."""
    from wde_spark.queries import QUERIES

    plan = _plan(QUERIES["asof_join_purchase_view"](spark, SF_CORRECT))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_not_nested_loop(spark):
    """Bucketed range join must execute as a hash/sort-merge equi join on
    (key, bucket), not a broadcast nested loop."""
    from wde_spark.queries import QUERIES

    plan = _plan(QUERIES["range_join_error_clicks"](spark, SF_CORRECT))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_q2_min_side_broadcasts(spark):
    from wde_spark.queries import QUERIES

    df = QUERIES["q2_cheapest_part_per_brand"](spark, SF_CORRECT)
    df.collect()
    assert "BroadcastHashJoin" in _plan(df)


def test_merge_changeset_never_shuffles_snapshot(spark):
    """MERGE must broadcast the changeset side (left join + union shape) —
    zero exchanges, so a 100 TB snapshot is merged in one scan. A full-outer
    formulation would force a shuffle of both sides (Spark cannot broadcast
    full outer joins)."""
    from wde_spark.queries import QUERIES

    df = QUERIES["merge_changeset_orders"](spark, SF_CORRECT)
    df.collect()  # let AQE finalize join strategies
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_global_sort_uses_range_partitioning(spark):
    """A global ORDER BY must execute as sampled range partitioning (every
    partition sorted AND partitions globally ordered) — never a single-task
    global sort."""
    from wde_spark.core.catalog import load_table

    df = load_table(spark, SF_CORRECT, "orders").orderBy("o_totalprice")
    plan = _plan(df)
    assert "rangepartitioning" in plan.lower()


def test_curation_row_local_ops_have_no_exchange(spark):
    """Repetition stats, PII redaction, and chunking are single-scan
    row-local transforms — their plans must contain NO shuffle exchange
    beyond the declared spread repartition, and no Python nodes."""
    from wde_spark.queries import QUERIES

    for name in ("repetition_stats_documents", "pii_redact_documents",
                 "chunk_documents_windows"):
        plan = _plan(QUERIES[name](spark, SF_CORRECT))
        assert plan.count("Exchange hashpartitioning") == 0, name
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name


def test_decontaminate_broadcasts_benchmark(spark):
    """Decontamination must broadcast the benchmark shingle set — the corpus
    side must never shuffle payloads for the overlap join."""
    from wde_spark.queries import QUERIES

    df = QUERIES["decontaminate_documents"](spark, SF_CORRECT)
    df.collect()  # AQE finalize
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_lsh_multi_candidate_join_is_equi(spark):
    """Multi-table LSH must meet candidates through a signature equi-join —
    never a nested loop / cartesian product."""
    from wde_spark.queries import QUERIES

    plan = _plan(QUERIES["lsh_ann_embeddings"](spark, SF_CORRECT))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_streaming_pq_query_path_reads_no_floats(spark):
    """The maintained-index ADC query path must rank purely on the codes
    table: its executed plan reads the COW parquet codes version + the
    broadcast per-query LUTs, and the embedding (float) column appears
    ONLY on the bounded query side (8 vectors), never in an item-side
    scan — at 100 TB the float column is cold storage."""
    from wde_spark.queries import QUERIES

    df = QUERIES["streaming_pq_adc_ann"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().toString()
    # item side: the codes table scan (maintained index), no embeddings
    # parquet among the scanned files of the final plan
    assert "codes" in plan
    assert "embeddings.parquet" not in plan.split("== Physical Plan ==")[-1]


def test_no_cartesian_or_undeclared_python_anywhere(spark):
    """Blanket sweep over the ENTIRE registry: no query's plan may contain
    a cartesian product / broadcast nested loop (the two exact-baseline
    queries declare a bounded one) or Python evaluation outside the
    declared Arrow boundaries (multimodal kernels, ANN signature/quantizer
    UDFs). Catches any future query that accidentally regresses to a
    cross product or a row-at-a-time UDF."""
    from wde_spark.queries import QUERIES

    # declared: the exact all-pairs baselines (oracle anchors, bounded
    # inputs by construction), plus queries whose "nested loop" is a
    # broadcast of a ONE-ROW aggregate (the scalar-subquery physical form:
    # total-revenue / threshold / corpus-size sides — O(n), scale-safe)
    cartesian_ok = {"embedding_neardup_exact", "hybrid_neardup_pairs",
                    "cosine_topk_embeddings", "lsh_ann_recall_gate",
                    "ivf_ann_recall_gate",
                    # PQ ADC scan: broadcast of the (bounded) per-query
                    # lookup tables against the codes column — the
                    # embarrassingly-parallel scan shape, like cosine_topk
                    "pq_ann_embeddings", "pq_ann_recall_gate",
                    "ivfpq_ann_recall_gate", "streaming_pq_adc_ann",
                    # same ADC scan over the delta-ledger index's
                    # folded base
                    "pq_codes_compaction_ann",
                    "q11_supplier_share", "q22_idle_rich_customers",
                    "tfidf_top_terms_documents",
                    # expectations: each FK/unique part crossJoins a
                    # ONE-ROW total aggregate — bounded by construction
                    "data_quality_orders",
                    # recall audit: the summary row crossJoins three
                    # ONE-ROW count aggregates; the sample's exact
                    # all-pairs truth is its declared bounded design
                    "dedup_recall_audit_documents",
                    # embedding-side mirror of the same audit shape
                    "embedding_recall_audit_embeddings",
                    # residual IVFPQ: ADC scan broadcasts the bounded
                    # per-query LUTs, like the other PQ gates
                    "ivfpq_residual_recall_gate",
                    # term distributions crossJoin a ONE-ROW total
                    # (denominator) — O(vocabulary), scale-safe
                    "corpus_drift_documents",
                    # cell-population distributions: same ONE-ROW total
                    # shape over 16-row tables
                    "cluster_drift_embeddings",
                    # LM scoring crossJoins the ONE-ROW vocabulary size
                    "lm_quality_documents",
                    # scorecard embeds the same LM scoring shape
                    "source_scorecard_documents",
                    # cluster scorecard: same LM/NB ONE-ROW and L-ROW
                    # broadcast frames, rolled up by k-means cell
                    "cluster_scorecard_embeddings",
                    # perplexity terciles embed the same LM ONE-ROW
                    # vocabulary crossJoin as their scorer
                    "ccnet_perplexity_buckets_documents",
                    # the composed pipeline embeds the same LM-scoring
                    # ONE-ROW vocabulary crossJoin as its fluency gate
                    "curation_pipeline_documents",
                    # DSIR ratio crossJoins BOTH models' ONE-ROW
                    # vocabulary sizes — same scalar-subquery shape
                    "dsir_sample_documents",
                    # quality-ranked quota draw embeds the same LM
                    # ONE-ROW vocabulary crossJoin as its scorer
                    "quality_quota_sample_documents",
                    # DoReMi EG step: ONE-ROW vocab (ratio scoring) +
                    # ONE-ROW token-mass and normalizer totals
                    "doremi_mixture_documents",
                    # pinned 3-step EG schedule: same ONE-ROW frames,
                    # one normalizer broadcast per unrolled step
                    "doremi_schedule_documents",
                    # NB grid crossJoins the L-ROW priors table (L =
                    # label count, single digits) — O(n·L), scale-safe
                    "nb_classify_documents",
                    # slice-pair frame: L-ROW sizes × L-ROW sizes — the
                    # output is L²/2 rows by design, corpus-size-free
                    "source_overlap_documents",
                    # same slice-pair frame at window-hash granularity
                    "substr_leakage_documents",
                    # kNN label propagation: the transpose of the
                    # cosine_topk scan — broadcast SEED against the
                    # streaming corpus, row-local scoring
                    "knn_label_propagation_embeddings",
                    # CCNet rollup embeds the same LM ONE-ROW vocabulary
                    # crossJoin as the tercile query it composes
                    "ccnet_source_scorecard_documents"}
    # declared Arrow/Python boundaries
    python_ok = {"multimodal_frames", "multimodal_features",
                 "multimodal_resize", "multimodal_audio_chunks",
                 "lsh_ann_embeddings", "lsh_ann_recall_gate",
                 "ivf_ann_embeddings", "ivf_ann_recall_gate",
                 "pq_ann_embeddings", "pq_ann_recall_gate",
                 "ivfpq_ann_recall_gate", "ivfpq_residual_recall_gate",
                 # banded-LSH signature UDF (Arrow) feeds the audit's
                 # pipeline side
                 "embedding_recall_audit_embeddings",
                 "resolve_ladder_parts", "hybrid_neardup_pairs",
                 # frame slicing is the declared multimodal Arrow kernel
                 # (frame_sample feeding the JVM-side run detection)
                 "frame_runs_multimodal",
                 # the k-means cell-assignment kernel (the same
                 # Arrow-vectorized argmin the IVF paths declare)
                 "kmeans_clusters_embeddings", "cluster_cap_embeddings",
                 "cluster_scorecard_embeddings",
                 "cluster_prototypes_embeddings",
                 "cluster_drift_embeddings",
                 # quota draw embeds the same k-means argmin kernel
                 "quality_quota_sample_documents",
                 # BPE-exact counting: the declared distinct-pretoken
                 # Arrow encoder (Heaps'-law sized input, never corpus)
                 "packed_bpe_sequences_documents",
                 # moment accumulation is the declared Arrow kernel
                 # (numpy X.T@X per partition, one state row out)
                 "pca_incremental_moments_embeddings",
                 # media codec kernels (r9): PNG build/decode/resample/
                 # re-encode chain, WAV synth/decode, pixel-fingerprint
                 # dedup, decoded-sample energy windows — all row-local
                 # mapInPandas, zero shuffle
                 "multimodal_thumbnails", "multimodal_audio_decoded",
                 "image_pixel_dedup_documents",
                 "audio_energy_windows_documents",
                 # palette+tRNS tier (r9): indexed-color encode → tRNS-aware
                 # decode → RGBA fingerprint, row-local mapInPandas
                 "image_palette_rgba_documents",
                 # GIF container (LZW encode/decode + interlace) through
                 # the same row-local RGBA stats kernel
                 "gif_rgba_documents",
                 # animated GIF compositing: multi-frame synth + canvas
                 # snapshot fingerprints, row-local mapInPandas
                 "gif_animation_frames_documents",
                 # BMP container (DIB tiers + shared RLE codec) through
                 # the same row-local RGBA stats kernel
                 "bmp_rgb_documents",
                 # QOI container (run/index/diff/luma state machine)
                 # through the same row-local RGBA stats kernel
                 "qoi_rgba_documents",
                 # baseline JPEG (DCT + Huffman + DPCM) through the same
                 # row-local stats kernel; the color twin adds the
                 # fixed-point YCbCr transforms
                 "jpeg_gray_documents", "jpeg_color_documents",
                 "jpeg420_restart_documents",
                 # mixed-format audio (stereo/8-bit) through the decoded
                 # energy windows — same row-local codec kernels
                 "audio_energy_mixed_documents",
                 # G.711 companded tiers (mu-law/A-law expansion) through
                 # the same row-local codec kernels
                 "audio_energy_g711_documents",
                 # IMA ADPCM predictive tier: block synth + nibble state
                 # machine, row-local mapInPandas
                 "audio_adpcm_decoded_documents",
                 # real video decode (uncompressed AVI tier): container
                 # synth + frame-stats kernels, row-local mapInPandas
                 "video_frames_decoded_documents",
                 # compressed video (BI_RLE8 tier): same row-local
                 # synth/decode kernel chain, zero shuffle
                 "video_rle_frames_documents",
                 # transparent thumbnails through the indexed tier —
                 # same decode/resample/re-encode kernel chain
                 "palette_thumbnails_documents",
                 # FFD packing: the declared per-bucket grouped Arrow
                 # fold behind ONE exchange on the bucket key
                 "ffd_packed_documents",
                 # TIFF PackBits container (r10): per-row RLE coder
                 # through the same row-local RGBA stats kernel
                 "tiff_packbits_documents",
                 # segment-parallel JPEG (r10): two row-local kernels
                 # (split, per-segment decode) + the declared grouped
                 # reassembly behind ONE media_id shuffle
                 "jpeg420_segment_parallel_documents"}
    bad = {}
    for name, fn in QUERIES.items():
        try:
            plan = _plan(fn(spark, SF_CORRECT))
        except Exception as e:  # a query that cannot even plan is a failure
            bad[name] = f"plan error: {e}"
            continue
        has_cart = ("CartesianProduct" in plan
                    or "BroadcastNestedLoopJoin" in plan)
        has_py = ("BatchEvalPython" in plan or "ArrowEvalPython" in plan
                  or "MapInPandas" in plan
                  or "FlatMapGroupsInPandas" in plan)
        if has_cart and name not in cartesian_ok:
            bad[name] = "cartesian/nested-loop join"
        if has_py and name not in python_ok:
            bad[name] = bad.get(name, "") + " undeclared python node"
    assert not bad, f"plan regressions: {bad}"


def test_no_unbounded_driver_collect_in_package_source():
    """Source-level guard: every `.collect()` in the package must be one of
    the explicitly adjudicated BOUNDED driver materializations (limit-capped,
    one-row aggregate, or model/metadata state whose size is a parameter,
    never the corpus). A new `.collect()` anywhere else fails this test —
    the round-6 verdict's `stateful_sessions_events` full-table collect is
    exactly the regression class this keeps out."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "wde_spark"
    # (filename, required substring of the collecting line) — each entry is
    # bounded by construction; see the file:line comments.
    allowed = [
        # limit-capped reinjection name map, explicit raise above the cap
        ("plans/reinject.py", ".limit(max_names + 1).collect()"),
        # per-partition byte counters -> one int per partition
        ("plans/reinject.py", "raw.rdd.mapPartitions(work).collect()"),
        # one-row manifest total per micro-batch
        ("streaming/export_admission.py", '.collect()[0]["n_total"]'),
        # freqItems sketch: one row of <= 1/support items
        ("queries_ext.py", 'd.stat.freqItems(["source"], 0.04)'),
        # exact frequent sources: <= 1/support rows by definition
        ("queries_ext.py", "truth = {r.source for r in exact.collect()}"),
        # 256 bucket totals (two-phase prefix sum)
        ("operators/layout.py", 'sorted((r["_bkt"], r["_t"])'),
        # BPE small-vocab arm: collect gated on seg.count() <=
        # local_vocab_max — bounded by the threshold, Heaps'-law sized
        ("operators/bpe.py", '"".join(r["sym"]): r["freq"]'),
        # per-difficulty-value counts (curriculum staging): bounded by
        # the max_domain post-check (explicit raise with coarsening
        # guidance); plain collect because CollectLimit costs ~0.3 s
        # per call (see sampling.py comment)
        ("operators/sampling.py",
         'd.groupBy("_dnull", "_diff")'),
        # segment-parallel JPEG reassembly: one row per restart segment,
        # payload n_mcus*blocks*64 bytes — bounded by the single image's
        # pixel count (<= _MAX_PIXELS), never a corpus
        ("operators/multimodal.py",
         'kernel, "seg_id int, blocks binary").collect()'),
        # per-(stage, md5-prefix) totals: n_stages x 256 rows
        ("operators/sampling.py", 'keyed.groupBy("stage", "_bkt")'),
        # moment-state merge: one dim²-wide row per PARTITION (bounded
        # by cluster width, the bucket-totals class)
        ("operators/pca.py", "one row per partition: bounded state"),
        # k-means / PQ codebook state, bounded by n_cells / k_codes
        ("operators/similarity.py", ".limit(n_cells).select"),
        ("operators/similarity.py", ".limit(k_codes).select"),
        # centroid / codebook refresh rows: one row per cell / (sub, code)
        ("operators/similarity.py", 'F.col("pm.m").alias("cv")'),
        ("operators/similarity.py", 'F.col("pm.mv").alias("cv")'),
        # query vectors (k-NN probes): limit-capped with an explicit raise
        ("operators/similarity.py", ".limit(max_queries + 1).collect()"),
        # maintained codebook state: n_cells x dim rows (16x64)
        ("streaming/codebook_maintenance.py", "bounded model state"),
        # CLI endpoints materialize small reports by design
        ("__main__.py", ".collect()"),
    ]
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        text = path.read_text()
        lines = text.splitlines()
        for i, line in enumerate(lines):
            if ".collect()" not in line:
                continue
            ctx = "\n".join(lines[max(0, i - 1): i + 2]) + "\n"
            if any(rel == f and (s in line or s in ctx)
                   for f, s in allowed):
                continue
            offenders.append(f"{rel}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "unadjudicated .collect() in package source (bounded? add to the "
        f"allowlist with a justification): {offenders}")


def test_resolve_offline_plan_one_kernel_broadcast_cache(spark):
    """resolve_offline = assign(attach_candidates(nt), cache) runs one
    Python node, the per-catalogue ladder kernel, once; the cache joins
    as a broadcast on the query string, and no join brings the probe rows
    back to their rows."""
    import re

    from wde_spark.plans.resolve import resolve_offline
    from wde_spark.sources.cache import CACHE_SCHEMA

    nt = spark.createDataFrame(
        [("C1", 0, 0, "C1_e1", "ADANSON (Michel)", "botaniste. 1727-1806"),
         ("C1", 1, 0, "C1_e2", "le même.", "")],
        "catalogue_id string, item_pos int, row_pos int, xml_id string, "
        "name string, trait string")
    cache = spark.createDataFrame(
        [("a", "adanson", "Q1", "t", "s", True)], CACHE_SCHEMA)
    df = resolve_offline(nt, cache)
    df.collect()  # finalize AQE
    plan = _plan(df).split("== Initial Plan ==")[0]
    python_nodes = re.findall(r"\b\w*(?:Pandas|EvalPython|InArrow)\b", plan)
    assert python_nodes == ["FlatMapGroupsInPandas"]
    assert plan.count("_ladder_by_catalogue(") == 1
    assert re.search(r"BroadcastHashJoin \[qstr#\d+\], \[qstr#\d+\]", plan)
    assert "SortMergeJoin" not in plan


def test_enrich_offline_plan_one_exchange(spark):
    """enrich_offline partitions the documents by qid once; its three
    aggregations reuse that partitioning, so the plan has one shuffle, no
    window and no join."""
    import json

    from wde_spark.plans.enrich import enrich_offline

    doc = {"head": {"vars": ["occ", "never"]}, "results": {"bindings": [
        {"occ": {"type": "literal", "value": "Writer"}},
        {"occ": {"type": "literal", "value": "writer!"}}]}}
    raw = spark.createDataFrame(
        [("Q1", 0, json.dumps(doc)), ("Q2", 0, json.dumps(doc))],
        "qid string, query_idx int, json string")
    df = enrich_offline(raw)
    assert {r.qid: dict(r.enrichment) for r in df.collect()} == {
        q: {"occ": ["Writer"], "never": []} for q in ("Q1", "Q2")}
    plan = _plan(df).split("== Initial Plan ==")[0]
    exchanges = [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith("+- Exchange hashpartitioning(qid#")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("from_json") == 1


def test_segment_parallel_split_decode_stays_narrow(spark):
    """The segment-parallel JPEG pipeline's decode kernel caches the
    JFIF header it sees on seg_id 0 per task, which is only sound while
    the split->decode chain is NARROW (no repartition between the two
    mapInPandas kernels — same task, stable row order). Pin the shape:
    exactly ONE exchange in the whole pipeline (the media_id
    reassembly), and both the split and decode kernels sit BELOW it on
    the map side. If a repartition ever slips between them, this fails
    before images silently null-route."""
    from wde_spark.operators.multimodal import (attach_jpegs_420_dri,
                                                segment_parallel_rgba_stats)
    from wde_spark.core.catalog import load_table

    docs = load_table(spark, SF_CORRECT, "documents") \
        .filter("doc_id < 20")
    media = attach_jpegs_420_dri(docs)
    df = segment_parallel_rgba_stats(media)
    df.collect()  # finalize AQE so the real exchange placement shows
    # the finalized string repeats the tree under '== Initial Plan ==';
    # pin the executed (final) section only
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    # plan prints root-first: reassemble above the media_id exchange,
    # split+decode intact below it (same task, narrow chain)
    exch = plan.index("Exchange hashpartitioning")
    assert plan.index("reassemble_kernel") < exch
    assert plan.index("decode_kernel") > exch
    assert plan.index("split_kernel") > plan.index("decode_kernel")


def test_clustered_ledger_range_read_is_one_pruned_scan(spark):
    """The clustered-ledger range read must be ONE FileScan of the
    folded base with the range predicates PUSHED to parquet (entry
    pruning happened at plan time; the clustered footer min/max does
    the rest inside the scan) — no LWW window, no join, no union."""
    from wde_spark.queries import QUERIES

    df = QUERIES["ledger_clustered_range_documents"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id" \
        in plan
    exec_plan = _plan(df)
    assert exec_plan.count("FileScan parquet") == 1
    assert "Window" not in exec_plan and "Join" not in exec_plan
    # column pruning: text (the wide column) never read
    assert "text" not in plan.split("ReadSchema")[1][:200]
