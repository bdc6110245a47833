"""Physical-plan regression guards: the scan-level optimizations the scale
story depends on (predicate pushdown, column pruning) must survive
refactors — a plan that silently reads all columns or post-filters in
Spark would still be CORRECT, so only a plan-shape test catches it."""

from __future__ import annotations

import contextlib
import io
import re


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_events_scan_pushes_filter_and_prunes_columns(spark, sf_small):
    from ccm_spark.sources.tables import events_pair_series

    plan = _formatted_plan(events_pair_series(spark, sf_small))
    # the event-type filter must reach the parquet scan
    assert "PushedFilters" in plan and "In(event_type" in plan
    # series prep needs 4 of 6 event columns; props/user_id must be pruned
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 400]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_ccm_plan_heavy_chain_appears_once(spark):
    """ccm_plan used to join skill with convergence(skill), which planned
    the ENTIRE fan-out -> kNN -> aggregation chain into both join branches
    (Catalyst does not dedup common subtrees across join inputs) — the
    flagship query's dominant cost, executed twice. R3 is now window
    aggregates over skill: pin that the chain's two row_number windows
    (bootstrap rank + kNN top-k) each appear exactly once in the physical
    plan, and that no join of the result relation remains downstream of
    the skill aggregation."""
    from ccm_spark.config import CCMConfig
    from ccm_spark.generators import coupled_series
    from ccm_spark.plans.cross_map import ccm_plan, release_cached

    x, y = coupled_series(length=60, coupling=0.4, noise_level=0.0)
    rows = [(0, t, float(x[t]), float(y[t])) for t in range(len(x))]
    series = spark.createDataFrame(rows, "pair_id long, t long, x double, y double")
    import re

    out = ccm_plan(series, CCMConfig(num_samples=3, lib_sizes=[20, 40], seed=1))
    try:
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # AQE's toString reprints one operator across nested query stages
        # with IDENTICAL expression ids; a genuinely duplicated subtree
        # gets FRESH expression ids per instance — so count distinct
        # row_number window specs: bootstrap rank + kNN top-k = exactly 2.
        specs = set(
            re.findall(r"row_number\(\) windowspecdefinition\([^)]*\)", plan)
        )
        assert len(specs) == 2
    finally:
        release_cached(out)


def test_jaccard_verify_broadcasts_via_aqe_without_hint(spark, sf_small):
    """The 100 TB-safe form of the LSH verify join: NO forced broadcast of
    the (unbounded) candidate-pair relation anywhere in the plan — AQE
    alone must still pick a broadcast join at test scale, where the pair
    set is genuinely small. Pins both halves: hint absent, broadcast
    chosen."""
    from ccm_spark.pipeline import dedup
    from ccm_spark.plans.cross_map import release_cached
    from ccm_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    out = dedup.minhash_lsh_duplicates(docs)
    try:
        out.collect()
        qe = out._jdf.queryExecution()
        # no broadcast hint survives anywhere in the analyzed plan
        assert "ResolvedHint" not in qe.analyzed().toString()
        # ...and AQE still picked a broadcast join for the verify step
        assert "BroadcastHashJoin" in qe.executedPlan().toString()
    finally:
        release_cached(out)


def test_ann_query_payloads_are_broadcast_not_closure_shipped():
    """The bounded-query ANN kernels must ship their query matrices / ADC
    tables via SparkContext.broadcast (once per executor), NOT capture the
    raw numpy arrays in the mapInPandas/UDF closure (re-pickled into every
    task binary — at a production query load, 1e5 queries x 512 dims is
    ~400 MB per task). Correctness is identical either way, so only a
    source-form pin catches a regression. Same fix as decontaminate_stream
    (round 4 -> 5); this pins cosine_topk / pq_topk / ivf_pq_topk /
    pq_adc_udf to the broadcast form."""
    import inspect

    from ccm_spark.functions import vector_udfs
    from ccm_spark.pipeline import similarity

    for fn in (similarity.cosine_topk, similarity.pq_topk, similarity.ivf_pq_topk):
        src = inspect.getsource(fn)
        assert "sparkContext.broadcast" in src, fn.__name__
    # ...and the inner kernels dereference the broadcast, proving the
    # arrays themselves are not ALSO captured alongside it
    for fn in (similarity.cosine_topk, similarity.pq_topk):
        src = inspect.getsource(fn)
        assert "bc.value" in src, fn.__name__
    assert "bc_query_tables.value" in inspect.getsource(vector_udfs.pq_adc_udf)


def test_bm25_query_joins_broadcast_no_cartesian(spark, sf_small):
    """Serving a query batch must add no corpus-sized shuffle: the query
    relations broadcast into the postings join and nothing plans a
    cartesian product."""
    from ccm_spark.pipeline.search import bm25_topk
    from ccm_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    out = bm25_topk(docs, ["spark shuffle partition"], k=5)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_documents_scan_prunes_to_needed_columns(spark, sf_small):
    from ccm_spark.pipeline import dedup
    from ccm_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    plan = _formatted_plan(dedup.minhash_index(docs))
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 400]
    # the signature needs only (doc_id, text); lang/source/n_chars pruned
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema


def test_html_extraction_is_one_narrow_projection(spark, sf_small):
    """extract_text must plan as a single stage: no Exchange anywhere (a
    shuffle in a per-row regex projection would be a plan bug), and the
    scan prunes to the consumed columns."""
    import pyspark.sql.functions as F

    from ccm_spark.pipeline.html import extract_text
    from ccm_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", F.col("text").alias("html")
    )
    out = extract_text(docs)
    plan = _formatted_plan(out)
    assert "Exchange" not in plan
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 400]
    assert "lang" not in read_schema and "source" not in read_schema


def test_probe_embedding_index_streaming_plan_is_stateless(spark, sf_small, tmp_path):
    """The ingestion-time embedding probe must stay a stateless
    stream-static join: no state store operator may appear in the
    streaming physical plan (state would mean an aggregation crept into
    the streaming side and the probe no longer runs in append mode with
    zero state)."""
    import pyspark.sql.functions as F

    from ccm_spark.pipeline.similarity import embedding_index, probe_embedding_index
    from ccm_spark.sources.tables import load_table

    embs = load_table(spark, sf_small, "embeddings").limit(200)
    idx = embedding_index(embs, planes=8, seed=99)
    inc = embs.where(F.col("vec_id") < 5)
    src = tmp_path / "probe_plan_src"
    src.mkdir()
    inc.coalesce(1).write.parquet(str(src / "p0"))
    stream = spark.readStream.schema(inc.schema).parquet(str(src / "p0"))
    out = probe_embedding_index(stream, idx["buckets"], idx["plane_values"])
    q = (
        out.writeStream.format("memory")
        .queryName("probe_plan_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_plan"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q.lastProgress["stateOperators"] if q.lastProgress else None
    assert plan == []  # zero stateful operators in the streaming plan


def test_cms_lookup_broadcasts_queries_sketch_never_moves(spark):
    """The CMS lookup must be a broadcast join (the sketch side is at
    most depth x width rows by construction) — a sort-merge join would
    shuffle both sides for a handful of probes."""
    from ccm_spark.pipeline.sketches import cms_build, cms_lookup

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string"
    )
    plan = _formatted_plan(cms_lookup(cms_build(docs), ["a", "b"]))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iteration_plan_is_flat(spark):
    """localCheckpoint per round must keep the Nth iteration's plan
    O(1): the 6-iteration result plan may contain the LAST round's two
    shuffles but not six nested copies of the contribution join."""
    from ccm_spark.pipeline.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 1.0)],
        "src string, dst string, weight double",
    )
    ranks = pagerank(edges, n_iters=6)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    # the checkpoint boundary shows up as a scan over an existing RDD;
    # earlier rounds' aggregates must NOT be re-planned downstream
    assert plan.count("HashAggregate") <= 8  # one round's worth, not six
    assert "Scan ExistingRDD" in plan


def test_warc_stream_plan_has_no_stateful_operators(spark, tmp_path):
    """Crawl ingestion is append-only enrichment: the streaming shard ->
    documents chain must plan without any stateful operator (no
    aggregation state to checkpoint, restart-safe by construction)."""
    import gzip

    from ccm_spark.sources.warc import warc_html_documents, warc_records_stream

    payload = b"HTTP/1.1 200 X\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:x>\r\nWARC-Target-URI: http://a.com/\r\n"
        b"Content-Type: application/http;msgtype=response\r\n"
        + f"Content-Length: {len(payload)}\r\n\r\n".encode()
        + payload
        + b"\r\n\r\n"
    )
    d = tmp_path / "w"
    d.mkdir()
    (d / "s.warc.gz").write_bytes(gzip.compress(rec))
    out = warc_html_documents(warc_records_stream(spark, str(d)))
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    progress = q.lastProgress
    q.stop()
    assert progress is not None and progress["stateOperators"] == []


def test_bottomk_build_never_window_ranks_the_full_relation(spark, sf_small):
    """The quantile sketch's scale claim: the full relation pays only a
    map-side-combined count and a hash-threshold FILTER; the window
    rank runs above the filter (on ~4k expected survivors), never on
    the raw relation. Pin: exactly one window in the plan, and a
    Filter on the hash threshold sits BELOW it (appears later in the
    formatted operator list, which prints top-down)."""
    import pyspark.sql.functions as F

    from ccm_spark.pipeline.sketches import bottomk_build

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", F.length("text").alias("doc_len")
    )
    import re

    plan = _formatted_plan(bottomk_build(docs, "doc_len", k=256))
    # the hash threshold gates rows BEFORE any rank: it shows up as the
    # broadcast join's condition (h <= _thresh), so only survivors flow on
    assert re.search(r"h#\d+L? <= _thresh", plan)
    assert "BroadcastExchange" in plan  # the 1-row threshold broadcasts
    # one rank operator, fed by the thresholded side; Catalyst even turns
    # the ungrouped rank<=k into TakeOrderedAndProject (local top-k merge)
    n_windows = len(re.findall(r"^\(\d+\) Window", plan, re.M))
    assert n_windows <= 1
    assert "TakeOrderedAndProject" in plan or n_windows == 1
    # the count side is a real partial aggregate (map-side combine)
    assert "partial_count" in plan


def _n_exchanges(plan: str) -> int:
    """Physical Exchange count from the detail section — the tree AND
    detail lines both contain the word, so a raw substring count
    double-counts every operator."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_cms_sketch_is_one_aggregation_exchange(spark, sf_small):
    """The gated CMS build: pruned scan (text only), map-side partial
    aggregate, exactly one exchange — a second exchange or an unpruned
    scan would be a silent scale regression."""
    from ccm_spark.pipeline.sketches import cms_build

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _formatted_plan(cms_build(docs))
    assert _n_exchanges(plan) == 1
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 200]
    assert "text" in read_schema and "doc_id" not in read_schema
    assert "partial_count" in plan  # map-side combine before the exchange


def test_warc_extract_fixture_plan_shape(spark, sf_small):
    """The gated WARC round trip: scan prunes to (doc_id, text), the
    shard assembly is the ONLY exchange, and the parse is one
    mapInPandas — no join anywhere."""
    from ccm_spark.entry import q_warc_extract

    plan = _formatted_plan(q_warc_extract(spark, sf_small))
    assert _n_exchanges(plan) == 1
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1


def test_bpe_encode_is_narrow_after_spread(spark, sf_small):
    """The gated BPE apply: one spread exchange (AQE-proof explicit
    repartition), then a single Arrow pass — no join, no aggregation."""
    from ccm_spark.entry import q_bpe_encode

    plan = _formatted_plan(q_bpe_encode(spark, sf_small))
    assert _n_exchanges(plan) == 1  # the spread only
    assert "Join" not in plan and "HashAggregate" not in plan


def test_classifier_features_have_no_window_exchange(spark, sf_small):
    """hashed_features carries the per-doc total from the scan (array
    size) instead of a doc_id window — pin that no Window operator and
    only the single aggregation exchange appear."""
    from ccm_spark.pipeline.classify import hashed_features

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _formatted_plan(hashed_features(docs))
    assert "Window" not in plan
    assert _n_exchanges(plan) == 1


def test_dsir_ratio_join_broadcasts(spark, sf_small):
    """The dim-bounded log-ratio relation must reach the raw feature
    counts as a broadcast join — a sort-merge join there shuffles the
    whole raw corpus on feat_idx for a KB-scale model."""
    import pyspark.sql.functions as F

    from ccm_spark.pipeline.dsir import dsir_log_weights

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    target = docs.where(F.col("doc_id") % 10 == 0)
    raw = docs.where(F.col("doc_id") % 10 != 0)
    plan = _formatted_plan(dsir_log_weights(raw, target))
    assert "BroadcastHashJoin" in plan


def test_quantize_embeddings_is_exchange_free(spark, sf_small):
    """int8 quantization must plan as one narrow projection — no
    Exchange anywhere (per-vector scale + codes are row-local), so it
    composes into any scan at zero shuffle cost."""
    from ccm_spark.pipeline.similarity import quantize_embeddings

    embs = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    plan = _formatted_plan(quantize_embeddings(embs))
    assert "Exchange" not in plan


def test_hll_registers_is_one_aggregation_exchange(spark, sf_small):
    """The HLL register relation is one explode + one map-side-combined
    hash aggregate — exactly one Exchange, no Window, no join."""
    from ccm_spark.pipeline.sketches import hll_registers

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _formatted_plan(hll_registers(docs, by=None))
    assert _n_exchanges(plan) == 1
    assert "Window" not in plan and "Join" not in plan


def test_classifier_serving_is_narrow_after_spread(spark, sf_small):
    """score_quality is one Arrow pass: exactly the spread's explicit
    repartition exchange and nothing else — no aggregation, no join, no
    window (the gated quality_classifier_scores row's serving half)."""
    from ccm_spark.pipeline.classify import score_quality

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    model = {"weights": {1: 0.5, 7: -0.25}, "bias": 0.125, "dim": 256}
    plan = _formatted_plan(score_quality(docs, model))
    assert _n_exchanges(plan) == 1
    assert "Window" not in plan and "Join" not in plan


def test_chunk_documents_plan_is_map_only(spark, sf_small):
    """Chunking is a corpus rewrite: the only exchange allowed is the
    explicit spread() respread (near-no-op on a multi-split cluster
    read). A second exchange would mean the generate or slice planned a
    shuffle — chunking would then scale with interconnect, not scan."""
    from ccm_spark.pipeline.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _formatted_plan(chunk_documents(docs, max_tokens=32, stride=24))
    # formatted plans print each node twice (tree + detail): count nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    # column pruning: only doc_id + text reach the scan
    scan = plan[plan.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 300]
    assert "doc_id" in rs and "text" in rs
    assert "lang" not in rs and "source" not in rs


def test_winnow_plan_single_doc_partitioning(spark, sf_small):
    """Winnowing shuffles at most twice (the explicit respread + the
    doc-partitioned rolling-min window; the final distinct is partial-
    aggregated map-side into the same doc hash partitioning). Grams must
    never leave their document: every hash exchange keys on doc_id."""
    import re

    from ccm_spark.pipeline.chunking import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _formatted_plan(winnow_fingerprints(docs, k=5, w=4))
    hashparts = re.findall(r"hashpartitioning\(([^),]+)", plan)
    assert hashparts and all(h.startswith("doc_id") for h in hashparts), hashparts


def test_interval_join_plans_no_nested_loop(spark):
    """The whole point of the bucketed range join: the plan must be a
    hash/sort-merge equi-join on the bucket key, never the
    BroadcastNestedLoopJoin a raw theta join degenerates to."""
    import pyspark.sql.functions as F

    from ccm_spark.pipeline.events_ops import interval_join

    intervals = spark.range(50).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * 1000).alias("lo_us"),
        (F.col("id") * 1000 + 1500).alias("hi_us"),
    )
    events = spark.range(500).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros((F.col("id") * 97).cast("long")).alias("ts"),
    )
    plan = _formatted_plan(interval_join(intervals, events, bucket_us=1000))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan


def test_fleet_kernels_run_one_range_partition_per_core(spark):
    """The per-key Python kernels (CCM fast path, the significance fleet
    scans) shuffle once, by range, into exactly defaultParallelism
    partitions: a Python task costs ~0.2 s to start, so a return to
    per-pair hash tasks is a throughput regression this pins."""
    from ccm_spark.config import CCMConfig
    from ccm_spark.fastpath import ccm_apply_in_pandas
    from ccm_spark.significance import ccm_lag_scan_fleet

    series = spark.createDataFrame(
        [(p, t, float(t), float(t * p)) for p in range(3) for t in range(40)],
        "pair_id long, t long, x double, y double",
    )
    cfg = CCMConfig(num_samples=2, lib_sizes=[20], seed=1)
    n = spark.sparkContext.defaultParallelism
    for out in (ccm_apply_in_pandas(series, cfg), ccm_lag_scan_fleet(series, cfg)):
        plan = _formatted_plan(out)
        assert _n_exchanges(plan) == 1
        assert re.search(
            rf"Arguments: rangepartitioning\(pair_id#\d+L ASC NULLS FIRST, {n}\)",
            plan,
        )
        assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
