"""Physical-plan shape assertions — the 100 TB contract.

Correctness tests prove the operators right; these prove they would still
be the *right plans* at 1000× the data: pushdown reaches the scan, small
dims broadcast, aggregations combine map-side, the decode stage is
shuffle-free, and scans prune columns.
"""

import os

import pytest
from pyspark.sql import functions as F

from binlog_spark import genlog, pipeline, plans
from binlog_spark.operators.decode import decode_frames, discover_stream_meta
from binlog_spark.queries import (
    join_broadcast_part_counts,
    tpch_q1_pricing,
    tpch_q3_topk,
)
from binlog_spark.wire import constants as C


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    gen = genlog.CdcWorldGenerator(seed=3, txns_per_file=50)
    result = gen.generate(n_txns=60)
    d = str(tmp_path_factory.mktemp("frames_plan"))
    genlog.write_frames_parquet(result, d)
    return pipeline.read_frames(spark, d)


def test_tablemap_scan_pushes_etype_filter(spark, frames):
    scan = frames.where(
        F.col("etype").isin(C.E_TABLE_MAP, C.E_FORMAT_DESCRIPTION))
    assert plans.has_pushed_filter(scan, "etype"), plans.physical_plan(scan)


def test_decode_stage_is_shuffle_free(spark, frames):
    meta = discover_stream_meta(frames)
    decoded = decode_frames(spark, frames, meta, genlog.table_registry())
    # scan -> project -> mapInPandas: zero Exchange nodes
    assert plans.count_shuffles(decoded) == 0, plans.physical_plan(decoded)


def test_replay_change_set_is_one_shuffle_free_stage(spark, frames,
                                                     tmp_path, monkeypatch):
    """The change set a whole-file batch persists is decoded and
    transaction-assembled in the scan's own tasks: no Window node, no
    Exchange."""
    from binlog_spark.operators.merge import LakeTable

    cls = type(frames)
    real = cls.persist
    persisted = []

    def capture(self, *a, **kw):
        persisted.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", capture)
    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    stats = pipeline.replay_batch(spark, frames, lake,
                                  genlog.table_registry(), batch_id=0)
    assert stats["fallback_files"] == 0
    (changes,) = persisted
    plan = plans.physical_plan(changes)
    assert "Window" not in plan, plan
    assert plans.count_shuffles(changes) == 0, plan


def test_dim_join_broadcasts(spark, sf_dir):
    df = join_broadcast_part_counts(spark, sf_dir)
    assert plans.has_broadcast_join(df), plans.physical_plan(df)
    df3 = tpch_q3_topk(spark, sf_dir)
    assert plans.has_broadcast_join(df3)


def test_agg_has_map_side_partial(spark, sf_dir):
    df = tpch_q1_pricing(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "partial" in plan.lower(), plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    two = li.select("l_orderkey", "l_quantity")
    rs = plans.scan_read_schema(two)
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs, rs


def test_q1_filter_pushdown(spark, sf_dir):
    df = tpch_q1_pricing(spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_shipdate"), plans.physical_plan(df)


def test_txn_assembly_has_no_global_window(spark, sf_dir):
    """The running transaction count must not funnel every row through a
    single-partition window (the r1 scale-killer): the bulk window is
    partitioned by event-id segment, and only the tiny one-row-per-segment
    prefix (broadcast back via a join) is globally ordered."""
    from binlog_spark.queries import cdc_txn_assembly

    df = cdc_txn_assembly(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "hashpartitioning(seg" in plan, plan
    assert plans.has_broadcast_join(df), plan


def test_sim_topk_plan_vectorized_and_partial(spark, sf_dir):
    """The ANN ranking contract: the dot product must be the Arrow kernel
    (not an interpreted Catalyst higher-order lambda), and the per-query
    top-k must pre-aggregate a bounded candidate list per input partition
    instead of shuffling the whole scored corpus into n_queries tasks."""
    from binlog_spark.queries import sim_cosine_topk_q

    df = sim_cosine_topk_q(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "zip_with" not in plan, plan        # no interpreted HOF kernel
    assert "ArrowEvalPython" in plan, plan     # vectorized Arrow dot product
    assert "MapInPandas" in plan, plan         # bounded partial top-k fold


def test_minhash_signature_is_shuffle_free(spark, sf_dir):
    """Shingling + hashing + the per-doc signature minima are one narrow
    Arrow stage: no token-level shuffle, no per-doc aggregation exchange
    (the r2 verdict's finding #4)."""
    from binlog_spark.operators.dedup import minhash_signature

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sig = minhash_signature(docs, n=3, num_hashes=8)
    plan = plans.physical_plan(sig)
    assert plans.count_shuffles(sig) == 0, plan
    assert "MapInPandas" in plan, plan
    # exactly ONE kernel stage: a filter on a UDF column would split into
    # two Arrow stages and compute every signature twice
    assert _n_nodes(plan, "MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_ngram_jaccard_registered_with_hot_shingle_cut(spark, sf_dir):
    """The driver-checked configuration must carry the max_df fanout cut
    (broadcast anti join against the hot-shingle list) — without it one
    stop-word shingle makes candidate generation O(posting^2)."""
    from binlog_spark.queries import dedup_ngram_jaccard_q

    df = dedup_ngram_jaccard_q(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert plans.has_broadcast_join(df), plan


def test_exact_near_dup_block_guard(spark):
    """The O(B²) exact near-dup baseline fails fast above max_block
    instead of silently launching a quadratic stage (its at-scale
    replacement is lsh_near_dup_pairs)."""
    from binlog_spark.operators.similarity import embedding_near_dup_pairs

    rows = [(i, "hot", [float(i % 3), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, label string, "
                                     "embedding array<double>")
    with pytest.raises(ValueError, match="max_block"):
        embedding_near_dup_pairs(df, threshold=0.5, max_block=10)
    # under the bound (or waived) it runs the exact all-pairs join
    assert embedding_near_dup_pairs(df, threshold=100.0,
                                    max_block=64).count() == 0
    n = embedding_near_dup_pairs(df, threshold=0.0, max_block=None).count()
    assert n == 50 * 49 // 2


def test_arrow_fold_single_key_shuffle(spark, frames):
    """The fold plan: ONE Exchange (hash on the row key) feeding an
    in-partition sort + the columnar Arrow fold — no second
    shuffle, no interpreted higher-order `aggregate(...)` lambda in the
    hot path, and no per-row map materialization (decode's window
    shuffle on `file` is upstream and expected)."""
    from binlog_spark.operators.lww import fold_changes

    meta = discover_stream_meta(frames)
    decoded = decode_frames(spark, frames, meta, genlog.table_registry())
    from binlog_spark.operators.transactions import assemble_transactions
    changes = assemble_transactions(decoded)
    folded = fold_changes(changes)
    plan = plans.physical_plan(folded)
    # upstream window shuffle (file) + fold key shuffle = exactly 2 total
    assert plans.count_shuffles(folded) == 2, plan
    assert "aggregate(array_sort" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert "map_from_arrays" in plan, plan


def test_asof_join_is_one_keyed_window_no_join(spark, sf_dir):
    """The as-of join must stay a union + one user-partitioned window:
    exactly one exchange on the key, and NO join operator at all (a
    range self-join or per-row probe would appear as a Join node and
    explode at corpus scale)."""
    from binlog_spark.queries import join_asof_purchase_click

    df = join_asof_purchase_click(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.count_shuffles(df) == 1, plan
    assert "Join" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_range_band_join_broadcasts_interval_dim(spark, sf_dir):
    """The non-equi band join must probe a broadcast 4-row interval dim
    (BroadcastNestedLoopJoin), never sort-merge or shuffle the fact side
    against it."""
    from binlog_spark.queries import join_range_value_bands

    df = join_range_value_bands(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hll_registers_jvm_only_with_partial_agg(spark, sf_dir):
    """The HLL sketch stays entirely JVM-side (md5/conv/bin built-ins —
    no Python evaluator of any kind) and combines map-side before the
    one register shuffle."""
    from binlog_spark.queries import sketch_hll_registers

    df = sketch_hll_registers(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Python" not in plan, plan  # no BatchEval/ArrowEval stages
    assert "partial" in plan.lower(), plan
    assert plans.count_shuffles(df) == 1, plan


def test_stratified_sample_is_narrow_and_jvm_only(spark, sf_dir):
    """Sampling must be a pure codegen filter riding the scan: zero
    exchanges, zero Python evaluators."""
    from binlog_spark.queries import sample_stratified_docs

    df = sample_stratified_docs(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.count_shuffles(df) == 0, plan
    assert "Python" not in plan, plan


def test_salted_join_spreads_key_over_salt(spark, sf_dir):
    """The skew-salted join must actually shuffle on (key, salt) — both
    exchanges hash-partitioned on a key list including `salt` — so a hot
    orderkey lands on _SALT_N reducers, and the build side's replication
    is the explode (one generator, no extra shuffle to produce it)."""
    from binlog_spark.queries import join_salted_skew

    df = join_salted_skew(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "salt" in plan, plan
    import re
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted = [p for p in parts if "salt" in p]
    assert len(salted) >= 2, plan  # probe and build sides both salted
    assert "Generate" in plan and "explode(" in plan, plan


def test_cms_registers_broadcast_and_jvm_only(spark, sf_dir):
    """The count-min probe joins a broadcast 2048-row register table —
    never a shuffled join against the key side — and the whole sketch is
    JVM built-ins (md5/conv), no Python evaluator."""
    from binlog_spark.queries import sketch_cms_heavy_hitters

    df = sketch_cms_heavy_hitters(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.has_broadcast_join(df), plan
    assert "Python" not in plan, plan


def test_snapshot_diff_single_pass_one_key_shuffle(spark, sf_dir):
    """Both snapshot states must fold in ONE pass over events — one scan,
    one key shuffle (the second exchange is the O(1)-row watermark agg),
    a map-side partial aggregate, and no self-join or Python evaluator."""
    from binlog_spark.queries import cdc_snapshot_diff

    df = cdc_snapshot_diff(spark, sf_dir)
    plan = plans.physical_plan(df)
    # 2 scans (events + watermark), each listed once in the detail section
    assert plan.count("Location: InMemoryFileIndex") == 2, plan
    assert plans.count_shuffles(df) == 2, plan    # key shuffle + 1-row agg
    assert plans.has_partial_aggregate(df), plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, \
        plan
    assert "Python" not in plan, plan


def test_bounded_sample_sketches_single_shuffle(spark, sf_dir):
    """Weighted sampling and the bottom-k quantile sketch both fold
    per-partition candidates in a bounded MapInPandas stage (state =
    groups x k) and shuffle ONLY the bounded partials — one exchange,
    never a full per-group sort of the corpus."""
    from binlog_spark.queries import (sample_weighted_docs,
                                      sketch_quantile_bottomk)

    for fn in (sample_weighted_docs, sketch_quantile_bottomk):
        df = fn(spark, sf_dir)
        plan = plans.physical_plan(df)
        assert "MapInPandas" in plan, plan
        assert plans.count_shuffles(df) == 1, plan
        assert "Window" not in plan, plan


def _n_nodes(plan: str, name: str) -> int:
    """Count physical operators by their tree lines ('+- Op' / ':- Op' /
    leading 'Op'), robust to formatted-explain printing each node a
    second time in the details section."""
    n = 0
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("("):  # details-section header, not a tree line
            continue
        if s.lstrip(":+-* ").startswith(name):
            n += 1
    return n


def test_semdedup_no_pair_fanout(spark, sf_dir):
    """SemDeDup's in-cluster scoring must be the per-cluster Gram kernel
    (one output row per vector), NOT a B²-row pair join through the
    per-pair kernel: one FlatMapGroupsInPandas over the cluster key, and
    no join after it."""
    from binlog_spark.queries import sim_semdedup_q

    df = sim_semdedup_q(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    # the kernel is the TOP of the plan (children print below it): no
    # operator consumes its output but the final projection — in
    # particular no join over B² pair rows
    head = plan[:plan.index("FlatMapGroupsInPandas")]
    assert "Join" not in head, plan

    # the bounded-block guard fails fast in the kernel's own task (a
    # driver-side pre-count would execute the assignment twice) instead
    # of allocating quadratic Gram blocks on an oversized cluster
    from binlog_spark.operators.similarity import semdedup_prune
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    guarded = semdedup_prune(emb.select("vec_id", "embedding"),
                             k=2, max_block=5)
    with pytest.raises(Exception, match="max_block"):
        guarded.count()


def test_interval_join_broadcasts_and_prunes(spark, sf_dir):
    """The batch plan of the stream-stream interval join: filters pushed
    to both scans, columns pruned, small side broadcast with the time
    range as the residual condition."""
    from binlog_spark.queries import join_stream_interval_attrib

    df = join_stream_interval_attrib(spark, sf_dir)
    assert plans.has_broadcast_join(df), plans.physical_plan(df)
    assert plans.has_pushed_filter(df, "event_type")
    rs = plans.scan_read_schema(df)
    assert "props" not in rs, rs  # untouched wide column never read


def test_incremental_lsh_signatures_only_new_batch(spark, sf_dir):
    """Incremental dedup must run the expensive shingle→md5→minhash
    kernel ONCE (over the new batch only); the stored index is banded
    as-is. Exactly one ArrowEvalPython stage in the whole plan."""
    from binlog_spark.operators.dedup import (incremental_lsh_candidates,
                                              minhash_signature)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    index = minhash_signature(docs.where(F.col("doc_id") % 5 != 0))
    # materialize the index as storage would hold it (plain columns)
    stored = spark.createDataFrame(index.collect(), index.schema)
    out = incremental_lsh_candidates(docs.where(F.col("doc_id") % 5 == 0),
                                     stored)
    plan = plans.physical_plan(out)
    assert _n_nodes(plan, "MapInPandas") == 1, plan


def test_bpe_pair_count_is_bounded_fold(spark, sf_dir):
    """The BPE count plan: one shuffle-free MapInPandas fold emitting
    per-batch distinct-pair partials, then the tiny groupBy — the
    KMV/simhash bounded-state idiom."""
    from binlog_spark.operators.tokenizer import bpe_pair_counts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    counts = bpe_pair_counts(docs)
    plan = plans.physical_plan(counts)
    assert "MapInPandas" in plan, plan
    assert plans.count_shuffles(counts) == 1, plan  # only the final agg


def test_scd2_history_one_key_shuffle_jvm_only(spark, sf_dir):
    """The SCD2 interval fold must be ONE key shuffle + a per-key window
    (same partitioning the merge-apply stage uses) — no join, no Python."""
    from binlog_spark.queries import cdc_scd2_history

    df = cdc_scd2_history(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.count_shuffles(df) == 1, plan
    assert "Join" not in plan and "Python" not in plan, plan


def test_time_travel_single_scan_broadcast_snapshots(spark, sf_dir):
    """All three as-of states fold from ONE events pass: the 3-row
    snapshot dim is broadcast (never a shuffled join), and the only big
    exchange is the (as_of, key) fold; no per-snapshot replay."""
    from binlog_spark.queries import cdc_time_travel

    df = cdc_time_travel(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan
    assert "SortMergeJoin" not in plan and "Python" not in plan, plan
    # key fold + O(1)-row max agg + broadcast — nothing else
    assert plans.count_shuffles(df) <= 3, plan


def test_c4_rules_is_map_only(spark, sf_dir):
    """C4 page cleaning: pure JVM codegen — no shuffle, no Python."""
    from binlog_spark.operators.textstats import c4_rules

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = c4_rules(docs)
    plan = plans.physical_plan(df)
    assert plans.count_shuffles(df) == 0, plan
    assert "Python" not in plan and "MapInPandas" not in plan, plan


def test_c4_span_dedup_no_pair_fanout(spark, sf_dir):
    """C4 span dedup: span construction map-only JVM, one span-key fold
    with a map-side partial (count + min-struct), the frequency table
    joined back on the span key, one doc-key fold — and never a
    cross-document pair set or Python stage."""
    from binlog_spark.operators.dedup import c4_span_dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = c4_span_dedup(docs)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan, plan
    # partial aggregation folds hot spans before the exchange
    assert "partial_min" in plan or "partial min" in plan.lower(), plan


def test_pq_ann_scan_shuffle_free_until_topk(spark, sf_dir):
    """PQ-ADC ANN: encode + table-lookup scoring is ONE shuffle-free
    Arrow kernel over the corpus (codebooks and ADC tables ride the
    closure), and the only exchange after it carries the bounded
    per-partition top-k candidates — never the full scored corpus and
    never a join against codebook or query tables."""
    from binlog_spark.operators.similarity import pq_ann_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    df = pq_ann_topk(emb, n_queries=5, k=10)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert _n_nodes(plan, "MapInPandas") == 2, plan  # score + partial fold
    assert "Join" not in plan, plan  # tables broadcast via closure, not join
    # one exchange total: the tiny candidate set into the rank window
    assert plans.count_shuffles(df) == 1, plan


def test_cdc_chunk_dedup_plan(spark, sf_dir):
    """Content-defined chunking: the chunker is one shuffle-free Arrow
    kernel (no token explode, no per-doc window shuffle); the only
    exchanges are the two phases of the exact n_docs distinct aggregate,
    both keyed on the chunk hash."""
    from binlog_spark.operators.dedup import cdc_chunk_dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = cdc_chunk_dedup(docs)
    plan = plans.physical_plan(out)
    assert _n_nodes(plan, "ArrowEvalPython") == 1, plan
    assert "Window" not in plan, plan
    assert plans.count_shuffles(out) == 2, plan


def test_bloom_prefilter_prunes_before_the_fact_shuffle(spark, sf_dir):
    """The bloom probe must be a map-only filter on the fact scan (no
    extra join/shuffle to apply it), and the join itself stays in the
    big-big sort-merge regime the pattern exists for."""
    from binlog_spark.queries import join_bloom_prefilter

    df = join_bloom_prefilter(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # the literal-array probe shows up as element_at(...) in a Filter
    assert "element_at" in plan, plan
    # exactly the join's two exchanges + the final agg — the filter adds none
    # (agg partials collapse into the join's output partitioning)
    assert plans.count_shuffles(df) <= 3, plan


def test_random_projection_is_map_only_jvm(spark, sf_dir):
    """The JL projection must fuse into the scan: zero exchanges, zero
    Python stages — signed integer sums in codegen."""
    from binlog_spark.operators.similarity import random_projection

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = random_projection(emb)
    plan = plans.physical_plan(out)
    assert plans.count_shuffles(out) == 0, plan
    for py in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py not in plan, plan


def test_retract_agg_two_exchanges(spark, sf_dir):
    """Retraction aggregation: one key shuffle for the lag window, one
    grouped-sum exchange — the delta generator is map-side."""
    from binlog_spark.queries import cdc_retract_agg

    df = cdc_retract_agg(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Generate") >= 1, plan
    assert plans.count_shuffles(df) <= 4, plan  # 2 in-tree (+2 detail echoes)


def test_chunk_dedup_keep_first_has_no_window(spark, sf_dir):
    """Corpus-wide keep-first is a min_by AGGREGATE on the chunk hash,
    never a row_number sort window — the plan that survives 10^10
    chunks has zero Window operators."""
    from binlog_spark.queries import dedup_chunk_lines

    df = dedup_chunk_lines(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 0, plan
    assert plans.has_partial_aggregate(df), plan


def test_late_histogram_two_bounded_windows(spark, sf_dir):
    """The running max decomposes into exactly two windows: the
    per-segment exclusive max (partitioned, bounded at |rows|/256) and
    the prefix max over the 256-row segment AGGREGATE — no global
    window ever sees the fact table."""
    from binlog_spark.queries import cdc_late_arrival_histogram

    df = cdc_late_arrival_histogram(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 2, plan
    assert plans.has_broadcast_join(df), plan  # 256-row prefix joins back


def test_skyline_window_runs_on_grouped_table(spark, sf_dir):
    """The dominance pass is one window over the price-GROUPED table
    (metadata-scale), not over the fact table: exactly one Window, fed
    through a partial aggregate."""
    from binlog_spark.queries import sql_skyline_orders

    df = sql_skyline_orders(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 1, plan
    assert plans.has_partial_aggregate(df), plan


def test_shard_packing_segmented_prefix_sum(spark, sf_dir):
    """The running start offset decomposes like the late-arrival max:
    one window per (source, size-class) segment plus one over the
    segment AGGREGATE, broadcast back — never a whole-source window."""
    from binlog_spark.queries import mm_shard_packing

    df = mm_shard_packing(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 2, plan
    assert plans.has_broadcast_join(df), plan
    assert plans.has_partial_aggregate(df), plan


def test_inverted_postings_no_window(spark, sf_dir):
    """Top-k postings come from a bounded collect_list aggregate gated
    by the max_df cut — zero Window operators so no stopword partition
    is ever sorted."""
    from binlog_spark.queries import text_inverted_postings

    df = text_inverted_postings(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 0, plan
    assert plans.has_partial_aggregate(df), plan


def test_trailing_distinct_windows_bounded(spark, sf_dir):
    """COUNT(DISTINCT) OVER a trailing frame is rewritten to interval
    deltas: one per-user lead window plus one prefix sum over the
    day-grain table — never a day x events range join."""
    from binlog_spark.queries import window_trailing_distinct

    df = window_trailing_distinct(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 2, plan
    assert plans.has_partial_aggregate(df), plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_ivm_join_deltas_filtered_per_batch(spark, sf_dir):
    """Every delta term joins FILTERED inputs — the batch predicates
    reach the parquet scans (pushdown), there are 7 separate joins
    (1 + 3x2 across 3 batches), and no cartesian anywhere."""
    from binlog_spark.queries import cdc_ivm_join_deltas

    df = cdc_ivm_join_deltas(spark, sf_dir)
    plan = plans.physical_plan(df)
    joins = sum(_n_nodes(plan, j) for j in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 7, plan
    assert "CartesianProduct" not in plan, plan
    assert plans.has_partial_aggregate(df), plan


def test_chunk_checksums_single_exchange_map_combined(spark, sf_dir):
    """Replica-validation signatures fold map-side: exactly one
    exchange (the chunk groupBy), partial aggregation present, no
    Window/sort over the fact table."""
    from binlog_spark.queries import cdc_chunk_checksums

    df = cdc_chunk_checksums(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.has_partial_aggregate(df), plan
    assert _n_nodes(plan, "Window") == 0, plan
    # chunk groupBy is the only fact shuffle (+1 rangepartitioning for
    # the final orderBy presentation)
    assert plan.count("hashpartitioning") <= 2, plan


def test_heavy_hitters_verify_is_broadcast_pruned(spark, sf_dir):
    """Phase 2 re-counts ONLY the MG candidates: the exact pass joins
    the fact scan against a broadcast candidate set (map-side prune),
    and the sketch pass is a single MapInPandas fold."""
    from binlog_spark.queries import agg_heavy_hitters

    df = agg_heavy_hitters(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.has_broadcast_join(df), plan
    assert _n_nodes(plan, "MapInPandas") == 1, plan
    assert _n_nodes(plan, "Window") == 0, plan


def test_exact_median_no_global_sort_of_fact(spark, sf_dir):
    """The 2-pass median never globally sorts the events table: every
    Sort node is non-global (window-local within a range segment or
    inside TakeOrderedAndProject on the 4096-row histogram)."""
    from binlog_spark.queries import agg_exact_median_2pass

    df = agg_exact_median_2pass(spark, sf_dir)
    plan = plans.physical_plan(df)
    for line in plan.splitlines():
        if "Sort [" in line and "TakeOrdered" not in line:
            # Spark renders global sorts as `Sort [...], true, 0`
            assert ", true, 0" not in line, line


def test_rfm_quartiles_have_no_fact_scale_global_window(spark, sf_dir):
    """Every unpartitioned window in the RFM plan runs on a
    segment-count-bounded frame (the global_rank prefix), never on the
    per-customer table itself: each rank's heavy window partitions by
    the range segment."""
    from binlog_spark.queries import window_rfm_segments

    df = window_rfm_segments(spark, sf_dir)
    plan = plans.physical_plan(df)
    # 3 quartiles x (per-segment row_number + tiny prefix sum) = 6
    assert _n_nodes(plan, "Window") == 6, plan
    assert plans.has_broadcast_join(df), plan


def test_expire_snapshots_two_folds_no_join_fanout(spark, sf_dir):
    """The GC plan is fold -> fold -> broadcast cutoff: no sort-merge
    join, no window, partial aggregation, and the checkpointed
    inventory keeps the fact scan at one execution."""
    from binlog_spark.queries import lake_expire_snapshots

    df = lake_expire_snapshots(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert _n_nodes(plan, "Window") == 0, plan
    assert plans.has_partial_aggregate(df), plan
    # the 1-row cutoff arrives via a broadcast (nested-loop) cross join
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Scan parquet") <= 1, plan


def test_ks_cumulative_runs_on_value_grain(spark, sf_dir):
    """The KS prefix runs on the value-grain table after a combinable
    fold — the fact table is touched by exactly one aggregate; partial
    aggregation present."""
    from binlog_spark.queries import agg_ks_two_sample

    df = agg_ks_two_sample(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plans.has_partial_aggregate(df), plan
    # checkpointed value-grain frame: every branch reuses ONE fact scan
    assert plan.count("Scan parquet") <= 1, plan


def test_locf_single_carry_window(spark, sf_dir):
    """Gap-fill uses exactly ONE window (the per-user carry); the grid
    explode is join-free until the union."""
    from binlog_spark.queries import join_locf_gapfill

    df = join_locf_gapfill(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 1, plan


def test_curation_pipeline_grouped_rank_no_whole_class_window(
        spark, sf_dir):
    """The language-balanced cap never funnels a whole language into
    one task: every Window node partitions by the range segment, and
    the two stage frames are checkpointed (single fact execution per
    stage)."""
    from binlog_spark.queries import pipeline_curation_e2e

    df = pipeline_curation_e2e(spark, sf_dir)
    plan = plans.physical_plan(df)
    for line in plan.splitlines():
        if "Window [" in line and "row_number" in line:
            assert "_seg" in line, line  # global_rank's segment key


def test_first_touch_shares_one_user_exchange(spark, sf_dir):
    from binlog_spark.queries import join_first_touch_attrib

    df = join_first_touch_attrib(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 1, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_bitmap_distinct_two_combinable_folds(spark, sf_dir):
    """word-level OR then day-level popcount sum: two exchanges max
    (plus presentation sort), no window, partials present."""
    from binlog_spark.queries import agg_bitmap_distinct

    df = agg_bitmap_distinct(spark, sf_dir)
    plan = plans.physical_plan(df)
    assert _n_nodes(plan, "Window") == 0, plan
    assert plans.has_partial_aggregate(df), plan
    assert plan.count("hashpartitioning") <= 2, plan


def test_method_agreement_pair_join_no_cartesian(spark, sf_dir):
    from binlog_spark.queries import dedup_method_agreement
    df = dedup_method_agreement(spark, sf_dir)
    plan = plans.physical_plan(df)
    # the two candidate generators meet in an equi full-outer join on the
    # pair key — a nested-loop/cartesian here would be |pairs|^2
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_backfill_and_erasure_plans_broadcast_probe_side(spark, sf_dir):
    from binlog_spark.queries import cdc_gdpr_erasure_plan
    df = cdc_gdpr_erasure_plan(spark, sf_dir)
    # the probe list joins broadcast — file stats never shuffle onto a
    # per-user key
    assert plans.has_broadcast_join(df), plans.physical_plan(df)


def test_periodogram_is_jvm_only_two_level_fold(spark, sf_dir):
    from binlog_spark.queries import window_periodogram_dft
    df = window_periodogram_dft(spark, sf_dir)
    plan = plans.physical_plan(df)
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan
    assert plans.has_partial_aggregate(df), plan


def test_growth_accounting_single_user_day_exchange(spark, sf_dir):
    from binlog_spark.queries import window_growth_accounting
    df = window_growth_accounting(spark, sf_dir)
    plan = plans.physical_plan(df)
    import re
    # the lag/lead windows run per user partition: every
    # windowspecdefinition must lead with a partition column — an
    # unpartitioned spec starts straight with an ordered column
    # ("windowspecdefinition(day#3L ASC ...") and would funnel all
    # users through one task
    assert "windowspecdefinition(" in plan, plan
    assert not re.search(
        r"windowspecdefinition\([A-Za-z_]+#\d+L? (ASC|DESC)", plan), plan


def test_hll_sweep_register_folds_partial(spark, sf_dir):
    from binlog_spark.queries import sketch_hll_precision_sweep
    df = sketch_hll_precision_sweep(spark, sf_dir)
    assert plans.has_partial_aggregate(df), plans.physical_plan(df)


def test_silhouette_distances_bounded_nk_no_cartesian_fact(spark, sf_dir):
    from binlog_spark.queries import sim_simplified_silhouette
    df = sim_simplified_silhouette(spark, sf_dir)
    plan = plans.physical_plan(df)
    # the n x k distance frame comes from a BROADCAST nested loop against
    # the k-row centroid table — never a shuffle-side cartesian
    assert "CartesianProduct" not in plan, plan


def test_lindley_fold_single_type_shuffle(spark, sf_dir):
    from binlog_spark.queries import window_lindley_queue_wait
    df = window_lindley_queue_wait(spark, sf_dir)
    plan = plans.physical_plan(df)
    # the sequential fold happens inside one aggregate expression on a
    # per-type collected array — no Python stage, no window over a
    # global (unpartitioned) order
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_holt_winters_is_jvm_array_fold(spark, sf_dir):
    from binlog_spark.queries import window_holt_winters_additive
    df = window_holt_winters_additive(spark, sf_dir)
    plan = plans.physical_plan(df)
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan
    assert plans.has_partial_aggregate(df), plan


def test_sweep_queries_scan_fact_once_per_width(spark, sf_dir):
    from binlog_spark.queries import cdc_microbatch_fold_savings
    df = cdc_microbatch_fold_savings(spark, sf_dir)
    plan = plans.physical_plan(df)
    # the 3-width sweep rides ONE events scan via a broadcast cross
    # join — three separate scans would triple the I/O at 100 TB
    # (formatted plans list each node twice: tree + details; count the
    # numbered detail entries only)
    import re
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans <= 1, f"{scans} fact scans\n{plan}"


def test_poisson_bootstrap_is_mapside_explode_plus_fold(spark, sf_dir):
    from binlog_spark.queries import agg_poisson_bootstrap_ci
    df = agg_poisson_bootstrap_ci(spark, sf_dir)
    plan = plans.physical_plan(df)
    # the 64x replicate blowup is a generator (explode) BEFORE the
    # (type, replicate) fold — resampling never shuffles raw rows per
    # replicate, and the weight derivation is pure JVM hash arithmetic
    assert "Generate" in plan, plan
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan
    assert plans.has_partial_aggregate(df), plan


def test_stump_split_scans_fact_once(spark, sf_dir):
    import re

    from binlog_spark.queries import agg_stump_split_gini
    df = agg_stump_split_gini(spark, sf_dir)
    plan = plans.physical_plan(df)
    # 23 candidate splits ride ONE events scan via the broadcast
    # threshold dimension — a per-split scan would multiply I/O 23x
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans <= 1, f"{scans} fact scans\n{plan}"
    assert "CartesianProduct" not in plan, plan


def test_privacy_audits_broadcast_threshold_dims(spark, sf_dir):
    from binlog_spark.queries import (privacy_k_anonymity_audit,
                                      privacy_l_diversity_audit)
    for fn in (privacy_k_anonymity_audit, privacy_l_diversity_audit):
        df = fn(spark, sf_dir)
        plan = plans.physical_plan(df)
        assert "BroadcastExchange" in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_did_estimate_is_one_conditional_fold(spark, sf_dir):
    from binlog_spark.queries import agg_did_estimate
    df = agg_did_estimate(spark, sf_dir)
    plan = plans.physical_plan(df)
    # the whole 2x2 panel is conditional aggregation — no window, no
    # Python stage, partial (map-side) aggregation before the shuffle
    assert "Window" not in plan, plan
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan
    assert plans.has_partial_aggregate(df), plan


def test_bh_fdr_is_jvm_only(spark, sf_dir):
    from binlog_spark.queries import agg_bh_fdr_hourly
    df = agg_bh_fdr_hourly(spark, sf_dir)
    plan = plans.physical_plan(df)
    # erfc polynomial + integer step-up are whole-stage-codegen JVM
    # expressions; the only windows run over the bounded 120-row frame
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_merge_apply_and_bootstrap_one_bucket_exchange_no_join_no_writer(
        spark, tmp_path, monkeypatch):
    """The MERGE of a folded delta (``merge_apply``) and of a bootstrap
    snapshot, each through ``apply_changes``: ONE Exchange (hash on
    ``_bucket``) feeding a sort and the per-bucket Arrow kernel, which
    reads, merges and writes each bucket itself — no Spark join (the
    base is never shuffled) and no Spark file-write command (no per-file
    Hadoop commit). A bootstrap runs one Spark action."""
    from binlog_spark.operators.merge import LakeTable

    cols = genlog.table_spec().col_names
    lake = LakeTable.create(spark, str(tmp_path / "lake"), columns=cols,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    delta = lake.bucket_of(spark.createDataFrame(
        [("r", "p", False, True, {"repo": "r", "path": "p"}, 1, 0, 1)],
        "_k_repo string, _k_path string, del boolean, full boolean, "
        "m map<string,string>, g long, s int, n_events long"))
    snapshot = spark.createDataFrame(
        [tuple(f"{c}-0" for c in cols)],
        ", ".join(f"{c} string" for c in cols))
    jobs = []
    monkeypatch.setattr(type(delta), "collect",
                        lambda self: jobs.append(self) or [])
    lake.merge_apply(delta, batch_id=0)
    assert len(jobs) == 1
    boot = LakeTable.create(spark, str(tmp_path / "boot"), columns=cols,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    pipeline.bootstrap_from_snapshot(spark, snapshot, boot, snapshot_gtid=5)
    assert len(jobs) == 2  # the bootstrap's one action
    for job in jobs:
        plan = plans.physical_plan(job)
        assert plans.count_shuffles(job) == 1, plan
        assert "hashpartitioning(_bucket" in plan, plan
        assert "MapInArrow" in plan, plan
        assert "Join" not in plan, plan
        for writer in ("InsertIntoHadoopFsRelation", "WriteFiles",
                       "DataWritingCommand"):
            assert writer not in plan, plan


def test_apply_changes_job_one_bucket_exchange_fold_in_kernel(
        spark, tmp_path, monkeypatch):
    """The replay's fold + MERGE (``LakeTable.apply_changes``): ONE
    Exchange (hash on ``_bucket``) feeding a sort and ONE Arrow kernel
    that folds, merges and writes. No ``map_from_arrays`` (the kernel
    reads the fold's lists as the map), no Spark join and no Spark
    file-write command."""
    import re

    from binlog_spark import schema as S
    from binlog_spark.operators.merge import LakeTable

    lake = LakeTable.create(spark, str(tmp_path / "lake"),
                            columns=genlog.table_spec().col_names,
                            key_cols=list(genlog.KEY_COLS), n_buckets=4)
    changes = spark.createDataFrame(
        [(1, 1, 0, "binlog.000001", 4, 90, 0, "I", "db", "t", None,
          {"repo": "r", "path": "p"})], S.CHANGE_SCHEMA)
    cls = type(changes)
    jobs = []
    monkeypatch.setattr(cls, "collect", lambda self: jobs.append(self) or [])
    lake.apply_changes(changes, batch_id=0)
    (job,) = jobs
    plan = plans.physical_plan(job)
    assert plans.count_shuffles(job) == 1, plan
    assert "hashpartitioning(_bucket" in plan, plan
    assert len(set(re.findall(r"\((\d+)\) MapInArrow", plan))) == 1, plan
    assert "map_from_arrays" not in plan, plan
    assert "Join" not in plan, plan
    for writer in ("InsertIntoHadoopFsRelation", "WriteFiles",
                   "DataWritingCommand"):
        assert writer not in plan, plan
