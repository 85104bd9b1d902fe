"""Plan-quality assertions: pushdown, pruning, join strategy, top-k plans.

A query that returns correct rows through a bad plan passes correctness
but dies at 100 TB — these tests pin the plan properties the operators
were designed around (SURVEY.md §4)."""

from __future__ import annotations

from iceberg_table_generator_spark.operators import multimodal, relational
from iceberg_table_generator_spark.plans import explain


def test_filter_pushdown_reaches_scan(spark, sf_small):
    df = relational.filter_predicates(spark, sf_small)
    pushed = explain.pushed_filters(df)
    # range + equality + IN-list must reach the parquet scan
    assert any("o_totalprice" in f for f in pushed), pushed
    assert any("o_orderstatus" in f for f in pushed), pushed
    assert any("o_orderpriority" in f for f in pushed), pushed


def test_column_pruning(spark, sf_small):
    df = relational.q1_pricing_summary(spark, sf_small)
    (schema,) = explain.read_schemas(df)
    # 7 of 11 lineitem columns needed; o_orderkey etc. must not be read
    assert set(schema) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, schema


def test_metadata_query_prunes_text_payload(spark, sf_small):
    df = multimodal.multimodal_binary_meta(spark, sf_small)
    (schema,) = explain.read_schemas(df)
    assert "lang" not in schema and "source" not in schema


def test_dim_joins_are_broadcast(spark, sf_small):
    df = relational.join_broadcast_dims(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert kinds["BroadcastHashJoin"] == 2, kinds
    assert kinds["SortMergeJoin"] == 0, kinds


def test_multiway_join_broadcasts_dims(spark, sf_small):
    df = relational.join_multiway_revenue(spark, sf_small)
    kinds = explain.join_kinds(df)
    # nation+region hinted broadcast; no nested-loop anywhere
    assert kinds["BroadcastHashJoin"] >= 2, kinds
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


def test_global_topk_avoids_full_sort(spark, sf_small):
    df = relational.topk_global(spark, sf_small)
    assert explain.has_operator(df, "TakeOrderedAndProject")


def test_q1_single_aggregation_shuffle(spark, sf_small):
    df = relational.q1_pricing_summary(spark, sf_small)
    # partial+final hash aggregate → exactly one exchange
    assert explain.exchange_count(df) == 1


def test_range_join_avoids_nested_loop(spark, sf_small):
    from iceberg_table_generator_spark.operators.relational_ext import range_join_events

    kinds = explain.join_kinds(range_join_events(spark, sf_small))
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds
    assert kinds["BroadcastHashJoin"] == 1, kinds


def test_sessionize_single_shuffle(spark, sf_small):
    df = relational.events_sessionize(spark, sf_small)
    # both window passes and the final aggregate share the user_id
    # partitioning → one exchange total
    assert explain.exchange_count(df) == 1


# --------------------------------------------------------------------------
# §2.8 dedup / similarity / text plan properties (round-2 additions)
# --------------------------------------------------------------------------
def test_embedding_cosine_dedup_no_nested_loop(spark, sf_small):
    """The cluster-pruned exact cosine join must be equi-join only — the
    r1 form was an all-pairs BroadcastNestedLoopJoin (VERDICT r1 #1)."""
    from iceberg_table_generator_spark.operators.dedup import dedup_embedding_cosine

    kinds = explain.join_kinds(dedup_embedding_cosine(spark, sf_small))
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


def test_ivf_assignment_no_shuffle(spark, sf_small):
    """Nearest-centroid assignment is a narrow projection over broadcast
    centroid literals: zero Exchange, zero joins, zero windows
    (VERDICT r1 #2)."""
    import pyspark.sql.functions as F

    from iceberg_table_generator_spark.operators.similarity import _assign
    from iceberg_table_generator_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = [(i, [float(i)] * 64) for i in range(4)]
    assigned = _assign(emb, cents)
    assert explain.exchange_count(assigned) == 0
    nodes = explain.plan_nodes(assigned)
    assert "Window" not in nodes, nodes
    assert explain.join_kinds(assigned)["BroadcastNestedLoopJoin"] == 0


def test_minhash_and_simhash_no_nested_loop(spark, sf_small):
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    for fn in (dedup_minhash_lsh, dedup_simhash, dedup_ngram_jaccard):
        kinds = explain.join_kinds(fn(spark, sf_small))
        assert kinds["BroadcastNestedLoopJoin"] == 0, (fn.__name__, kinds)


def test_similarity_lsh_no_nested_loop(spark, sf_small):
    from iceberg_table_generator_spark.operators.similarity import similarity_ann_lsh

    kinds = explain.join_kinds(similarity_ann_lsh(spark, sf_small))
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


def test_dedup_exact_single_shuffle(spark, sf_small):
    from iceberg_table_generator_spark.operators.dedup import dedup_exact

    assert explain.exchange_count(dedup_exact(spark, sf_small)) == 1


def test_text_aggregates_single_shuffle(spark, sf_small):
    from iceberg_table_generator_spark.operators.text import (
        text_token_count,
        text_word_freq,
    )

    # token accounting: one agg shuffle; word freq: the agg exchange plus
    # the two rank-stage exchanges of the bucketed two-phase top-k
    assert explain.exchange_count(text_token_count(spark, sf_small)) <= 1
    assert explain.exchange_count(text_word_freq(spark, sf_small)) <= 3


def test_text_narrow_ops_zero_shuffle(spark, sf_small):
    from iceberg_table_generator_spark.operators.text import (
        text_fingerprint,
        text_language_id,
        text_quality_score,
    )

    for fn in (text_language_id, text_quality_score, text_fingerprint):
        assert explain.exchange_count(fn(spark, sf_small)) == 0, fn.__name__


def test_pipeline_narrow_ops_zero_shuffle(spark, sf_small):
    from iceberg_table_generator_spark.operators.pipeline import (
        pipeline_chunk_documents,
        pipeline_quality_verdict,
    )

    for fn in (pipeline_chunk_documents, pipeline_quality_verdict):
        assert explain.exchange_count(fn(spark, sf_small)) == 0, fn.__name__


def test_contamination_no_nested_loop(spark, sf_small):
    from iceberg_table_generator_spark.operators.pipeline import (
        pipeline_contamination_check,
    )

    kinds = explain.join_kinds(pipeline_contamination_check(spark, sf_small))
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


# --------------------------------------------------------------------------
# TPC-H wave 2 plan properties
# --------------------------------------------------------------------------
def test_q7_all_dims_broadcast_single_agg_exchange(spark, sf_small):
    from iceberg_table_generator_spark.operators.tpch_ext import q7_nation_volume

    df = q7_nation_volume(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert kinds["BroadcastHashJoin"] == 5, kinds
    assert kinds["SortMergeJoin"] == 0, kinds
    # the fact table shuffles exactly once (the final aggregate)
    assert explain.exchange_count(df) == 1


def test_q8_six_way_star_no_shuffle_joins(spark, sf_small):
    from iceberg_table_generator_spark.operators.tpch_ext import q8_market_share

    kinds = explain.join_kinds(q8_market_share(spark, sf_small))
    assert kinds["BroadcastHashJoin"] == 6, kinds
    assert kinds["SortMergeJoin"] == 0 and kinds["ShuffledHashJoin"] == 0, kinds


def test_sliding_window_single_exchange(spark, sf_small):
    from iceberg_table_generator_spark.operators.relational_ext import (
        events_sliding_window,
    )

    # the 4-window expansion happens in-row; only the aggregate shuffles
    assert explain.exchange_count(events_sliding_window(spark, sf_small)) == 1


def test_q19_predicates_partially_pushed(spark, sf_small):
    from iceberg_table_generator_spark.operators.tpch_ext import (
        q19_disjunctive_revenue,
    )

    # Catalyst must extract the common quantity bounds from the OR-of-ANDs
    # and push them to the lineitem scan
    pushed = explain.pushed_filters(q19_disjunctive_revenue(spark, sf_small))
    assert any("l_quantity" in f for f in pushed), pushed


def test_window_analytics_pack_single_shuffle(spark, sf_small):
    from iceberg_table_generator_spark.operators.relational_ext import (
        window_analytics_pack,
    )

    # all analytic functions share one window spec -> one exchange total
    assert explain.exchange_count(window_analytics_pack(spark, sf_small)) == 1


def test_token_rarity_no_vocabulary_broadcast(spark, sf_small):
    """The unigram frequency attach must not broadcast anything
    vocabulary-sized: a web-scale corpus has billions of distinct tokens
    (VERDICT r2 #3).  In the r4 hot/tail plan the ONLY hash-join
    broadcasts are fed by the df-capped top-N hot set — a bounded
    `orderBy().limit()` that compiles to TakeOrderedAndProject — and the
    tail frequency attach is pinned to the shuffle path (SortMergeJoin),
    so the full `freq` table is never broadcast at any scale."""
    from iceberg_table_generator_spark.operators.pipeline import pipeline_token_rarity

    df = pipeline_token_rarity(spark, sf_small)
    kinds = explain.join_kinds(df)
    nodes = explain.plan_nodes(df)
    # exactly two broadcast hash joins: hot attach + hot anti — both sides
    # are the capped hot set, whose plan signature is TakeOrderedAndProject
    assert kinds["BroadcastHashJoin"] == 2, kinds
    assert "TakeOrderedAndProject" in nodes, nodes
    # the tail attach keeps the shuffle path — the vocabulary-sized freq
    # table must never ride a BroadcastExchange
    assert kinds["SortMergeJoin"] == 1, kinds


def test_token_rarity_no_hot_key_window(spark, sf_small):
    """VERDICT r3 #1: no window function over the raw token stream.  A
    `count(*) over (partition by w)` has no map-side partial aggregation
    and cannot be salted by AQE, so the hottest Zipf token (~3-5% of the
    stream) lands on ONE task at 100 TB.  The skew-safe plan has zero
    Window nodes: frequencies come from groupBy (map-side combine) and
    attach via the df-capped hot/tail join split."""
    from iceberg_table_generator_spark.operators.pipeline import pipeline_token_rarity

    df = pipeline_token_rarity(spark, sf_small)
    assert "Window" not in explain.plan_nodes(df)


def test_dup_ngram_ratio_no_hot_key_window(spark, sf_small):
    """VERDICT r4 #3: same contract as token rarity, but sharper — the
    boilerplate 8-grams this query hunts ARE the hot keys, so a
    `count(*) over (partition by g)` on the raw gram stream (no map-side
    partial agg, un-saltable by AQE) lands every occurrence of a viral
    gram on ONE task at 100 TB.  The skew-safe plan has zero Window
    nodes; corpus counts come from groupBy (map-side combine) and attach
    via the df-capped hot/tail split: exactly two broadcasts fed by the
    bounded top-N (TakeOrderedAndProject signature), tail pinned to the
    shuffle path so the corpus-sized gram vocabulary is never broadcast."""
    from iceberg_table_generator_spark.operators.pipeline import (
        pipeline_dup_ngram_ratio,
    )

    df = pipeline_dup_ngram_ratio(spark, sf_small)
    nodes = explain.plan_nodes(df)
    assert "Window" not in nodes, nodes
    kinds = explain.join_kinds(df)
    assert kinds["BroadcastHashJoin"] == 2, kinds
    assert "TakeOrderedAndProject" in nodes, nodes
    assert kinds["SortMergeJoin"] == 1, kinds
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


def test_tfidf_df_attach_no_term_window(spark, sf_small):
    """VERDICT r4 #4: the document-frequency attach must not be a window
    partitioned by term — a stop-word's partition is ≈ the whole corpus
    on one task.  df comes from groupBy(w) and attaches via the df-capped
    hot/tail split (two broadcasts fed by the bounded top-N, tail pinned
    to the shuffle path).  Exactly ONE Window survives: the per-doc rank,
    partitioned by doc_id, which does not skew."""
    from iceberg_table_generator_spark.operators.text import text_tfidf_topk

    df = text_tfidf_topk(spark, sf_small)
    nodes = explain.plan_nodes(df)
    assert nodes.count("Window") == 1, nodes
    kinds = explain.join_kinds(df)
    assert kinds["BroadcastHashJoin"] == 2, kinds
    assert "TakeOrderedAndProject" in nodes, nodes
    assert kinds["SortMergeJoin"] == 1, kinds
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


def test_word_freq_rank_is_two_phase(spark, sf_small):
    """The per-language rank must be the bucketed two-phase top-k: a lone
    `row_number() over (partition by lang)` sorts one language's entire
    vocabulary on one task.  Stage 1 partitions on (lang, bucket); stage 2
    sees only B×10 survivors — two Window nodes, and the first one's spec
    must include the bucket key."""
    from iceberg_table_generator_spark.operators.text import text_word_freq

    import re

    df = text_word_freq(spark, sf_small)
    nodes = explain.plan_nodes(df)
    assert nodes.count("Window") == 2, nodes
    # one of the two window specs must partition on the bucket key
    specs = re.findall(
        r"windowspecdefinition\(([^)]*)\)", explain.plan_text(df)
    )
    assert any("bucket" in s for s in specs), specs


def test_connected_components_size_attach_no_label_window(spark, sf_small):
    """Cluster-size attach must not be a window partitioned by label (a
    boilerplate mega-cluster = one task).  Sizes come from groupBy with
    map-side combine and attach via the hot/tail split: two bounded
    broadcasts + the tail pinned to the shuffle path."""
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_connected_components,
    )

    df = dedup_connected_components(spark, sf_small)
    nodes = explain.plan_nodes(df)
    assert "Window" not in nodes, nodes
    kinds = explain.join_kinds(df)
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds
    assert kinds["BroadcastHashJoin"] >= 2, kinds
    assert "TakeOrderedAndProject" in nodes, nodes


def test_salted_join_spreads_key_over_shuffle(spark, sf_small):
    """The salted join must actually take the shuffle path (that's the
    scenario salting exists for) with the salt in the join keys, and the
    salts must spread a hot key's rows across sub-keys."""
    from iceberg_table_generator_spark.operators import skew

    df = skew.join_skew_salted(spark, sf_small)
    text = explain.plan_text(df)
    assert "SortMergeJoin" in text, text[:2000]
    # the node-detail section lists the join keys: salt must be one of them
    detail = text[text.rfind("SortMergeJoin"):][:300]
    assert "__salt" in detail, detail
    # spread check: each of the 3 flags occupies many distinct salt buckets
    import pyspark.sql.functions as F
    from iceberg_table_generator_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem").limit(2000)
    salted = li.withColumn(
        "__salt", F.pmod(F.xxhash64("l_orderkey", F.lit(42)), F.lit(16)).cast("int")
    )
    spread = salted.groupBy("l_returnflag").agg(
        F.countDistinct("__salt").alias("n")
    )
    assert all(r["n"] == 16 for r in spread.collect())


def test_round3_narrow_queries_zero_shuffle(spark, sf_small):
    """PII redaction, sign projection, and Morton codes are pure per-row
    expressions — any KEYED Exchange appearing is a plan regression.
    (`keyed_exchange_count`: the r14 `spread()` on the embeddings scan
    adds one round-robin repartition on the under-split LOCAL scan only —
    a no-op at scale, not a data shuffle.)"""
    from iceberg_table_generator_spark.operators.pipeline import (
        pipeline_pii_redaction,
        pipeline_stratified_sample,
    )
    from iceberg_table_generator_spark.operators.similarity import (
        similarity_random_projection,
    )
    from iceberg_table_generator_spark.operators.zorder import zorder_morton_codes

    for fn in (
        pipeline_pii_redaction,
        pipeline_stratified_sample,
        similarity_random_projection,
        zorder_morton_codes,
    ):
        df = fn(spark, sf_small)
        assert explain.keyed_exchange_count(df) == 0, fn.__name__
        # At most the single spread() round-robin (r14 ADVICE #2): an
        # accidental corpus-wide .repartition() must not hide behind the
        # keyed-only count.
        assert explain.roundrobin_exchange_count(df) <= 1, fn.__name__


def test_wide_metrics_scan_prunes_to_referenced_columns(spark, sf_small):
    """VERDICT r4 missing #2: wide-schema pruning proven end-to-end.  The
    1,000-column wide_metrics scan must read exactly id + the 4 referenced
    metrics — reading all 999 doubles for a 5-column projection is a
    ~200× I/O regression at scale.  Also narrow: zero exchanges."""
    from iceberg_table_generator_spark.operators.wide import (
        _PICKED,
        wide_metrics_row_stats,
    )

    df = wide_metrics_row_stats(spark, sf_small)
    (schema,) = explain.read_schemas(df)
    assert set(schema) == {"id", *_PICKED}, schema
    assert explain.exchange_count(df) == 0


def test_wide_block_fold_prunes_and_stays_narrow(spark, sf_small):
    from iceberg_table_generator_spark.operators.wide import (
        _BLOCK,
        wide_metrics_block_fold,
    )

    df = wide_metrics_block_fold(spark, sf_small)
    (schema,) = explain.read_schemas(df)
    assert set(schema) == {"id", *_BLOCK}, (len(schema), schema[:5])
    assert explain.exchange_count(df) == 0


def test_resample_ffill_bounded_exchanges(spark, sf_small):
    """Hourly resample: one exchange for the hourly aggregate, one for the
    per-user span aggregate, one for the fill window — all keyed on
    user_id; anything more means the grid explode or join added a
    shuffle it doesn't need."""
    from iceberg_table_generator_spark.operators.relational_ext import (
        events_resample_ffill,
    )

    assert explain.exchange_count(events_resample_ffill(spark, sf_small)) <= 3


def test_keep_canonical_membership_attach_not_broadcast(spark, sf_small):
    """VERDICT r5 #1: the cluster-membership relation holds every doc with
    a near-dup partner — corpus-fraction sized at real 30-50% web dup
    rates — so attaching it to the full document set must take the
    shuffle path, never a BroadcastExchange.  Since the r14 refactor
    keep_canonical composes the bare `_cc_labels` (no cluster-size
    attach, whose hot-set broadcasts were the only allowed ones), NO
    broadcast of any kind may appear in this plan."""
    from iceberg_table_generator_spark.operators.dedup import dedup_keep_canonical

    df = dedup_keep_canonical(spark, sf_small)
    nodes = explain.plan_nodes(df)
    kinds = explain.join_kinds(df)
    # the final membership attach (docs ⟕ cc on doc_id) is the last join
    # in the plan and must be the shuffle path
    last_join = [n for n in nodes if n.endswith("Join")][-1]
    assert last_join == "SortMergeJoin", (last_join, nodes)
    assert kinds["BroadcastHashJoin"] == 0, kinds
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds


def test_wide_correlation_prunes_and_single_pass(spark, sf_small):
    """The moment pass behind all six correlations must scan exactly the 4
    picked columns (no id — it is not referenced) and aggregate them in
    ONE pass: a single scan node, no join of per-pair subplans."""
    from iceberg_table_generator_spark.operators.wide import (
        _PICKED,
        wide_metrics_correlation,
    )

    df = wide_metrics_correlation(spark, sf_small)
    (schema,) = explain.read_schemas(df)
    assert set(schema) == set(_PICKED), schema


def test_generate_filter_inference_stays_excluded(spark, sf_small):
    """The session excludes `InferFiltersFromGenerate` (see
    `session.RUNTIME_SQL_CONFS`): with the rule, every shingle explode
    gets a `size(<whole shingle expression>) > 0` filter under its
    Generate, which runs the heaviest per-row work of the text/dedup
    family twice.  The conf must come from both `get_spark()` and
    `ensure_session_confs`, and the optimized plan must carry no such
    filter."""
    import pyspark.sql.functions as F

    from iceberg_table_generator_spark.operators.dedup import shingles, tokenize
    from iceberg_table_generator_spark.session import ensure_session_confs
    from iceberg_table_generator_spark.sources.tables import load_table

    key = "spark.sql.optimizer.excludedRules"
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    assert rule in spark.conf.get(key, "")  # the get_spark() session
    spark.conf.unset(key)
    ensure_session_confs(spark)
    assert rule in spark.conf.get(key, "")

    docs = load_table(spark, sf_small, "documents")
    df = shingles(tokenize(docs)).select("doc_id", F.explode("shingles").alias("s"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    under_generate = plan[plan.index("Generate"):]
    assert not [
        line for line in under_generate.splitlines() if "Filter" in line and "size(" in line
    ], under_generate
