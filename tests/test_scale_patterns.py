"""Scale-pattern tests: plan-quality assertions (pushdown/broadcast/
top-k locked in against regressions), skew salting, bucketed
shuffle-free joins, schema evolution, dedup clustering."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from fintech_lakehouse_spark.functions.text import dedup_clusters
from fintech_lakehouse_spark.operators.skew import (
    broadcast_salted_join,
    salted_aggregate,
)
from fintech_lakehouse_spark.plans import QUERIES
from fintech_lakehouse_spark.sources.readers import load_table
from fintech_lakehouse_spark.sources.writers import write_bucketed_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _documents_spread_fires(spark, sf_dir) -> bool:
    """Whether load_table(..., spread=) repartitions the documents scan
    in this session: the reader's split estimate is below the core
    count. On a 1-core runner or a multi-file lake it legitimately
    does not."""
    from fintech_lakehouse_spark.sources.readers import (
        _estimate_scan_splits,
        table_fingerprint,
        table_path,
    )

    fp = table_fingerprint(table_path(sf_dir, "documents"))
    return _estimate_scan_splits(spark, fp) < spark.sparkContext.defaultParallelism


@pytest.mark.parametrize(
    "query,required",
    [
        ("shipping_priority", ["PushedFilters: [IsNotNull", "TakeOrderedAndProject"]),
        ("regional_revenue", ["BroadcastHashJoin"]),
        ("top_customers", ["TakeOrderedAndProject"]),
        ("priority_returned_orders", ["LeftSemi"]),
        ("customers_without_orders", ["LeftAnti"]),
        ("supplier_performance", ["BroadcastHashJoin"]),
        # Q18-shape: the HAVING-pruned aggregate broadcasts to both
        # dimension joins; the only fact shuffle is the groupBy.
        ("large_order_details", ["BroadcastHashJoin"]),
        # Q14-shape: part is a broadcast dim — no shuffle on lineitem.
        ("promo_revenue_monthly", ["BroadcastHashJoin"]),
        # Q22-shape: the 1-row global aggregate broadcasts (no global
        # window), the order-count join shuffles on the key.
        ("sales_opportunity_segments", ["BroadcastNestedLoopJoin"]),
        # Q7-shape: supplier/customer/nation dims broadcast; the only
        # fact-fact exchange is lineitem-orders.
        ("nation_trade_volume", ["BroadcastHashJoin"]),
        # Q19-shape: the disjunctive predicate derives per-side
        # implications — BOTH scans carry pushed filters.
        ("discounted_brand_revenue", ["BroadcastHashJoin", "PushedFilters: [IsNotNull"]),
        # Q15-shape: 1-row max broadcast over the supplier aggregate
        # (plans as a broadcast CROSS hash join, not a nested loop).
        ("top_revenue_supplier", ["BroadcastHashJoin"]),
        # Q6-shape: every banded predicate reaches the scan.
        ("forecast_revenue_change", ["PushedFilters: [IsNotNull"]),
        # Q21-shape: EXISTS + NOT EXISTS realize as semi then anti
        # self-joins (never a widening inner join), top-k never sorts.
        (
            "sole_late_supplier_orders",
            ["LeftSemi", "LeftAnti", "TakeOrderedAndProject"],
        ),
        # Q20-shape: IN-over-HAVING is an aggregate-then-semi chain
        # with the filtered part dim broadcast.
        ("high_volume_part_suppliers", ["LeftSemi", "BroadcastHashJoin"]),
        # Q2-shape: the brand dim broadcasts into the fact probe.
        ("cheapest_supplier_per_part", ["BroadcastHashJoin"]),
        # Q8-shape: supplier/nation dims broadcast; single conditional
        # aggregate pass (no self-join of two aggregates).
        ("nation_market_share_by_year", ["BroadcastHashJoin"]),
        # Q9-shape: part/supplier/nation broadcast around the one
        # fact-fact exchange.
        ("nation_profit_by_year", ["BroadcastHashJoin"]),
        # int8 calibration: posexplode collapses map-side before the
        # one dim-cardinality exchange.
        ("embedding_dim_stats", ["Generate", "HashAggregate"]),
        # Q10-shape (r6): returnflag filter pushed to the lineitem
        # scan, customer/nation broadcast, top-20 never a full sort.
        (
            "returned_item_customers",
            ["PushedFilters: [IsNotNull", "BroadcastHashJoin",
             "TakeOrderedAndProject"],
        ),
        # Q12-shape (r6): conditional two-way counts partial-aggregate
        # map-side before the single exchange.
        ("shipment_delay_priority", ["HashAggregate", "BroadcastHashJoin"]),
        # frozen-codebook IVF (r6): probes broadcast into the corpus
        # list join — the corpus itself never shuffles.
        ("ivf_approx_neighbors", ["BroadcastHashJoin"]),
        # block-level dedup (r6): the single explicit repartition on
        # block_hash that both copy-count consumers share (fact-20
        # exchange-reuse pattern).
        ("chunk_dedup_fractions", ["hashpartitioning(block_hash", "REPARTITION_BY_COL"]),
        # BPE merge step (r6): corpus-wide pair top-20 must be a
        # distributed TakeOrderedAndProject, never a global sort.
        ("bpe_merge_candidates", ["TakeOrderedAndProject"]),
        # cluster-balanced sampling (r10 single-lineage rewrite):
        # cluster sizes ride the salted window stage — NO join at all;
        # assignment itself is zero-shuffle literals, so the whole
        # query is one corpus scan + two windows.
        ("cluster_balanced_sample", ["Window"]),
        # DSIR scoring (r6s4): both 1024-row count models broadcast
        # into the token stream — the corpus never sort-merges.
        ("dsir_importance_weights", ["BroadcastHashJoin"]),
        # resampling draw (r6s4): the 1-row global max joins back via
        # broadcast nested loop (the 1-row crossJoin pattern).
        ("dsir_resampled_corpus", ["BroadcastNestedLoopJoin"]),
        # span detection (r6s4, r8 fingerprint rewrite): one explicit
        # gram-KEY repartition shared by band-counts and both pair-join
        # sides (fact-20 reuse); the shuffles carry 8-byte md5 keys.
        ("duplicate_span_runs", ["hashpartitioning(gkey", "REPARTITION_BY_COL"]),
        # triplet mining (r6s4): the anchor batch broadcasts into one
        # corpus pass; argmax/argmin ride keyed windows.
        ("hard_negative_pairs", ["BroadcastNestedLoopJoin"]),
        # tf-cosine pairs (r6s5): one explicit term repartition shared
        # by hot-count/norm/self-join consumers (fact-20 reuse).
        ("tf_cosine_pairs", ["hashpartitioning(term", "REPARTITION_BY_COL"]),
        # priority sampling (r6s5): global weighted top-k must be
        # per-partition heaps, never a global sort.
        ("priority_weighted_sample", ["TakeOrderedAndProject"]),
        # IVM self-check (r6s5): delta and view merge through
        # group-cardinality hash aggregates/joins; the only
        # fact-shuffle is the snapshot full-outer diff on the key.
        ("changelog_incremental_agg", ["SortMergeJoin FullOuter", "HashAggregate"]),
        # correlated LATERAL top-k (r6s5): Catalyst must decorrelate
        # into a keyed window with the rank-limit pushed below the
        # exchange (WindowGroupLimit) and the dim broadcast — never a
        # per-outer-row subquery or a cartesian.
        (
            "lateral_top_orders_per_customer",
            ["WindowGroupLimit", "BroadcastHashJoin"],
        ),
        # equi-width histogram (r6s5): 1-row min/max bounds broadcast
        # back (nested-loop on a single row), one combining aggregate.
        ("order_value_histogram", ["BroadcastNestedLoopJoin", "HashAggregate"]),
        # Dice collocations (r6s5): vocab-sized unigram counts
        # broadcast into the bigram counts; top-20 distributed.
        ("bigram_collocations", ["BroadcastHashJoin", "TakeOrderedAndProject"]),
        # JL distortion (r7): the 5-query side broadcasts into the
        # bounded pair grid; the projection itself is plan literals
        # (no join for the matrix, no sort-merge anywhere).
        ("jl_projection_distortion", ["BroadcastNestedLoopJoin"]),
        # BM25 (r7): 3-row df and the 1-row avgdl/N stats broadcast
        # into the posting scoring; top-20 never a global sort.
        (
            "bm25_doc_ranking",
            ["BroadcastHashJoin", "BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
        ),
        # curriculum staging (r7): quartile cutoffs join back as a
        # 1-row broadcast — deliberately NOT a single-task global
        # ntile window.
        ("curriculum_stage_manifest", ["BroadcastNestedLoopJoin"]),
        # MG heavy hitters (r7): exact top-10 is per-partition heaps;
        # the sketch merge is a hash aggregate over <= parts*m rows.
        ("mg_heavy_hitters", ["TakeOrderedAndProject", "HashAggregate"]),
        # contamination fraction (r7): same shared-gram-repartition
        # index as test_set_decontamination (fact-20 reuse).
        (
            "doc_contamination_fraction",
            ["hashpartitioning(gram", "REPARTITION_BY_COL"],
        ),
    ],
)
def test_plan_shapes(spark, sf_dir, query, required):
    """The plans the engine promises at scale (SURVEY §4): filters
    pushed to scans, dims broadcast, top-k never a full sort."""
    plan = _plan(QUERIES[query](spark, sf_dir))
    for fragment in required:
        assert fragment in plan, f"{query}: missing {fragment}\n{plan[:2000]}"


def test_repetition_scores_zero_shuffle(spark, sf_dir):
    """doc_repetition_scores promises a pure scan: every histogram max
    is an in-row fold — a flat map over a 100 TB corpus. r16: the
    single-file test lake triggers load_table's conditional scan
    spread (guide §2.5 input skew), so the plan carries the one
    hashpartitioning(doc_id) exchange that fans the serial scan across
    cores exactly when the reader's split estimate is below the core
    count — it vanishes when the layout yields >= cores splits. Any
    other exchange is still a regression."""
    import re

    plan = _plan(QUERIES["doc_repetition_scores"](spark, sf_dir))
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*\]\n"
        r"Arguments: (\w+partitioning)\(([^,)]*)",
        plan,
    )
    assert bool(exchanges) == _documents_spread_fires(spark, sf_dir), plan[:2000]
    assert all(
        part == "hashpartitioning" and col.startswith("doc_id")
        for part, col in exchanges
    ), plan[:2000]


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read the full lineitem schema."""
    plan = _plan(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    )
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_salted_aggregate_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    plain = {
        r["o_orderstatus"]: (r["n"], round(r["total"], 2))
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
        .collect()
    }
    salted = {
        r["o_orderstatus"]: (r["n"], round(r["total"], 2))
        for r in salted_aggregate(
            orders,
            ["o_orderstatus"],
            {"n": F.count(F.lit(1)), "total": F.sum("o_totalprice")},
            n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_broadcast_salted_join_plan(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    joined = broadcast_salted_join(orders, customer, "o_custkey")
    assert "BroadcastHashJoin" in _plan(joined)
    assert joined.count() == orders.count()


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key → no Exchange in the join
    plan (the co-located-join contract of write_bucketed_table)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(orders, "bkt.orders_b", ["o_orderkey"], 8)
    write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bkt.lineitem_b",
        ["o_orderkey"],
        8,
    )
    # Force the sort-merge path (tiny test tables would broadcast and
    # bypass bucketing — at scale SMJ is what bucketing accelerates).
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt.orders_b").join(
            spark.table("bkt.lineitem_b"), "o_orderkey"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:3000]  # bucket-co-located: no shuffle
        assert "Bucketed: true" in plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE bkt.orders_b")
        spark.sql("DROP TABLE bkt.lineitem_b")
        spark.sql("DROP DATABASE bkt")


def test_schema_evolution_mergeschema(spark, tmp_path):
    """Additive schema evolution in the parquet fallback: new columns
    appear, old rows read NULL (ref mergeSchema behavior,
    src/utils/spark_utils.py:233-235)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v1", "v2"]).write.mode(
        "append"
    ).parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v1", "v2"}
    rows = {r["id"]: r["v2"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_dedup_clusters_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,          # chain collapses to min
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """AQE skew-join (SURVEY §4: 'skewed keys → salting or AQE'):
    with one key holding ~99% of rows and thresholds tuned for test
    scale, the final adaptive plan must mark the sort-merge join as
    skew-handled (hot partition split into parallel subtasks)."""
    skewed = spark.range(300_000).selectExpr(
        "CASE WHEN id % 100 < 99 THEN 0 ELSE id % 1000 END AS k", "id AS payload"
    )
    dim = spark.range(1_000).selectExpr("id AS k", "id * 2 AS attr")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = skewed.join(dim, "k")
        # collect() executes THIS DataFrame's queryExecution (count()
        # would build a different query and leave this plan unfinalized)
        assert len(joined.collect()) == 300_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sampling_plans_are_scan_local(spark, sf_dir):
    """Deterministic sampling must stay a scan-side filter: no
    exchange before the (optional) final aggregate, and the doc_id
    range predicate pushed into the parquet scan."""
    plan = _plan(QUERIES["deterministic_sample_members"](spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]  # pure filter+project
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in plan

    plan = _plan(QUERIES["shard_token_budgets"](spark, sf_dir))
    # one shuffle: the 8-group aggregate; map-side partial agg first
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:3000]
    assert "HashAggregate" in plan


def test_funnel_single_user_shuffle(spark, sf_dir):
    """All three funnel stages ride ONE user_id exchange; the type
    filter reaches the scan."""
    plan = _plan(QUERIES["purchase_funnel"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1, plan[:3000]
    assert "In(event_type, [click,purchase,view])" in plan


def test_minhash_verify_is_candidate_bounded(spark, sf_dir):
    """The verify stage must re-shingle only candidate docs (a semi
    join below word_shingles), and the plan must contain no cartesian
    product anywhere."""
    plan = _plan(QUERIES["minhash_lsh_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan, plan[:3000]


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime Bloom-filter semi-join reduction (the 100 TB shuffle
    saver): with a selective dimension filter, Spark injects a
    bloom_filter_agg on the creation side and a might_contain filter
    on the fact scan, pruning fact rows BEFORE the join shuffle.

    The defaults gate the rule on a >= 10 GB application-side scan —
    i.e. it self-activates in exactly the regime this engine targets
    and stays out of the way at test SF — so the test drops that
    threshold to 0 to pin plan shape + result parity. The session conf
    (runtime.bloomFilter.enabled) is Spark's, not ours: the assertion
    protects against a future session.py change silently disabling
    it.

    The overrides go through conf.set with a try/finally restore —
    get_spark(extra_conf=...) would getOrCreate() the SHARED session
    and leave autoBroadcastJoinThreshold=-1 behind for every later
    test (the order-dependent plan-contract failure this replaced)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        bloom_rows = sorted(map(tuple, j.collect()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # result parity with the plain (broadcast-allowed) join
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .count()
    )
    assert bloom_rows == sorted(map(tuple, plain.collect()))


def test_dedup_clusters_long_chain_pointer_doubling(spark):
    """A 60-hop dup chain must converge to a single cluster WELL under
    the iteration cap: pointer doubling makes convergence O(log
    diameter), so the chain that plain one-hop propagation would need
    59 rounds for (beyond the safety cap) finishes in <= 10."""
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(
        pairs, max_iterations=10
    ).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_random_graphs_match_union_find(spark):
    """Randomized cross-check: on seeded random pair graphs, the
    distributed min-label/pointer-doubling CC must equal a Python
    union-find ground truth (same canonical min-id labeling)."""
    import random

    for seed in (7, 13, 99):
        rng = random.Random(seed)
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(90)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        comp = {}
        for v in touched:
            comp.setdefault(find(v), []).append(v)
        expected = {
            v: min(members) for members in comp.values() for v in members
        }
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs).collect()
        }
        assert got == expected, f"seed {seed}"


def test_verified_pairs_stage_shared_across_consumers(spark, sf_dir):
    """The LSH verified-pairs stage is built once per (session,
    sf_dir) and shared: repeated calls return the SAME cached
    DataFrame object, so minhash_lsh_pairs / duplicate_clusters /
    corpus_dedup_survivors never rebuild the signature pipeline."""
    from fintech_lakehouse_spark.plans.text import verified_pairs_stage

    a = verified_pairs_stage(spark, sf_dir)
    b = verified_pairs_stage(spark, sf_dir)
    assert a is b
    assert a.storageLevel.useMemory  # cached, not recomputed lineage


def test_pair_stages_rebuild_after_documents_rewrite(spark, tmp_path):
    """The shared pair stages are keyed on the documents files'
    fingerprint, not just (session, lake path): rewriting documents
    with a different duplicate set mid-session must rebuild both
    stages and serve the new pairs, never the cached old ones."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fintech_lakehouse_spark.plans.curation import winnowing_pairs_stage
    from fintech_lakehouse_spark.plans.text import (
        reset_stage_caches,
        verified_pairs_stage,
    )

    rng = random.Random(7)
    texts = [
        " ".join(f"w{rng.randrange(10**6)}" for _ in range(40)) for _ in range(6)
    ]
    lake = str(tmp_path)

    def write_documents(copies: dict[int, int]) -> None:
        """Six unrelated docs, except doc k repeats doc copies[k]'s text."""
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(6), pa.int64()),
                    "text": [texts[copies.get(i, i)] for i in range(6)],
                }
            ),
            f"{lake}/documents.parquet",
        )

    def pairs(df) -> list[tuple[int, int]]:
        return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())

    try:
        write_documents({1: 0})
        assert pairs(verified_pairs_stage(spark, lake)) == [(0, 1)]
        assert pairs(winnowing_pairs_stage(spark, lake)) == [(0, 1)]
        write_documents({4: 3})
        assert pairs(verified_pairs_stage(spark, lake)) == [(3, 4)]
        assert pairs(winnowing_pairs_stage(spark, lake)) == [(3, 4)]
    finally:
        reset_stage_caches()


def test_drop_hot_keys_passes_null_keys(spark):
    """drop_hot_keys keeps the contract of the left-anti join it
    replaced: rows with a NULL key are never dropped, even when the
    NULL group is larger than max_df; hot non-NULL keys still are."""
    from fintech_lakehouse_spark.functions.text import drop_hot_keys

    rows = spark.createDataFrame(
        [(i, None) for i in range(5)]
        + [(10 + i, "hot") for i in range(5)]
        + [(20, "cold")],
        "doc_id long, key string",
    )
    kept = sorted(r["doc_id"] for r in drop_hot_keys(rows, "key", 2).collect())
    assert kept == [0, 1, 2, 3, 4, 20]


def test_ivf_argmin_evaluated_once(spark, sf_dir):
    """ivf_assign_fixed's always-true nondeterministic guard keeps the
    16-centroid argmin fold out of the inferred isnotnull(list_id)
    filters: the optimized plan of ivf_approx_neighbors carries the
    fold exactly once. An optimizer change that re-duplicates it into
    a Filter fails here instead of silently costing 8-20%."""
    df = QUERIES["ivf_approx_neighbors"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("array_min(") == 1, optimized[:3000]


def test_salted_shuffle_join_matches_plain(spark):
    """salted_shuffle_join must equal the unsalted join for inner and
    left — including a hot key (80% of rows), multiple matches per
    key, and left rows with no match."""
    from fintech_lakehouse_spark.operators.skew import salted_shuffle_join

    fact = spark.createDataFrame(
        [(1 if i % 5 else i, f"v{i}") for i in range(200)], ["k", "v"]
    )
    dim = spark.createDataFrame(
        [(1, "hot_a"), (1, "hot_b"), (5, "cold"), (999, "unmatched")],
        ["k", "d"],
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, fact.join(dim, "k", how).select("k", "v", "d").collect())
        )
        salted = sorted(
            map(
                tuple,
                salted_shuffle_join(fact, dim, "k", n_salts=4, how=how)
                .select("k", "v", "d")
                .collect(),
            )
        )
        assert salted == plain, how

    with pytest.raises(ValueError, match="right/full"):
        salted_shuffle_join(fact, dim, "k", how="full")


def test_cluster_balanced_two_phase_exact(spark, sf_dir):
    """cluster_balanced_sample's salted two-phase top-k must equal the
    naive single-window formulation exactly (the global per-cluster
    top-3 always lies inside the union of salted local top-3s)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fintech_lakehouse_spark.functions.vectors import ivf_assign_fixed
    from fintech_lakehouse_spark.plans._ivf_codebook import CENTROID_SQ, CENTROIDS
    from fintech_lakehouse_spark.plans.vectors import _embeddings_double

    got = sorted(
        tuple(r)
        for r in QUERIES["cluster_balanced_sample"](spark, sf_dir).collect()
    )
    assigned = ivf_assign_fixed(
        _embeddings_double(spark, sf_dir), CENTROIDS, CENTROID_SQ
    ).select("vec_id", "list_id")
    pick = F.md5(
        F.concat_ws("|", F.lit("bal"), F.col("vec_id").cast("string")).cast("binary")
    )
    w = Window.partitionBy("list_id").orderBy(pick.asc(), F.col("vec_id"))
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    naive = (
        assigned.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 3)
        .join(sizes, "list_id")
        .select("list_id", "cluster_size", "vec_id", "pick_rank")
    )
    assert got == sorted(tuple(r) for r in naive.collect())


def test_winnowing_zero_shuffle(spark, sf_dir):
    """winnowing_fingerprints promises a pure scan (the 100 TB
    flat-map property): the selection is one in-row pass — since r16 a
    vectorized PythonMapInArrow over (doc_id, text) only. The
    single-file test lake triggers load_table's conditional scan
    spread, so the one hashpartitioning(doc_id) exchange appears
    exactly when the reader's split estimate is below the core count
    (it vanishes when the layout yields >= cores splits); any other
    exchange is a regression."""
    import re

    plan = _plan(QUERIES["winnowing_fingerprints"](spark, sf_dir))
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*\]\n"
        r"Arguments: (\w+partitioning)\(([^,)]*)",
        plan,
    )
    assert bool(exchanges) == _documents_spread_fires(spark, sf_dir), plan[:2000]
    assert all(
        part == "hashpartitioning" and col.startswith("doc_id")
        for part, col in exchanges
    ), plan[:2000]
    # the Python boundary sees only the two columns it needs (§4.1)
    assert "MapInArrow" in plan, plan[:2000]


def test_vocab_oov_broadcasts_vocab(spark, sf_dir):
    """The vocab membership probe must be a broadcast join — the
    corpus token stream never shuffles for it (the only full-width
    exchange is the final per-doc aggregate)."""
    plan = _plan(QUERIES["vocab_oov_rates"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_semantic_dedup_matches_bruteforce(spark, sf_dir):
    """SemDeDup invariants vs the exact pairwise baseline: every
    in-cluster dup pair is a true cosine>threshold pair (subset of the
    brute-force pair set), per-cluster accounting is consistent, and
    cluster membership covers the corpus exactly once."""
    import numpy as np

    from fintech_lakehouse_spark.plans.curation import SEMDEDUP_THRESHOLD

    rows = QUERIES["semantic_dedup_clusters"](spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
    assert sum(r["n_members"] for r in rows) == len(vecs)

    # brute-force global near-dup pair count bounds the in-cluster count
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(ids), k=1)
    n_bruteforce = int((cos[iu] > SEMDEDUP_THRESHOLD).sum())
    n_semdedup = sum(r["n_dup_pairs"] for r in rows)
    assert 0 < n_semdedup <= n_bruteforce

    for r in rows:
        assert r["n_pruned"] <= r["n_dup_pairs"]
        assert r["n_survivors"] == r["n_members"] - r["n_pruned"]
        assert r["n_survivors"] >= 1


def test_winnowing_pairs_recall_vs_exact_jaccard(spark, sf_dir):
    """The winnowed index (~2/(w+1) of the gram hashes) must retain
    near-full recall against the exact full-shingle Jaccard pairs —
    the trade it sells is index size, not recall class. Not exactly
    100%: a pair whose overlap is fragmented into runs shorter than
    k+w-1 tokens can legitimately escape the winnowing guarantee."""
    wp = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["winnowing_candidate_pairs"](spark, sf_dir).collect()
    }
    jp = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    assert jp, "exact pair set must be non-vacuous at test SF"
    recall = len(jp & wp) / len(jp)
    assert recall >= 0.9, f"winnowing recall {recall:.2f} vs exact jaccard pairs"


def test_bloom_filter_no_false_negatives(spark):
    """The one-sided guarantee at the library level: every value
    inserted into the bloom build survives bloom_filter_members."""
    from fintech_lakehouse_spark.functions.sketches import (
        bloom_build_md5,
        bloom_filter_members,
    )

    members = spark.createDataFrame(
        [(f"gram {i} text",) for i in range(200)], ["gram"]
    )
    bloom = bloom_build_md5(members, "gram", k=4, m_bits=1 << 12)
    survivors = bloom_filter_members(members, bloom, "gram", k=4, m_bits=1 << 12)
    assert survivors.count() == 200


def test_bloom_decontamination_superset_of_exact(spark, sf_dir):
    """Bloom-flagged ⊇ exactly-contaminated (the property that lets the
    cheap pass gate the exact audit): every corpus doc the exact gram
    join flags is bloom-flagged, with at least as many flagged grams
    as its best exact match shares."""
    from fintech_lakehouse_spark.plans import QUERIES

    exact = QUERIES["test_set_decontamination"](spark, sf_dir).collect()
    bloom = {
        r["corpus_doc_id"]: r["n_flagged_grams"]
        for r in QUERIES["bloom_decontamination"](spark, sf_dir).collect()
    }
    best_exact: dict[int, int] = {}
    for r in exact:
        doc = r["corpus_doc_id"]
        best_exact[doc] = max(best_exact.get(doc, 0), r["n_shared_grams"])
    for doc, n_shared in best_exact.items():
        assert doc in bloom, f"exactly-contaminated doc {doc} not bloom-flagged"
        assert bloom[doc] >= n_shared


def test_bloom_corpus_side_never_shuffles(spark, sf_dir):
    """The 100 TB claim in the plan: membership is k=4 broadcast
    LEFT SEMI joins pipelined into the corpus scan, and the bloom
    build — statically duplicated once per probe join — runs ONCE at
    runtime (AQE ReusedExchange dedups the three later copies; the
    static duplication is the fact-29 cosmetic effect, visible only in
    explain()). The corpus gram stream itself never hash-shuffles
    before the final per-doc count of surviving grams."""
    df = QUERIES["bloom_decontamination"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # toString carries "== Final Plan ==" then "== Initial Plan ==" —
    # count nodes in the final section only.
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") == 4, plan[:3000]
    assert plan.count("LeftSemi") == 4, plan[:3000]
    # 3 of the 4 build subtrees (shuffle for distinct + broadcast)
    # collapse into ReusedExchange at runtime.
    assert plan.count("ReusedExchange") == 3, plan[:3000]


def test_bigram_familiarity_matches_python_model(spark, sf_dir):
    """Independent-implementation check (same pattern as the SemDeDup
    brute-force test): recompute leave-one-out bigram familiarity in
    plain Python over the corpus and compare every doc's counts and
    score exactly."""
    from collections import Counter

    from fintech_lakehouse_spark.plans import QUERIES

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    split = {
        r["doc_id"]: r["bucket"]
        for r in load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            __import__(
                "fintech_lakehouse_spark.functions.sampling",
                fromlist=["hash_bucket"],
            ).hash_bucket("doc_id", "split"),
        )
        .collect()
    }
    train_counts: Counter = Counter()
    per_doc: dict[int, Counter] = {}
    for r in docs:
        toks = r["text"].split(" ")
        grams = Counter(
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        )
        per_doc[r["doc_id"]] = grams
        if split[r["doc_id"]] < 9000:
            train_counts.update(grams)
    got = {
        r["doc_id"]: r
        for r in QUERIES["bigram_familiarity_scores"](spark, sf_dir).collect()
    }
    for doc_id, grams in per_doc.items():
        total = sum(grams.values())
        if total == 0:
            assert doc_id not in got
            continue
        own = grams if split[doc_id] < 9000 else Counter()
        familiar = sum(
            n for g, n in grams.items() if train_counts[g] - own.get(g, 0) >= 1
        )
        row = got[doc_id]
        assert row["n_bigram_occs"] == total
        assert row["n_familiar_occs"] == familiar
        assert row["familiarity"] == familiar / total


def test_dup_graph_pagerank_matches_python_model(spark, sf_dir):
    """Independent-implementation check: replay the exact integer
    PageRank (micro-units, floor-divided contributions and damping)
    in plain Python from the same edge set and compare every node."""
    from collections import defaultdict

    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans.curation import (
        PR_ITERS,
        PR_SCALE,
        _PR_BASE,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["winnowing_candidate_pairs"](spark, sf_dir).collect()
    ]
    neighbors = defaultdict(list)
    for a, b in pairs:
        neighbors[a].append(b)
        neighbors[b].append(a)
    ranks = {v: PR_SCALE for v in neighbors}
    for _ in range(PR_ITERS):
        sums = defaultdict(int)
        for v, nbrs in neighbors.items():
            c = ranks[v] // len(nbrs)
            for u in nbrs:
                sums[u] += c
        ranks = {v: _PR_BASE + (85 * s) // 100 for v, s in sums.items()}
    got = {
        r["doc_id"]: (r["degree"], r["pr_micro"])
        for r in QUERIES["dup_graph_pagerank"](spark, sf_dir).collect()
    }
    assert set(got) == set(neighbors)
    for v in neighbors:
        assert got[v] == (len(neighbors[v]), ranks[v]), v
    # a hub must outrank an equal-degree node with leaf-only neighbors
    assert len(got) > 0


def test_runtime_bloom_filter_join_injection(spark, sf_dir):
    """Catalyst's runtime bloom-filter semi-join reduction is ON by
    default (spark.sql.optimizer.runtime.bloomFilter.enabled) and our
    fact-fact join shape is ELIGIBLE: a selective filter on the
    creation side of a shuffle join injects bloom_filter_agg /
    might_contain onto the application side, pruning fact rows before
    the shuffle. The default thresholds require a >= 10 GiB
    application-side scan — met at production scale, not by the test
    lake — so this test scales the thresholds to the data (not the
    other way around) purely to pin that the ELIGIBILITY holds for the
    engine's join shape; nothing in product code changes thresholds."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "F"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        assert j.count() >= 0  # and it still executes
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_zorder_prunes_more_row_groups_than_linear(spark, sf_dir, tmp_path):
    """Measured data-skipping contract of write_zordered_table: for a
    predicate on the SECOND clustered dimension, the Morton layout's
    per-file min/max boxes exclude most files, while a lexicographic
    sort on (dim1, dim2) leaves dim2 spanning its full range in every
    file (no pruning). Overlap is counted from the real parquet
    footers — the same stats Spark's row-group pruning consults."""
    import glob as _glob

    import pyarrow.parquet as pq

    from fintech_lakehouse_spark.sources.writers import write_zordered_table

    cols = ["l_partkey", "l_suppkey"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols, "l_quantity")
    lin_path = str(tmp_path / "linear")
    z_path = str(tmp_path / "zorder")
    (
        li.repartitionByRange(16, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(lin_path)
    )
    write_zordered_table(li, z_path, cols, n_files=16)

    smin, smax = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    width = max(1, (smax - smin) // 8)
    lo, hi = smin + 3 * width, smin + 4 * width  # narrow dim2 band

    def overlapping_files(path: str) -> tuple[int, int]:
        total, overlap = 0, 0
        for f in _glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            idx = md.schema.to_arrow_schema().get_field_index("l_suppkey")
            fmin = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if fmax >= lo and fmin <= hi:
                overlap += 1
        return total, overlap

    lin_total, lin_hit = overlapping_files(lin_path)
    z_total, z_hit = overlapping_files(z_path)
    assert lin_total >= 8 and z_total >= 8
    # lexicographic: dim2 spans ~full range per file -> ~no pruning
    assert lin_hit >= lin_total - 1, (lin_hit, lin_total)
    # z-order: the band intersects only the curve tiles in that strip
    assert z_hit <= z_total // 2, (z_hit, z_total)
    # and the layouts hold the same rows
    a = spark.read.parquet(lin_path).filter(F.col("l_suppkey").between(lo, hi))
    b = spark.read.parquet(z_path).filter(F.col("l_suppkey").between(lo, hi))
    assert a.count() == b.count()


def test_bloom_size_for_rule(spark):
    """The sizing rule: the computed (m, k) actually achieves (better
    than) the target fp rate on a real build — measured by probing
    values known absent."""
    from fintech_lakehouse_spark.functions.sketches import (
        bloom_build_md5,
        bloom_filter_members,
        bloom_size_for,
    )

    n = 2000
    m_bits, k = bloom_size_for(n, target_fp=0.01)
    assert m_bits >= 8 * n  # ~9.6 bits/element at 1%
    members = spark.createDataFrame(
        [(f"member {i}",) for i in range(n)], ["gram"]
    )
    absent = spark.createDataFrame(
        [(i, f"absent {i}") for i in range(4000)], ["i", "gram"]
    )
    bloom = bloom_build_md5(members, "gram", k, m_bits)
    fp = bloom_filter_members(absent, bloom, "gram", k, m_bits).count()
    assert fp / 4000 <= 0.02, f"fp rate {fp/4000:.3f} vs target 0.01"


def test_proximity_pairs_match_bruteforce(spark, sf_dir):
    """Independent-implementation check for the grid-bucketed spatial
    join: recompute the md5 coordinates and ALL-PAIRS distances in
    Python and compare the pair set exactly — proving the 3x3
    neighbor-cell candidates lose nothing at the cell boundaries."""
    import hashlib

    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans.relational_r6 import GEO_RADIUS_MICRO

    custkeys = [
        r["c_custkey"]
        for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    ]

    def coord(salt, key, mod):
        h = hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:12]
        return int(h, 16) % mod

    pts = {
        k: (coord("lat", k, 180_000_000), coord("lng", k, 360_000_000))
        for k in custkeys
    }
    r2 = GEO_RADIUS_MICRO * GEO_RADIUS_MICRO
    expected = {}
    keys = sorted(pts)
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            d2 = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
            if d2 <= r2:
                expected[(a, b)] = d2
    got = {
        (r["cust_a"], r["cust_b"]): r["dist2_micro"]
        for r in QUERIES["customer_proximity_pairs"](spark, sf_dir).collect()
    }
    assert got == expected and len(expected) > 0


def test_triangle_count_reuses_pair_subtree(spark, sf_dir):
    """dup_graph_triangles references the winnowing pair pipeline four
    times (three edge roles + degrees). The static plan duplicates the
    subtree, but every consumer reaches the IDENTICAL
    hashpartitioning(doc_a, doc_b) aggregation exchange, so at runtime
    the heavy winnow derivation must run ONCE and the other consumers
    read ReusedExchange (fact 20: reuse happens exactly when the
    shared reference point IS an exchange). Guards against a refactor
    that perturbs one consumer's subtree (e.g. an extra projection
    below the groupBy) and silently quadruples the query."""
    df = QUERIES["dup_graph_triangles"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:2000]


@pytest.mark.parametrize(
    "query",
    [
        "image_decode_roundtrip",
        "audio_decode_roundtrip",
        "media_header_roundtrip",
    ],
)
def test_multimodal_roundtrips_single_id_spread(spark, sf_dir, query):
    """The multimodal roundtrip queries promise per-partition codec
    pipelines with EXACTLY ONE exchange: the deliberate round-robin
    ``_spread`` of the tiny id table (r15 optimization round) that
    fans the per-asset Python codec work across cores — the test lake
    is one parquet file, so without it the whole asset batch decodes
    serially in a single Python worker. The contract pinned here:
    one RoundRobinPartitioning exchange, placed BELOW payload
    synthesis (it moves only the id/param longs, never binary
    payloads), and still no join sneaking back in (e.g. to re-fetch a
    column the key already determines)."""
    import re

    plan = _plan(QUERIES[query](spark, sf_dir))
    # "(n) Exchange" appears once per exchange in the formatted detail
    # section (the tree line would double-count it); union-of-codecs
    # queries spread each branch, so: at least one, ALL round-robin,
    # ALL over the pruned id-only projection.
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: ([^,\n]*)",
        plan,
    )
    assert exchanges, plan[:2000]
    for cols, partitioning in exchanges:
        assert "RoundRobinPartitioning" in partitioning, plan[:2000]
        assert "payload" not in cols and "text" not in cols, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]


def test_curated_quality_flag_not_inlined_into_filter(spark, sf_dir):
    """r15 optimization pin: curated_corpus_shards evaluates the
    fold-heavy repetition flag ONCE, as a projected column below the
    dedup-window exchange — never inlined into a Filter. Physical
    scan-operation collapse used to substitute the metric aliases into
    the quality Filter, inlining split(text) ~16× into one interpreted
    (CodegenFallback HOF) predicate (measured 4.5 s vs 0.98 s for the
    same metrics as a projection, sf0.1). Contract: no Filter node
    carries an aggregate() fold; exactly one Project does; the window
    form (min over quality rows) replaced the filtered row_number."""
    import re

    df = QUERIES["curated_corpus_shards"](spark, sf_dir)
    plan = _plan(df)
    nodes = re.finditer(
        r"\((\d+)\) (\w+)[^\n]*\n((?:(?!\n\(\d+\) ).)*)", plan, re.S
    )
    fold_filters, fold_projects = [], []
    for m in nodes:
        _, op, detail = m.groups()
        if "aggregate(" in detail:
            (fold_filters if op == "Filter" else fold_projects).append(op)
    assert not fold_filters, plan[:3000]
    assert len(fold_projects) == 1, (fold_projects, plan[:3000])


def test_hot_key_guard_trips_and_passes(spark):
    """The skew gate for exact range windows (VERDICT r6 item 3), both
    modes: lazily-gated plans build for free and fail AT EXECUTION on
    a fixture where one user owns 80% of rows (the assert_true message
    carries the marker + observed max); eager mode raises HotKeyError
    naming the offender immediately; uniform fixtures pass through
    unchanged in both modes."""
    from fintech_lakehouse_spark.operators.skew import (
        HotKeyError,
        hot_key_guard,
    )

    hot = spark.range(10_000).selectExpr(
        "CASE WHEN id % 10 < 8 THEN 7 ELSE id % 50 END AS user_id"
    )
    gated = hot_key_guard(hot, ["user_id"], max_rows_per_key=1_000)
    gated.explain()  # lazy: building + explaining runs no guard job
    with pytest.raises(Exception, match="hot_key_guard"):
        gated.count()
    with pytest.raises(HotKeyError, match=r"\(7,\)"):
        hot_key_guard(hot, ["user_id"], max_rows_per_key=1_000, eager=True)
    uniform = spark.range(10_000).selectExpr("id % 50 AS user_id")
    assert (
        hot_key_guard(uniform, ["user_id"], max_rows_per_key=1_000).count()
        == 10_000
    )
    assert (
        hot_key_guard(
            uniform, ["user_id"], max_rows_per_key=1_000, eager=True
        ).count()
        == 10_000
    )


def test_structuring_alerts_bounded_matches_exact(spark, sf_dir):
    """The registry default for aml_structuring_alerts is the
    daily-bucket bounded plan; it must be OUTPUT-IDENTICAL to the
    exact per-order range window (date-granular frame edges make the
    decomposition lossless), including on the real lake tables."""
    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans.analytics import (
        exact_structuring_alerts,
    )

    key = lambda r: (r["custkey"], r["orderkey"])  # noqa: E731
    bounded = sorted(
        QUERIES["aml_structuring_alerts"](spark, sf_dir).collect(), key=key
    )
    exact = sorted(exact_structuring_alerts(spark, sf_dir).collect(), key=key)
    assert bounded == exact
    assert len(bounded) > 0


def test_structuring_alerts_window_input_is_daily_rollup(spark, sf_dir):
    """Plan assertion for the bounded shape: the window function's
    input subtree must contain the (custkey, day) aggregate — i.e. the
    frame slides over daily buckets, not raw orders — so per-key
    window cost is O(days × 31) regardless of order volume."""
    from fintech_lakehouse_spark.plans import QUERIES

    df = QUERIES["aml_structuring_alerts"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    win_at = plan.find("Window")
    agg_after = plan.find("Aggregate", win_at)
    assert win_at >= 0 and agg_after > win_at, plan
    assert "o_orderdate" in plan[agg_after : agg_after + 400]


def test_velocity_hot_user_completes_bounded(spark):
    """The 80%-hot-user fixture from the r6 skew bench, shrunk to unit
    scale: the bounded daily-bucket structuring plan completes against
    a hot account (one customer owning 80% of 60k orders) — the shape
    that wedges the exact window's single task at bench scale — and
    agrees with the exact twin, which is still tractable at THIS size
    so equality can be checked."""
    import pandas as pd

    from fintech_lakehouse_spark.plans.analytics import (
        aml_structuring_alerts,
        exact_structuring_alerts,
    )
    from fintech_lakehouse_spark.plans.registry import QUERIES
    from fintech_lakehouse_spark.sources import readers

    n = 60_000
    pdf = pd.DataFrame(
        {
            "o_orderkey": range(n),
            "o_custkey": [7 if i % 10 < 8 else i % 500 for i in range(n)],
            "o_orderdate": pd.to_datetime(
                [f"2024-{1 + (i // 7000) % 3:02d}-{1 + i % 28:02d}" for i in range(n)]
            ),
            "o_totalprice": [9000.0 + (i % 2000) * 50 for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    orig = readers.load_table
    try:
        readers.load_table = lambda _s, _d, name: df
        # the plan functions import load_table at module scope
        import fintech_lakehouse_spark.plans.analytics as an

        orig_an = an.load_table
        an.load_table = lambda _s, _d, name: df
        try:
            key = lambda r: (r["custkey"], r["orderkey"])  # noqa: E731
            bounded = sorted(
                aml_structuring_alerts(spark, "ignored").collect(), key=key
            )
            exact = sorted(
                exact_structuring_alerts(spark, "ignored").collect(), key=key
            )
            assert bounded == exact
            assert len(bounded) > 0
        finally:
            an.load_table = orig_an
    finally:
        readers.load_table = orig


def test_r7s2_plan_shapes(spark, sf_dir):
    """Plan contracts for the round-7 session-2 analytics family:
    each asserts the scale-critical property the docstring promises."""
    # kmeans: assignment is map-only — packed centroids enter via
    # BroadcastNestedLoopJoin (1-row build), never a sort-merge join
    plan = _plan(QUERIES["kmeans_lloyd_clusters"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # drift monitor: the window-only tail keeps runtime corpus scans
    # bounded (was 6 with the totals-as-second-aggregate shape; the
    # union's two branches legitimately re-enter the reused exchange)
    df = QUERIES["order_price_drift_tvd"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Scan parquet") <= 3
    assert "ReusedExchange" in executed
    # benford: ONE orders scan node; the 9-row expected spine is a
    # Range, not a second parquet read or an RDD scan. (formatted
    # explain prints each node twice: tree line + detail block)
    plan = _plan(QUERIES["benford_first_digit_audit"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Scan ExistingRDD" not in plan and "Range" in plan
    # association: brand marginals broadcast into the scoring join
    plan = _plan(QUERIES["brand_pair_association"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_r7s3_plan_shapes(spark, sf_dir):
    """Plan contracts for the round-7 session-3 family: each pins the
    scale property its docstring promises. (Formatted explain prints
    each node twice: tree line + detail block.)"""
    # cohort LTV: ONE fact-scale exchange (the customer window); the
    # cumulative windows run post-aggregate on the months² frame
    plan = _plan(QUERIES["cohort_ltv_curve"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(o_custkey") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # velocity screen: one user_id exchange carries lag + aggregate;
    # top-k is TakeOrderedAndProject, never a global sort
    plan = _plan(QUERIES["rapid_repeat_purchases"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "TakeOrderedAndProject" in plan
    # session paths: sessionization AND path construction share the
    # single user_id exchange
    plan = _plan(QUERIES["top_session_paths"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "TakeOrderedAndProject" in plan
    # Heaps curve: one vocab exchange on the gram; the checkpoint
    # spine enters via broadcast, never a cartesian blowup
    plan = _plan(QUERIES["vocab_growth_curve"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(token") == 1
    assert "CartesianProduct" not in plan
    # ANN recall: the two k×|queries| result frames compare via a
    # broadcast join — no sort-merge shuffle, no cartesian anywhere
    plan = _plan(QUERIES["ann_recall_eval"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # drawdown: single orders scan node; top-k distributed
    plan = _plan(QUERIES["revenue_peak_drawdown"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "TakeOrderedAndProject" in plan
    # autocorrelation: days-frame self-join broadcasts; no cartesian
    plan = _plan(QUERIES["daily_order_autocorrelation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_r7s3_plan_shapes_2(spark, sf_dir):
    """Plan contracts for the later session-3 additions."""
    # pareto: fact folds to per-customer map-side; threshold spine
    # broadcasts; no cartesian
    plan = _plan(QUERIES["revenue_pareto_coverage"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(o_custkey") == 1
    assert "CartesianProduct" not in plan
    # nearest join: the union-stream window rides ONE user_id exchange
    # (the second hashpartitioning(user_id…) hit is the right-side
    # (user_id, _t) tie-dedup aggregate); both directions share the
    # window sort — no self-join, no range explosion
    plan = _plan(QUERIES["purchase_nearest_click"](spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(user_id") <= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # l-diversity: one scan, bounded group table, broadcast spine
    plan = _plan(QUERIES["l_diversity_audit"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_sql_udf_bodies_inline(spark, sf_dir):
    """CREATE FUNCTION bodies must INLINE at plan time — the physical
    plan carries the CASE expression and a LocalTableScan for the
    table function, never a named UDF call (the property that makes
    SQL UDFs free at scale, unlike script UDFs)."""
    plan = _plan(QUERIES["sql_udf_band_report"](spark, sf_dir))
    assert "order_band" not in plan and "band_edges" not in plan
    assert "CASE WHEN" in plan
    assert "LocalTableScan" in plan and "BroadcastHashJoin" in plan


def test_kcore_plan_is_checkpoint_bounded(spark, sf_dir):
    """VERDICT r7 weak item 2, closed: dup_graph_kcore's static plan
    used to be a 599-exchange / 400-scan unroll (the pair subtree
    referenced 3^rounds times); run through iterate_edges the peeled
    edge list is a localCheckpoint leaf, so the FINAL plan is one
    degree aggregate + broadcast flag join over an in-memory scan —
    no parquet scan, single-digit exchanges, independent of round
    count."""
    df = QUERIES["dup_graph_kcore"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange") <= 8, plan[:3000]
    assert "Scan parquet" not in plan, plan[:3000]
    assert "Scan ExistingRDD" in plan, plan[:3000]


def test_pagerank_plan_is_checkpoint_bounded(spark, sf_dir):
    """Same contract for the power iteration, updated for the r15 lazy
    tail (iterate_edges checkpoint_last=False): the heavy winnowing
    pair subtree still appears ZERO times statically — every leaf is
    the edge localCheckpoint — while the 3 unrolled power rounds
    contribute a LINEAR number of exchanges (one join + one agg per
    round, the degree subtree deduped by ReusedExchange at runtime),
    not the 3^rounds subtree blow-up the checkpoint harness exists to
    prevent. Bound: rounds × ~5 + the final degree join, comfortably
    under the 599-exchange pathology plan (VERDICT r7)."""
    df = QUERIES["dup_graph_pagerank"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange") <= 24, plan[:3000]
    assert "ReusedExchange" in plan, plan[:3000]
    assert "Scan parquet" not in plan, plan[:3000]


def test_hot_count_rewrite_distinctness_premise(spark, sf_dir):
    """VERDICT r15 item 8: the r15 count(*) ≡ countDistinct(doc_id)
    rewrites in the hot-gram/hot-fingerprint subqueries
    (test_set_decontamination, curated_corpus_shards,
    doc_contamination_fraction, the winnowing pair stage) rest on
    exploded (doc_id, gram/fp) rows being per-doc DISTINCT by
    construction — word_shingles returns array_distinct and
    winnow_selected returns a sorted distinct selection. Pin that
    premise directly on the explode outputs, so a future edit to
    either helper cannot silently inflate the hot counts relative to
    the DuckDB oracles (which still say COUNT(DISTINCT doc_id))."""
    from fintech_lakehouse_spark.functions.text import (
        winnow_selected,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # adversarial repetition: every token equal -> all grams equal
    rep = docs.sparkSession.createDataFrame(
        [(10_000_001, " ".join(["rep"] * 50))], ["doc_id", "text"]
    )
    corpus = docs.select("doc_id", "text").unionByName(rep)
    for n in (3, 8):
        grams = word_shingles(corpus, n=n).select(
            "doc_id", F.explode("shingles").alias("g")
        )
        assert grams.count() == grams.distinct().count(), f"n={n}"
    fps = winnow_selected(corpus, k=4, w=5).select(
        "doc_id", F.explode("selected").alias("fp")
    )
    assert fps.count() == fps.distinct().count()
