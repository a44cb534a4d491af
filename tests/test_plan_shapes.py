"""Physical-plan assertions: the scale claims in docstrings must be
visible in the actual Catalyst plans — broadcast joins for dims, filter
pushdown reaching parquet scans, column pruning, partial aggregation,
top-k via TakeOrderedAndProject, and no Python row-loops in the query
path."""

from __future__ import annotations

import pytest

from strake_spark import inventory
from strake_spark.plans.tree import scan_pushdown_report
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = inventory.REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


class TestJoinStrategies:
    def test_q3_broadcasts_dimensions(self, spark):
        plan = _plan(spark, "tpch_q3_shipping_priority")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan  # no fact-fact shuffle join here

    def test_q5_all_dims_broadcast(self, spark):
        plan = _plan(spark, "tpch_q5_local_supplier_volume")
        assert plan.count("BroadcastHashJoin") >= 4

    def test_semi_join_planned_for_exists(self, spark):
        plan = _plan(spark, "tpch_q4_order_priority")
        assert "LeftSemi" in plan

    def test_anti_join_planned(self, spark):
        plan = _plan(spark, "join_anti_customers_without_urgent_orders")
        assert "LeftAnti" in plan


class TestTopK:
    def test_q3_uses_take_ordered_not_global_sort(self, spark):
        plan = _plan(spark, "tpch_q3_shipping_priority")
        assert "TakeOrderedAndProject" in plan

    def test_q10_uses_take_ordered(self, spark):
        plan = _plan(spark, "tpch_q10_returned_items")
        assert "TakeOrderedAndProject" in plan


class TestAggregation:
    def test_q1_partial_aggregation(self, spark):
        plan = _plan(spark, "tpch_q1_pricing_summary")
        # partial (map-side) + final agg pair around the shuffle
        assert "partial_" in plan or plan.count("HashAggregate") >= 2

    def test_q1_whole_stage_codegen(self, spark):
        # codegen stages appear in the FINAL adaptive plan, so execute
        df = inventory.REGISTRY["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WholeStageCodegen" in plan or "*(" in plan


class TestScanPushdown:
    def test_q6_filters_reach_parquet(self, spark):
        df = inventory.REGISTRY["tpch_q6_forecast_revenue"].fn(spark, SF_DIR)
        report = scan_pushdown_report(df)
        pushed = " ".join(report["pushed_filters"])
        assert "l_shipdate" in pushed and "l_discount" in pushed

    def test_q6_column_pruning(self, spark):
        df = inventory.REGISTRY["tpch_q6_forecast_revenue"].fn(spark, SF_DIR)
        report = scan_pushdown_report(df)
        schema = " ".join(report["read_schema"])
        # only the needed lineitem columns are read, not all 11
        assert "l_extendedprice" in schema
        assert "l_returnflag" not in schema and "l_orderkey" not in schema

    def test_q19_or_predicate_still_prunes_columns(self, spark):
        df = inventory.REGISTRY["tpch_q19_discounted_revenue"].fn(spark, SF_DIR)
        schema = " ".join(scan_pushdown_report(df)["read_schema"])
        assert "l_shipdate" not in schema  # unused column never read


class TestBucketedRangeJoin:
    def test_no_nested_loop_join(self, spark):
        """The bucketed rewrite must plan as an equi (hash/SMJ) join —
        a raw inequality join would be BroadcastNestedLoop, the O(n*m)
        plan the operator exists to avoid."""
        plan = _plan(spark, "range_join_events_after_purchase")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan


class TestEmbeddingDupPairsScalePath:
    def test_lsh_path_is_bucket_equi_join(self, spark):
        """The near-dup pair generator must bucket candidates by
        (band, key) — never an all-pairs product. The round-1 all-pairs
        form planned as BroadcastNestedLoopJoin (quadratic in the
        corpus); since r9 the bucket step is a grouped Arrow kernel
        (FlatMapGroupsInPandas), not a join at all."""
        plan = _plan(spark, "ann_embedding_dup_pairs")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "FlatMapGroupsInPandas" in plan

    @pytest.mark.slow
    def test_lsh_matches_exact_on_planted_near_dups(self, spark):
        # slow (r20, suite budget; ~20 s full-LSH run). Twin:
        # ann_embedding_dup_pairs' oracle is exact equality vs the brute-force
        # all-pairs SQL at sf0.001/0.01/0.1 — stronger than this planted corpus.

        """Non-vacuous recall check: a constructed corpus with genuine
        near-duplicate vectors (base vectors + tiny perturbations, cosine
        > 0.99) plus unrelated fillers. LSH must reproduce the exact
        brute-force pair set, and that set must be non-empty."""
        import math

        from strake_spark.operators import similarity as S

        dim = 8
        rows = []
        # 5 base vectors, each with 2 planted near-duplicates
        for b in range(5):
            base = [math.sin(0.7 * b * (j + 1)) + 1.5 for j in range(dim)]
            rows.append((b * 10, base))
            rows.append((b * 10 + 1, [x * 1.001 for x in base]))
            rows.append((b * 10 + 2, [x + 0.001 * ((j % 3) - 1) for j, x in enumerate(base)]))
        # fillers: deterministic md5-derived pseudo-random vectors in
        # [-1,1]^8 — pairwise-dissimilar (verified: no filler pair and no
        # filler-base pair reaches cosine 0.99; sinusoid-family fillers
        # kept aliasing into accidental near-pairs), so the exact set is
        # EXACTLY the planted pairs and the equality below is undiluted.
        import hashlib

        def _filler(i: int) -> list[float]:
            return [
                (int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16) / 0x7FFFFFFF)
                - 1.0
                for j in range(dim)
            ]

        for i in range(60, 100):
            rows.append((i, _filler(i)))
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

        lsh = {
            (r.id_a, r.id_b)
            for r in S.embedding_dup_pairs(emb, threshold=0.99, num_bands=24).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in S.embedding_dup_pairs(emb, threshold=0.99, method="exact").collect()
        }
        assert len(exact) == 15  # 3 pairs per planted triple x 5, nothing else
        assert lsh == exact

    @pytest.mark.slow
    def test_lsh_preserves_string_id_type(self, spark):
        # slow (r20, suite budget; ~20 s full-LSH run). Twin:
        # the id-type passthrough is also asserted by the exact-method leg and
        # the kernel's schema contract; operator untouched since r11.

        """The LSH path's pair schema derives from the input id type:
        string ids must come back as strings matching the exact path
        (the r9 kernel hardcoded bigint and broke non-integer ids)."""
        import math

        from strake_spark.operators import similarity as S

        dim = 8
        rows = []
        for b in range(4):
            base = [math.sin(0.7 * b * (j + 1)) + 1.5 for j in range(dim)]
            rows.append((f"doc-{b*10:03d}", base))
            rows.append((f"doc-{b*10+1:03d}", [x * 1.001 for x in base]))
        emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        lsh_df = S.embedding_dup_pairs(emb, threshold=0.99, num_bands=24, id_col="vec_id")
        assert dict(lsh_df.dtypes)["id_a"] == "string"
        lsh = {(r.id_a, r.id_b) for r in lsh_df.collect()}
        exact = {
            (r.id_a, r.id_b)
            for r in S.embedding_dup_pairs(
                emb, threshold=0.99, method="exact", id_col="vec_id"
            ).collect()
        }
        assert len(exact) == 4 and lsh == exact

    def test_lsh_hot_bucket_prefilter_before_arrow(self, spark):
        """Over-cap buckets drop via a broadcast anti-join BEFORE the
        Arrow boundary (ADVICE r9): with a cap below a degenerate
        corpus's bucket sizes the plan contains the LeftAnti join and
        the result is empty — member vectors never ship to Python."""
        from strake_spark.operators import similarity as S

        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(50)]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = S.embedding_dup_pairs(emb, threshold=0.5, max_bucket_size=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
        assert out.count() == 0

    def test_semantic_contamination_cross_only_and_full_recall(self, spark):
        """Cross-corpus semantic contamination (r10): planted eval/train
        paraphrase pairs are recovered exactly (LSH candidates == brute
        force cross pairs) and within-corpus duplicates never appear."""
        import math

        from strake_spark.operators import similarity as S

        dim = 8
        base = [math.sin(0.7 * (j + 1)) + 1.5 for j in range(dim)]
        other = [math.cos(1.3 * (j + 1)) - 1.5 for j in range(dim)]
        new = spark.createDataFrame(
            [(1, base), (3, [x * 1.001 for x in base]), (5, other)],
            "vec_id bigint, embedding array<double>",
        )
        # ref holds an internal near-dup pair (2, 4) and a cross match
        ref = spark.createDataFrame(
            [(2, base), (4, [x * 1.002 for x in base])],
            "vec_id bigint, embedding array<double>",
        )
        out = {
            (r.new_id, r.ref_id)
            for r in S.semantic_contamination(new, ref, threshold=0.99).collect()
        }
        assert out == {(1, 2), (1, 4), (3, 2), (3, 4)}

    def test_contamination_hot_bucket_prefilter_before_arrow(self, spark):
        """r13 (VERDICT task 2): a degenerate region populated by BOTH
        corpora drops via the shared gated broadcast anti-join BEFORE
        the Arrow boundary — the plan contains the LeftAnti join and no
        member vectors ship to Python. Union-counted: each side alone
        is under the cap; only their combined membership exceeds it."""
        from strake_spark.operators import similarity as S

        new = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)],
            "vec_id bigint, embedding array<double>",
        )
        ref = spark.createDataFrame(
            [(100 + i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)],
            "vec_id bigint, embedding array<double>",
        )
        out = S.semantic_contamination(new, ref, threshold=0.5, max_bucket_size=40)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
        assert out.count() == 0

    def test_contamination_cap_default_is_noop(self, spark):
        """The default cap must not change results at test scale — the
        inventory entry's driver hash depends on it."""
        import math

        from strake_spark.operators import similarity as S

        dim = 8
        base = [math.sin(0.7 * (j + 1)) + 1.5 for j in range(dim)]
        new = spark.createDataFrame(
            [(1, base), (3, [x * 1.001 for x in base])],
            "vec_id bigint, embedding array<double>",
        )
        ref = spark.createDataFrame(
            [(2, base)], "vec_id bigint, embedding array<double>"
        )
        out = {
            (r.new_id, r.ref_id)
            for r in S.semantic_contamination(new, ref, threshold=0.99).collect()
        }
        assert out == {(1, 2), (3, 2)}

    def test_lsh_matches_exact_on_synthetic_corpus(self, spark):
        """Recall on the driver's synthetic embeddings at the inventory
        entry's own settings (t=0.4, 24 bands): LSH == exact, non-empty.
        Deterministic (seeded hyperplanes), so this also pins the driver
        row to a non-vacuous match."""
        from strake_spark.data import table
        from strake_spark.operators import similarity as S

        emb = table(spark, SF_DIR, "embeddings")
        lsh = {
            (r.id_a, r.id_b)
            for r in S.embedding_dup_pairs(emb, threshold=0.4, num_bands=24).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in S.embedding_dup_pairs(emb, threshold=0.4, method="exact").collect()
        }
        assert lsh == exact and len(exact) > 0


class TestSkewGuards:
    @pytest.fixture(scope="class")
    def boilerplate_docs(self, spark):
        """Pathological corpus: 300 near-identical docs (one shared
        template) that put every doc in one LSH bucket / one gram set."""
        rows = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(300)]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_minhash_hot_bucket_cap_bounds_pairs(self, spark, boilerplate_docs):
        from strake_spark.operators import dedup as D

        capped = D.minhash_candidates(boilerplate_docs, max_bucket_size=10)
        # every doc identical -> one bucket of 300 -> dropped by the cap
        assert capped.count() == 0
        # the cap binds BEFORE collect_list: the drop is a broadcast
        # anti-join on bucket counts, never a filter on a built array
        plan = capped._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
        uncapped = D.minhash_candidates(boilerplate_docs, max_bucket_size=1000)
        assert uncapped.count() == 300 * 299 // 2

    def test_simhash_hot_block_cap_bounds_pairs(self, spark, boilerplate_docs):
        from strake_spark.operators import dedup as D

        capped = D.simhash_near_pairs(boilerplate_docs, max_bucket_size=10)
        # identical docs share every block -> all blocks over-cap -> dropped
        assert capped.count() == 0
        uncapped = D.simhash_near_pairs(boilerplate_docs, max_bucket_size=1000)
        assert uncapped.count() == 300 * 299 // 2

    def test_ngram_prefix_filter_exact_on_mixed_corpus(self, spark):
        """Prefix+length filtering is an exact optimization: results on
        a corpus with a stop-gram shared by all docs match brute force
        (verified against the inventory oracle at sf0.001/sf0.01), and
        the shared gram never explodes the index join."""
        from strake_spark.operators import dedup as D

        rows = [
            (i, f"common header line for all docs unique tail {i} {i*7} {i*13}")
            for i in range(50)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = D.ngram_jaccard_pairs(docs, threshold=0.6)
        rows_out = out.collect()
        assert all(r.jaccard >= 0.6 for r in rows_out)
        # hand computation: grams per doc = 9 (11 words, n=3), shared =
        # header-only = 6 (positions fully inside the common prefix),
        # jaccard = 6/12 = 0.5 < 0.6 -> no pairs survive at t=0.6
        assert len(rows_out) == 0
        out_low = D.ngram_jaccard_pairs(docs, threshold=0.4)
        assert out_low.count() == 50 * 49 // 2


class TestNoDriverLoops:
    @pytest.mark.parametrize(
        "name",
        [
            "dedup_minhash_lsh_candidates",
            "ann_cosine_topk_bruteforce",
            "text_language_id",
        ],
    )
    def test_pipeline_ops_are_single_plan(self, spark, name):
        """Training-pipeline operators must be one distributed plan —
        no collect() driven loops (a collect would crash here because
        the plan string would be empty / the fn would return data)."""
        df = inventory.REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(plan) > 0  # it IS a plan, not materialized data

    def test_row_at_a_time_python_udf_absent_in_tpch(self, spark):
        for name in (
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "tpch_q5_local_supplier_volume",
        ):
            plan = _plan(spark, name)
            assert "BatchEvalPython" not in plan, f"{name} uses row-wise Python"
            assert "PythonUDF" not in plan, f"{name} uses Python UDF"


class TestDecontamination:
    def test_no_cartesian_and_semi_join(self, spark):
        """Contamination check must be a gram-digest semi-join, never a
        doc-by-doc cross comparison."""
        plan = _plan(spark, "pipeline_decontaminate_ngram")
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert "LeftSemi" in plan

    def test_flags_known_contamination(self, spark):
        from strake_spark.operators.decontam import contaminated_ids

        shared = " ".join(f"tok{i}" for i in range(8))  # exactly one 8-gram
        train = spark.createDataFrame(
            [(1, f"prefix words here {shared} and a tail"),
             (2, "completely different content with many distinct words okay"),
             (3, "short doc")],  # < 8 tokens: can't carry a window
            "doc_id bigint, text string",
        )
        eval_docs = spark.createDataFrame(
            [(100, f"the benchmark question mentions {shared} verbatim")],
            "doc_id bigint, text string",
        )
        out = [r.doc_id for r in contaminated_ids(train, eval_docs).collect()]
        assert out == [1]

    def test_ngram_hashes_match_python_reference(self, spark):
        """The codegen-friendly element_at formulation must produce
        exactly the grams a plain-Python sliding window produces —
        including short docs (no grams), repeated tokens, and
        punctuation normalization."""
        import hashlib
        import random
        import re

        rng = random.Random(20260813)
        words = ["alpha", "Beta", "g4mma", "x", "", "d-e", "Ff"]
        docs = [
            (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 14))))
            for i in range(30)
        ]

        def py_grams(text, n=8):
            norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
            toks = norm.split(" ")
            if len(toks) < n:
                return []
            return [
                hashlib.md5(" ".join(toks[i:i + n]).encode()).hexdigest()
                for i in range(len(toks) - n + 1)
            ]

        expected = sorted(
            (i, g) for i, text in docs for g in py_grams(text)
        )
        from strake_spark.operators.decontam import ngram_hashes

        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = sorted((r.doc_id, r.gram_h) for r in ngram_hashes(df).collect())
        assert got == expected
        assert len(expected) > 0  # non-vacuous: some docs reach 8 tokens

    def test_packing_conserves_tokens(self, spark):
        from pyspark.sql import functions as F

        from strake_spark.operators.decontam import pack_sequences
        from strake_spark.operators.hashing import normalize_text

        from strake_spark.data import table

        docs = table(spark, SF_DIR, "documents")
        packs = pack_sequences(docs, budget=4096)
        total = packs.agg(F.sum("total_tokens").alias("t")).collect()[0].t
        expect = docs.select(
            F.sum(F.size(F.split(normalize_text(F.col("text")), " "))).alias("t")
        ).collect()[0].t
        assert total == expect  # every token lands in exactly one pack

    def test_packing_persist_covers_final_pass_and_changes_nothing(self, spark):
        # r19: the compact (id, n_tok, part) relation is persisted across
        # its two consumers — the final windowed pass must read the cache
        # (no second corpus tokenize), and persist=False must produce the
        # identical packing.
        from strake_spark.data import table
        from strake_spark.operators.decontam import pack_sequences

        docs = table(spark, SF_DIR, "documents")
        spark.catalog.clearCache()
        cached = pack_sequences(docs, budget=4096)
        assert "InMemoryTableScan" in cached._jdf.queryExecution().toString()
        got_cached = sorted(map(tuple, cached.collect()))
        spark.catalog.clearCache()
        plain = pack_sequences(docs, budget=4096, persist=False)
        assert "InMemoryTableScan" not in plain._jdf.queryExecution().toString()
        assert sorted(map(tuple, plain.collect())) == got_cached
        spark.catalog.clearCache()


class TestRound7Additions:
    def test_q2_broadcasts_dims_no_cartesian(self, spark):
        plan = _plan(spark, "tpch_q2_min_cost_supplier")
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastHashJoin") >= 3
        assert "TakeOrderedAndProject" in plan

    def test_q20_all_joins_broadcast(self, spark):
        plan = _plan(spark, "tpch_q20_part_promotion")
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan  # psq joins only broadcast sides

    def test_q11_scalar_subquery_is_broadcast_single_row(self, spark):
        plan = _plan(spark, "tpch_q11_important_stock")
        # the total-value scalar arrives via a broadcast nested loop of
        # one row, never a shuffled cross product
        assert "CartesianProduct" not in plan

    def test_semdedup_assignment_has_no_window(self, spark):
        # kmeans_assign checkpoints its result (r9: releases the source
        # cache), so the registered entry's plan is a checkpoint scan;
        # the argmax/aggregation invariants live in the PRE-checkpoint
        # k-means plan — assert on that directly
        from strake_spark.data import table
        from strake_spark.operators import semdedup as SD

        e = SD._normalized(table(spark, SF_DIR, "embeddings"), "vec_id", "embedding")
        plan = SD._kmeans(e, 8, 2)._jdf.queryExecution().executedPlan().toString()
        # map-only array_max argmax, not row_number: no Window node, and
        # the only aggregates are the centroid updates (partial pairs)
        assert "Window" not in plan
        assert "partial_" in plan or plan.count("HashAggregate") >= 2
        # assignment itself adds no per-row shuffle: the single-row
        # centroid array arrives via broadcast nested loop
        assert "BroadcastNestedLoopJoin" in plan

    def test_substring_dedup_single_gram_shuffle_key(self, spark):
        plan = _plan(spark, "dedup_substring_exact_spans")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_rollup_merge_broadcasts_touched_keys(self, spark):
        plan = _plan(spark, "events_rollup_incremental")
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # touched-day semi/anti joins


class TestQ2Shape:
    """Q2's intended plan: one (l_partkey, l_suppkey) fact shuffle,
    every dimension side broadcast (EU suppliers, part, and the
    min-per-part aggregate derived from the SAME shuffled lineage), and
    top-100 via TakeOrderedAndProject — no fact-fact SortMergeJoin."""

    def test_dims_broadcast_no_fact_fact_shuffle_join(self, spark):
        plan = _plan(spark, "tpch_q2_min_cost_supplier")
        assert plan.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in plan

    def test_topk_not_global_sort(self, spark):
        plan = _plan(spark, "tpch_q2_min_cost_supplier")
        assert "TakeOrderedAndProject" in plan

    def test_single_fact_aggregation_lineage(self, spark):
        # the min-cost-per-part aggregate must reuse the (part,supplier)
        # aggregate, not re-scan lineitem: exactly one parquet scan of
        # lineitem in the plan
        plan = _plan(spark, "tpch_q2_min_cost_supplier")
        import re

        scans = re.findall(r"FileScan parquet \[[^\]]*l_partkey", plan)
        assert len(scans) == 1, f"lineitem scanned {len(scans)}x"


class TestQ20Shape:
    """Q20's intended plan: one fact aggregation on (part, supplier)
    with both quantity sums computed in the SAME pass (conditional
    aggregation, not two scans), then broadcast semi-style joins to the
    part and Asia-supplier filters."""

    def test_one_pass_conditional_aggregation(self, spark):
        plan = _plan(spark, "tpch_q20_part_promotion")
        import re

        scans = re.findall(r"FileScan parquet \[[^\]]*l_quantity", plan)
        assert len(scans) == 1, f"lineitem scanned {len(scans)}x"

    def test_filters_broadcast(self, spark):
        plan = _plan(spark, "tpch_q20_part_promotion")
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan

    def test_partial_aggregation(self, spark):
        plan = _plan(spark, "tpch_q20_part_promotion")
        assert "partial_" in plan or plan.count("HashAggregate") >= 2


class TestPipelineShapes:
    """Round-8 single-pass rewrites, pinned: these entries must not
    regress back to multi-scan / wide-shuffle plans."""

    def test_bm25_no_token_shuffle(self, spark):
        # tokens never shuffle: the per-doc profile is built with
        # higher-order functions in the scan; only the single-row stats
        # aggregate and the id-keyed output exchanges exist
        plan = _plan(spark, "text_bm25_ranking")
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^\n]*)", plan):
            assert "term#" not in m.group(1)
        assert "text#" not in " ".join(
            re.findall(r"Exchange [^\n]*", plan)
        )

    def test_curation_no_text_in_exchange(self, spark):
        plan = _plan(spark, "pipeline_end_to_end_curation")
        import re

        assert "text#" not in " ".join(re.findall(r"Exchange [^\n]*", plan))
        scans = re.findall(r"FileScan parquet \[[^\]]*doc_id", plan)
        assert len(scans) == 1, f"documents scanned {len(scans)}x"

    def test_q18_single_lineitem_scan(self, spark):
        plan = _plan(spark, "tpch_q18_large_volume_customers")
        import re

        scans = re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)
        assert len(scans) == 1, f"lineitem scanned {len(scans)}x"
        assert "TakeOrderedAndProject" in plan

    def test_q21_single_fact_pass_no_expand(self, spark):
        plan = _plan(spark, "tpch_q21_waiting_suppliers")
        import re

        li = re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)
        assert len(li) == 1, f"lineitem scanned {len(li)}x"
        # no countDistinct Expand node multiplying fact rows
        assert "Expand" not in plan


class TestRound9Additions:
    """q7/q8 broadcast-semi pre-reduction (r9): both fact inputs are
    reduced by LeftSemi joins BELOW the fact-fact join, the build side
    is never the lineitem fact, and no cartesian appears."""

    def test_q7_semi_reduces_both_facts(self, spark):
        import re

        plan = _plan(spark, "tpch_q7_volume_shipping")
        assert "CartesianProduct" not in plan
        assert plan.count("LeftSemi") >= 2  # supplier-key semi on l, customer-key semi on o
        assert "BuildLeft" not in plan  # fact side never the hash build
        li = re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)
        assert len(li) == 1, f"lineitem scanned {len(li)}x"

    def test_q8_semi_reduces_both_facts(self, spark):
        import re

        plan = _plan(spark, "tpch_q8_market_share")
        assert "CartesianProduct" not in plan
        # region→nation, nation→customer, customer→orders, part→lineitem
        assert plan.count("LeftSemi") >= 3
        assert "BuildLeft" not in plan
        li = re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)
        assert len(li) == 1, f"lineitem scanned {len(li)}x"

    def test_q5_semi_reduces_lineitem_only(self, spark):
        # r13 re-tune (measured, see tpch_q5 docstring): ONE semi on
        # lineitem by ASIA supplier keys — the map-side reduction that
        # matters at cluster SF — and no orders-side semi (its two
        # extra broadcast waves cost more than the 10x-smaller,
        # already-date-pruned table ever saved).
        import re

        plan = _plan(spark, "tpch_q5_local_supplier_volume")
        assert "CartesianProduct" not in plan
        # region→nation, nation→supplier, supplier-keys→lineitem
        assert plan.count("LeftSemi") >= 3
        assert "BuildLeft" not in plan  # fact side never the hash build
        li = re.findall(r"FileScan parquet \[[^\]]*l_orderkey", plan)
        assert len(li) == 1, f"lineitem scanned {len(li)}x"


class TestRound9Kernels:
    """r9 pairwise kernels: bucket aggregation instead of self-joins,
    Arrow-grouped pairwise instead of interpreted HOF folds."""

    def test_minhash_candidates_have_no_self_join(self, spark):
        plan = _plan(spark, "dedup_minhash_lsh_candidates")
        # pair generation is a bucket aggregate + explode; the only
        # joins left are the two broadcast signature-score lookups
        assert "SortMergeJoin" not in plan
        assert plan.count("Join") <= 2, plan.count("Join")
        assert "CartesianProduct" not in plan

    def test_simhash_pairs_have_no_self_join(self, spark):
        plan = _plan(spark, "dedup_simhash_near_pairs")
        # blocked pairing is a bucket aggregate + chained explodes
        assert "SortMergeJoin" not in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan

    def test_neardup_pairs_use_grouped_arrow_kernel(self, spark):
        from strake_spark.data import table
        from strake_spark.operators import similarity as S

        df = S.embedding_dup_pairs(
            table(spark, SF_DIR, "embeddings"), threshold=0.9,
            num_bands=16, band_bits=8,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan  # pairs form inside numpy
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
        # the only exchanges: bucket groupBy + pair dedup + band-keys batch
        assert plan.count("Exchange") <= 4, plan.count("Exchange")

    def test_semdedup_prune_is_checkpoint_plus_grouped_kernel(self, spark):
        from strake_spark.data import table
        from strake_spark.operators import semdedup as SD

        df = SD.semantic_prune(table(spark, SF_DIR, "embeddings"), k=8, iters=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan
        # no self-join, no anti-join: survivors come straight from the
        # per-cluster kernel over the single checkpointed relation
        assert "Join" not in plan
        assert "Scan ExistingRDD" in plan  # the one k-means checkpoint


class TestKnnLabelBroadcast:
    """r14 (r13 verdict finding #2): knn_label_consistency's HINTED
    broadcast side must be the n_queries label slice, never the
    corpus-sized (id, label) relation — a hint bypasses the size check,
    so an unfiltered q_lab would force-ship multi-GB at 10^9 rows."""

    @pytest.mark.parametrize("method", ["exact", "lsh"])
    def test_hinted_broadcast_side_is_query_slice(self, spark, method):
        from strake_spark.data import table
        from strake_spark.operators import similarity as S

        df = S.knn_label_consistency(
            table(spark, SF_DIR, "embeddings"), k=5, n_queries=50, method=method
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # locate the q_label build side; its scan (everything up to the
        # next exchange) must carry the pushed id < n_queries filter
        assert "AS q_label" in plan
        seg = plan[plan.index("AS q_label"):]
        for stop in ("BroadcastExchange", "Exchange"):
            if stop in seg:
                seg = seg[: seg.index(stop)]
        assert "LessThan(vec_id,50)" in seg, seg


class TestSemanticContaminationEdges:
    def test_empty_new_side_returns_typed_empty(self, spark):
        from strake_spark.operators import similarity as S

        empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
        ref = spark.createDataFrame(
            [("r1", [1.0, 2.0, 3.0, 4.0])], "vec_id string, embedding array<double>"
        )
        out = S.semantic_contamination(empty, ref)
        assert dict(out.dtypes) == {
            "new_id": "string", "ref_id": "string", "cosine": "double"
        }
        assert out.count() == 0


class TestAnnTopkSoleShuffle:
    """r15 (r14 verdict finding #3): the ANN kernels' documented scale
    contract — 'the sole shuffle is the per-query top-k window, with
    map-side WindowGroupLimit pruning' (operators/similarity.py) — is
    now plan-asserted, so a Spark upgrade or code change that silently
    reintroduces a second exchange or loses the rank-limit pushdown
    fails here instead of only at 10^9 rows."""

    def _cases(self, spark):
        from strake_spark.data import table
        from strake_spark.operators import similarity as S

        emb = table(spark, SF_DIR, "embeddings")
        return [
            ("cosine", S.cosine_topk(emb, k=5, n_queries=20)),
            ("lsh", S.lsh_topk(emb, k=3, n_queries=20)),
            ("ivf", S.ivf_topk(emb, k=3, n_queries=20)),
        ]

    def test_one_hash_exchange_with_partial_windowgrouplimit_below(self, spark):
        for name, df in self._cases(spark):
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the corpus pass is ONE Arrow kernel, never a join
            assert plan.count("MapInPandas") == 1, name
            assert "Join" not in plan and "CartesianProduct" not in plan, name
            # exactly one hash exchange: the per-query top-k window
            # (ivf_topk's terminal orderBy adds a rangepartitioning
            # exchange for presentation order — not a data shuffle of
            # the candidate stream, so it is not counted here)
            hash_ex = plan.count("Exchange hashpartitioning")
            assert hash_ex == 1, f"{name}: {hash_ex} hash exchanges"
            # rank-limit pushdown: a Partial WindowGroupLimit must sit
            # BELOW the exchange (map-side top-k pruning) and the Final
            # one above it
            assert plan.count("WindowGroupLimit") == 2, name
            i_final = plan.index(", Final")
            i_ex = plan.index("Exchange hashpartitioning")
            i_partial = plan.index(", Partial")
            # toString prints top-down: Final above the exchange,
            # Partial below it
            assert i_final < i_ex < i_partial, (name, i_final, i_ex, i_partial)


class TestRound16Additions:
    def test_multi_distinct_uses_expand(self, spark):
        """Several DISTINCT aggregates over different columns must plan
        as ONE Expand-based two-phase aggregation, not N self-joins."""
        plan = _plan(spark, "agg_count_distinct_multi")
        assert "Expand" in plan
        assert "Join" not in plan

    def test_hopping_window_is_single_shuffle(self, spark):
        """The hop fan-out (explode into 2 windows) happens map-side;
        the only exchange is the final group-by-window aggregation,
        with a partial aggregate before it."""
        plan = _plan(spark, "events_hopping_window")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1
        assert "partial" in body  # map-side combine before the shuffle

    def test_regression_family_single_pass(self, spark):
        """All six co-moment sums compute in ONE aggregation pass over
        lineitem (no join of per-statistic subqueries)."""
        plan = _plan(spark, "agg_regression_family")
        assert "Join" not in plan
        assert plan.count("Scan parquet") == 1

    def test_url_canonical_dedup_map_side_until_groupby(self, spark):
        """URL parse + canonicalization are pure projections — no join,
        no Python in the plan. Exactly two hash exchanges: the
        (canonical_url, source) partial for COUNT(DISTINCT source),
        then the canonical_url final — Spark's standard two-level
        distinct-aggregate expansion, both with map-side partials."""
        plan = _plan(spark, "pipeline_url_canonical_dedup")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 2
        assert "partial_count" in body
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_ignore_nulls_fill_single_shuffle(self, spark):
        """All four IGNORE NULLS window expressions share the per-user
        partitioning: one exchange, windows stacked on one sort order."""
        plan = _plan(spark, "window_ignore_nulls_fill")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1


class TestRound17Additions:
    def test_dsir_broadcasts_bucket_stats(self, spark):
        """The 64-row bucket-stats table must come back onto the token
        stream as a BROADCAST join — never a shuffle of the exploded
        corpus — and the per-doc sums must have map-side partials."""
        plan = _plan(spark, "curation_dsir_weights")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "partial" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_tfidf_no_python_and_windowgrouplimit(self, spark):
        """tf-idf is pure JVM (explode/agg/join/window); the top-1 per
        doc row_number gets Spark's map-side WindowGroupLimit."""
        plan = _plan(spark, "text_tfidf_topterms")
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "WindowGroupLimit" in plan

    def test_image_decode_is_map_only(self, spark):
        """PNG generate + decode are two chained Arrow-batched Python
        maps with NO exchange between or after them (map-only until the
        final presentation sort)."""
        plan = _plan(spark, "multimodal_image_decode")
        body = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange hashpartitioning" not in body
        assert plan.count("MapInPandas") == 2

    def test_max_by_single_pass(self, spark):
        """All four argmax/argmin aggregates in ONE hash aggregation
        with map-side partials; no join, no window, no sort before the
        aggregate."""
        plan = _plan(spark, "agg_max_by_min_by")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1
        assert "partial_max_by" in body or "partial" in body
        assert "Join" not in plan

    def test_range_interval_window_single_shuffle(self, spark):
        """The three trailing-hour window aggregates share one
        user_id partitioning: exactly one hash exchange."""
        plan = _plan(spark, "window_range_interval_sliding")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1

    def test_grouping_id_plans_one_expand(self, spark):
        """GROUPING SETS = one Expand + one aggregate exchange, not a
        union of per-set aggregates."""
        plan = _plan(spark, "agg_grouping_id_sets")
        assert "Expand" in plan
        assert "Union" not in plan
        assert "Join" not in plan

    def test_array_set_ops_pure_projection_with_pushdown(self, spark):
        """Array set algebra is pure column expressions over one scan:
        no Python, no join, and the key predicate reaches the parquet
        scan (PushedFilters) with the 3-column ReadSchema pruned."""
        plan = _plan(spark, "expr_array_set_ops")
        assert "BatchEvalPython" not in plan
        assert "Join" not in plan
        assert "LessThanOrEqual(p_partkey,400)" in plan
        assert "struct<p_partkey:bigint,p_name:string,p_type:string>" in plan


class TestRound18Additions:
    def test_funnel_entry_one_scan_one_exchange(self, spark):
        """The swapped funnel entry (r17 verdict's only weak mark):
        ONE events scan, ONE hash exchange, no join."""
        plan = _plan(spark, "events_funnel_conversion")
        assert plan.count("Scan parquet") == 1
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan

    def test_audio_decode_is_map_only(self, spark):
        """WAV generate + decode are two chained Arrow-batched Python
        maps with NO exchange until the presentation sort."""
        plan = _plan(spark, "multimodal_audio_decode")
        body = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange hashpartitioning" not in body
        assert plan.count("MapInPandas") == 2

    def test_image_resize_three_chained_maps_no_exchange(self, spark):
        """encode -> resize -> re-decode: three chained Arrow maps,
        still map-only (no exchange before the presentation sort)."""
        plan = _plan(spark, "multimodal_image_resize")
        body = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange hashpartitioning" not in body
        assert plan.count("MapInPandas") == 3

    def test_binaryfile_decode_scans_binaryfile_map_only(self, spark):
        """File ingestion enters through the binaryFile source and
        flows straight into the decode map — one Python node, no
        exchange before the presentation sort."""
        plan = _plan(spark, "multimodal_binaryfile_image_decode")
        body = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange hashpartitioning" not in body
        assert plan.count("MapInPandas") == 1
        assert "binaryFile" in plan

    def test_map_construction_pure_projection_with_pushdown(self, spark):
        """str_to_map / map_zip_with / map_filter / transform_values /
        map_concat are pure column expressions over one scan: no
        Python, no join, key predicate pushed."""
        plan = _plan(spark, "expr_map_construction")
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Join" not in plan
        assert "LessThanOrEqual(o_orderkey,2000)" in plan

    def test_s3_roundtrip_uses_mapinarrow_executor_path(self, spark):
        """The driver-harness S3 entry takes the EXECUTOR-PARALLEL
        reader (mapInArrow over distributed fetch tasks), not the
        driver spool."""
        plan = _plan(spark, "source_s3_distributed_roundtrip")
        assert "MapInArrow" in plan

    def test_sqlite_roundtrip_reads_four_range_partitions(self, spark):
        """num_partitions=4 on n_nationkey yields exactly 4 input
        partitions — each executor task opens its own read-only
        connection against a rowid/key range slice."""
        from strake_spark.inventory.sources_entries import _sqlite_db_for
        from strake_spark.sources.registry import ensure_format
        from strake_spark.sources.sqlite import FORMAT_NAME, SQLiteDataSource

        ensure_format(spark, SQLiteDataSource)
        df = (
            spark.read.format(FORMAT_NAME)
            .options(
                path=_sqlite_db_for(SF_DIR),
                table="nation",
                num_partitions="4",
                partition_column="n_nationkey",
            )
            .load()
        )
        assert df.rdd.getNumPartitions() == 4

    def test_wire_roundtrips_read_four_range_partitions(self, spark):
        """The r19 pg/mysql/clickhouse roundtrip entries each declare
        num_partitions=4 on n_nationkey — four executor tasks, each its
        own wire connection (the scale shape the sqlite entry pins,
        proven on all three protocol clients)."""
        from strake_spark.inventory import _wire_fakes as W
        from strake_spark.sources import clickhouse_http, mysqlwire, pgwire
        from strake_spark.sources.registry import ensure_format

        for mod, opts in (
            (
                pgwire,
                {
                    "host": "127.0.0.1",
                    "port": str(W.pg_server_for(SF_DIR).server_address[1]),
                    "database": "db",
                },
            ),
            (
                mysqlwire,
                {
                    "host": "127.0.0.1",
                    "port": str(W.my_server_for(SF_DIR).server_address[1]),
                    "database": "db",
                },
            ),
            (
                clickhouse_http,
                {
                    "url": "http://127.0.0.1:"
                    f"{W.ch_server_for(SF_DIR).server_address[1]}",
                },
            ),
        ):
            ensure_format(spark, {
                pgwire: pgwire.PgWireDataSource,
                mysqlwire: mysqlwire.MySqlDataSource,
                clickhouse_http: clickhouse_http.ClickHouseDataSource,
            }[mod])
            df = (
                spark.read.format(mod.FORMAT_NAME)
                .options(
                    user=W.WIRE_USER,
                    password=W.WIRE_PASSWORD,
                    table="nation",
                    partition_column="n_nationkey",
                    num_partitions="4",
                    **opts,
                )
                .load()
            )
            assert df.rdd.getNumPartitions() == 4, mod.FORMAT_NAME

    def test_duckdb_and_flight_roundtrip_partitioning(self, spark):
        """The duckdb roundtrip scans 4 key ranges; the flight roundtrip
        maps the server's 5 region-shard endpoints to 5 partitions."""
        from strake_spark.inventory import _wire_fakes as W
        from strake_spark.sources import duck, flight
        from strake_spark.sources.registry import ensure_format

        ensure_format(spark, duck.DuckDBDataSource)
        df = (
            spark.read.format(duck.FORMAT_NAME)
            .options(
                path=W.duck_path_for(SF_DIR),
                table="nation",
                partition_column="n_nationkey",
                num_partitions="4",
            )
            .load()
        )
        assert df.rdd.getNumPartitions() == 4

        ensure_format(spark, flight.FlightDataSource)
        srv = W.flight_server_for(SF_DIR)
        df = (
            spark.read.format(flight.FORMAT_NAME)
            .options(
                location=f"grpc://127.0.0.1:{srv.port}",
                command="nation:sharded",
                token=W.FLIGHT_TOKEN,
            )
            .load()
        )
        assert df.rdd.getNumPartitions() == 5
