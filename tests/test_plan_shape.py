"""Plan-shape regression tests: the scale story lives in the physical
plan, so pin it. If one of these breaks, a correct-but-unscalable plan
snuck in (full scan instead of pruned, shuffle instead of broadcast,
filter evaluated post-scan instead of pushed)."""

import io
import os
import shutil
from contextlib import redirect_stdout

import pytest

from quake_vector_search_spark.queries import REGISTRY, load_all_query_modules
from tests.conftest import SF_SMOKE

load_all_query_modules()


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain(True)
    return buf.getvalue()


@pytest.fixture(scope="module")
def ivf_index(spark):
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.sources import load_table

    workdir = "/tmp/qvss_test_planshape"
    shutil.rmtree(workdir, ignore_errors=True)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    yield IVFIndex.build(emb, workdir, coarse_k=4, base_k=2)
    shutil.rmtree(workdir, ignore_errors=True)


def test_ivf_probe_set_prunes_partitions(spark, ivf_index):
    """The APS probe set must reach the scan as directory-level
    PartitionFilters — the engine's whole performance story."""
    pids = [int(p) for p in ivf_index.part_ids[:2]]
    plan = _plan(ivf_index.read_corpus(partition_ids=pids))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "IN (" in seg or "isnotnull" not in seg.lower()


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(REGISTRY["q_filter_project"].fn(spark, SF_SMOKE))
    seg = plan.split("PushedFilters", 1)[1][:300]
    assert "GreaterThan(l_quantity" in seg


def test_star_join_broadcasts_dims(spark):
    plan = _plan(REGISTRY["q_star_join_revenue"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    # the fact-side scan must not read all columns
    assert "ReadSchema" in plan


def test_knn_has_no_cross_join(spark):
    """Brute-force kNN broadcasts the query block into mapInArrow —
    a CartesianProduct/crossJoin in the plan means the distance matrix
    went through the shuffle."""
    plan = _plan(REGISTRY["knn_brute_l2"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_lsh_has_no_cross_join(spark):
    plan = _plan(REGISTRY["dedup_minhash_lsh"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_noop_on_wide_input(spark):
    from quake_vector_search_spark.sources.catalog import spread
    wide = spark.range(0, 1000, 1, 64)
    assert spread(wide) is wide


def test_tombstone_filter_stays_pushable(spark, ivf_index):
    """Small tombstone sets must reach the scan as a NOT IN data filter
    (pushable), not a join."""
    ivf_index.tombstones = {1, 2, 3}
    try:
        plan = _plan(ivf_index.read_corpus())
        assert "Join" not in plan
    finally:
        ivf_index.tombstones = set()


def test_asof_join_single_shuffle(spark):
    """The as-of join must be ONE exchange on the key (union + window),
    never a range/cross join whose pair count explodes per key."""
    plan = _plan(REGISTRY["ts_asof_join"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union feeds one hashpartitioning(user_id) exchange for the window
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_chunking_is_narrow(spark):
    """Chunking is a per-row generate — any shuffle here would be a
    scale bug (it runs inside ingest scans at 100 TB)."""
    plan = _plan(REGISTRY["text_chunking"].fn(spark, SF_SMOKE))
    assert "Exchange" not in plan
    assert "Generate explode" in plan or "Generate posexplode" in plan


def test_q5_broadcasts_all_dims(spark):
    """TPC-H Q5 shape: exactly one shuffle join (lineitem⋈orders);
    supplier/customer/nation/region all broadcast."""
    plan = _plan(REGISTRY["q5_local_supplier_volume"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_profile_is_single_pass(spark):
    """Profiling must scan the table once — one aggregate over all
    columns, not one scan per column."""
    import re
    plan = _plan(REGISTRY["q_profile_orders"].fn(spark, SF_SMOKE))
    # formatted explain lists each physical node once as "(N) Scan
    # parquet" in the detail section — count nodes, not mentions
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_q6_all_predicates_pushed(spark):
    """Q6 is the pushdown showcase: all three predicates must reach
    the parquet scan as PushedFilters — at 100 TB this is the
    difference between reading row-group stats and reading the table."""
    plan = _plan(REGISTRY["q6_forecast_revenue"].fn(spark, SF_SMOKE))
    seg = plan.split("PushedFilters", 1)[1][:500]
    assert "l_shipdate" in seg
    assert "l_discount" in seg
    assert "LessThan(l_quantity" in seg


def test_q19_disjunction_derives_single_side_filters(spark):
    """Q19's OR-of-conjuncts mixes part and lineitem columns; Catalyst
    must still derive the implied single-side filters (CNF extraction)
    and push the quantity range into the lineitem scan."""
    plan = _plan(REGISTRY["q19_disjunctive_revenue"].fn(spark, SF_SMOKE))
    seg = plan.split("PushedFilters", 1)[1]
    assert "l_quantity" in seg[:800] or "p_brand" in seg[:800]
    assert "CartesianProduct" not in plan


def test_q8_broadcasts_every_dimension(spark):
    """Q8's 7-table join: part/supplier/nation×2/region all broadcast;
    at most the two fact joins (orders, customer) shuffle."""
    plan = _plan(REGISTRY["q8_market_share"].fn(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("SortMergeJoin") <= 2


def test_q21_exists_become_semi_anti_joins(spark):
    """Q21's EXISTS / NOT EXISTS must plan as hash semi/anti joins —
    a nested-loop or per-row subquery shape would be quadratic."""
    plan = _plan(REGISTRY["q21_waiting_supplier"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark):
    """Partitioned fact ⋈ filtered dim must plan a dynamic-pruning
    subquery on the fact scan: at 100 TB the dim filter's surviving
    keys — unknowable at compile time — decide which fact directories
    are read at all."""
    import tempfile

    from pyspark.sql import functions as F

    from quake_vector_search_spark.sources import load_table
    with tempfile.TemporaryDirectory() as d:
        orders = load_table(spark, SF_SMOKE, "orders")
        fact = d + "/orders_by_priority"
        (orders.write.partitionBy("o_orderpriority")
         .mode("overwrite").parquet(fact))
        dim = (orders.select("o_orderpriority").distinct()
               .where(F.col("o_orderpriority").startswith("1")))
        big = spark.read.parquet(fact)
        joined = (big.join(dim, "o_orderpriority")
                  .groupBy("o_orderpriority").count())
        plan = _plan(joined)
        assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_no_default_dedup_path_is_quadratic(spark):
    """Round-1 audit item #3: every DEFAULT near-dup path must be a
    bucketed/blocked plan — no all-pairs self-join (CartesianProduct /
    BroadcastNestedLoopJoin) anywhere. The n² forms survive only under
    *_exhaustive / *_oracle names."""
    from quake_vector_search_spark import api
    from quake_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    defaults = {
        "minhash_lsh": api.near_dup_pairs(docs, "minhash_lsh",
                                          threshold=0.5),
        "simhash": api.near_dup_pairs(docs, "simhash", max_hamming=2),
        "embedding": api.near_dup_pairs(emb, "embedding", threshold=0.45),
        "jaccard_clusters_pairs": api.dedup_clusters(docs, threshold=0.8),
    }
    for name, df in defaults.items():
        plan = _plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_default_jaccard_is_df_capped(spark):
    """The DEFAULT jaccard path must bound the Σdf² posting-list
    explosion: a finite default max_shingle_df, and the hot-shingle
    anti-join guard present in the physical plan. The uncapped exact
    form survives only under *_oracle naming."""
    import inspect

    from quake_vector_search_spark.operators import dedup as D
    from quake_vector_search_spark.queries import (
        REGISTRY,
        load_all_query_modules,
    )
    from quake_vector_search_spark.sources import load_table

    default = inspect.signature(D.jaccard_pairs) \
        .parameters["max_shingle_df"].default
    assert default is not None and default == D.DEFAULT_MAX_SHINGLE_DF
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(D.jaccard_pairs(docs, threshold=0.8))
    assert "LeftAnti" in plan, "hot-shingle guard missing from plan"
    load_all_query_modules()
    assert "dedup_ngram_jaccard_uncapped_oracle" in REGISTRY


def test_exhaustive_forms_are_renamed():
    """The n² scans must not be reachable under their old default
    names (api or operator module)."""
    from quake_vector_search_spark import api
    from quake_vector_search_spark.operators import dedup as D
    assert not hasattr(D, "simhash_pairs")
    assert not hasattr(D, "cosine_pairs")
    assert hasattr(D, "simhash_pairs_exhaustive")
    assert hasattr(D, "cosine_pairs_exhaustive")
    assert not hasattr(api, "simhash_pairs")
    assert "dedup_simhash_oracle" in REGISTRY
    assert "dedup_embedding_cosine_oracle" in REGISTRY
    assert "dedup_embedding_lsh" in REGISTRY


def test_fuzzy_join_is_blocked_not_quadratic(spark):
    from quake_vector_search_spark.operators.fuzzy import fuzzy_hamming_join
    from quake_vector_search_spark.sources import load_table
    part = load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_name")
    plan = _plan(fuzzy_hamming_join(part, "p_partkey", "p_name"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round5_ops_plan_shapes(spark):
    """Round-5 operators keep their scale claims in the plan:
    repetition scoring is fully narrow (composes into ingest scans);
    decontamination broadcasts the eval gram set and never
    cross-joins; bloom probes broadcast the ≤m-row bit relation; the
    kNN graph is a blocked equi-join, never a cartesian."""
    from quake_vector_search_spark.operators.dedup import (
        decontaminate_flags,
    )
    from quake_vector_search_spark.operators.knn import knn_graph_blocked
    from quake_vector_search_spark.operators.sketch import (
        bloom_bits,
        bloom_membership,
    )
    from quake_vector_search_spark.operators.text import repetition_stats
    from quake_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    rep = _plan(repetition_stats(docs))
    assert "Exchange" not in rep          # narrow end to end

    from pyspark.sql import functions as F
    ev = docs.where(F.col("doc_id") % 50 == 0)
    tr = docs.where(F.col("doc_id") % 50 != 0)
    dec = _plan(decontaminate_flags(tr, ev))
    assert "CartesianProduct" not in dec
    assert "BroadcastExchange" in dec     # eval grams broadcast

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    bloom = _plan(bloom_membership(
        bloom_bits(orders.select("o_custkey"), "o_custkey"),
        customer, "c_custkey"))
    assert "CartesianProduct" not in bloom
    assert "BroadcastExchange" in bloom   # bit relation broadcasts

    emb = load_table(spark, SF_SMOKE, "embeddings")
    graph = _plan(knn_graph_blocked(emb, k=3))
    assert "CartesianProduct" not in graph
    assert "BroadcastNestedLoopJoin" not in graph


def test_bloom_prefilter_is_scan_side_and_single_join(spark):
    """q_bloom_prefilter_join: the bloom mask must evaluate as a
    narrow Filter (getbit over the literal mask) with exactly ONE join
    in the plan — the filter itself must never become a join, or the
    shuffle it exists to shrink comes back."""
    import re
    plan = _plan(REGISTRY["q_bloom_prefilter_join"].fn(spark, SF_SMOKE))
    phys = plan.split("== Physical Plan ==", 1)[-1]
    assert "getbit" in phys
    joins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        phys))
    assert joins == 1, f"expected 1 join, found {joins}"
    assert "CartesianProduct" not in phys


def test_bloom_prefilter_sheds_nonmatching_rows(spark):
    """The prefilter must keep every matching row (no false negatives
    — pinned by the oracle too) while shedding most non-matching ones
    (the point of the filter): survivors ≤ matches + 5% of the rest."""
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.sketch import (
        bloom_bits,
        bloom_mask,
        bloom_prefilter,
    )
    from quake_vector_search_spark.sources import load_table

    M, K = 65536, 4
    orders = load_table(spark, SF_SMOKE, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT") \
                   .select("o_orderkey")
    li = load_table(spark, SF_SMOKE, "lineitem")
    mask = bloom_mask(bloom_bits(urgent, "o_orderkey", m=M, k=K), m=M)
    n_total = li.count()
    n_match = li.join(urgent,
                      li["l_orderkey"] == urgent["o_orderkey"]).count()
    n_kept = bloom_prefilter(li, "l_orderkey", mask, m=M, k=K).count()
    assert n_kept >= n_match                    # no false negatives
    assert n_kept <= n_match + 0.05 * (n_total - n_match)


def test_sparse_retrieval_plan_shapes(spark):
    """Sparse/hybrid retrieval: posting-list equi-joins only — no
    cartesian anywhere in TF-IDF, BM25, or the RRF fusion; BM25's
    avg-length single row broadcasts."""
    for name in ("sparse_tfidf_topk", "sparse_bm25_topk",
                 "hybrid_rrf_topk"):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
    bm = _plan(REGISTRY["sparse_bm25_topk"].fn(spark, SF_SMOKE))
    assert "BroadcastExchange" in bm


def test_pipeline_query_pushes_lang_filter(spark):
    """q_training_corpus_pipeline: the metadata language filter must
    reach EVERY parquet scan in the composition as a pushed filter —
    at 100 TB each branch then reads only lang='en' row groups."""
    import re
    plan = _plan(REGISTRY["q_training_corpus_pipeline"].fn(spark, SF_SMOKE))
    segs = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert segs, "no pushed-filter segments found"
    assert all("EqualTo(lang,en)" in s for s in segs), segs
    assert "CartesianProduct" not in plan


def _unpartitioned_window_hits(plan: str) -> list[str]:
    """Physical-plan lines where a Window/WindowGroupLimit node's
    required sort is satisfied by an Exchange SinglePartition — the
    'No Partition Defined for Window operation' shape that funnels the
    whole input through one task."""
    import re
    lines = plan.split("== Physical Plan ==", 1)[-1].splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b|\bWindowGroupLimit\b", ln):
            for j in range(i + 1, min(i + 4, len(lines))):
                if "Exchange SinglePartition" in lines[j]:
                    hits.append(ln.strip()[:120])
                    break
                if ("Exchange hashpartitioning" in lines[j]
                        or "Exchange rangepartitioning" in lines[j]):
                    break
    return hits


# Queries allowed to run a single-partition window, each with the reason
# its input is bounded (NOT data-sized):
#   *_oracle      — exact reference forms, deliberately demoted from the
#                   default path (dedup family, equi-depth histogram);
#                   they exist to hash-check the scale-safe default.
#   q_drift_psi   — the window runs over the 10-row PSI bucket table
#                   (post-aggregation), never over raw rows.
#   text_zipf_fit — the rank window runs over the word-frequency table
#                   (post-groupBy), vocabulary-bounded (Heaps' law),
#                   never over raw corpus rows.
_GLOBAL_WINDOW_ALLOWLIST = {"q_drift_psi", "text_zipf_fit"}


@pytest.mark.slow
def test_no_registry_query_has_unpartitioned_window(spark):
    """Permanent gate (round-5 VERDICT #2): no registry query may plan
    a global-window sort over an unbounded input. Catches the
    q_histogram_equidepth class of scale-killer — correct at sf0.1,
    single-task at 100 TB — at plan-build time."""
    offenders = {}
    for name, q in REGISTRY.items():
        if name in _GLOBAL_WINDOW_ALLOWLIST or name.endswith("_oracle"):
            continue
        hits = _unpartitioned_window_hits(_plan(q.fn(spark, SF_SMOKE)))
        if hits:
            offenders[name] = hits[0]
    assert not offenders, offenders


def test_round4_ops_plan_shapes(spark):
    """Round-4 operators keep their scale claims in the physical plan:
    no cartesian anywhere; mixture sampling's quota table broadcasts;
    hard negatives' per-branch label filter pushes into the scan."""
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.knn import hard_negatives
    from quake_vector_search_spark.operators.profiling import psi_drift
    from quake_vector_search_spark.operators.sampling import (
        mixture_sample,
    )
    from quake_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    mix = mixture_sample(docs, {"src0": 1, "src1": 1}, n_total=10)
    p = _plan(mix)
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p          # quota table broadcasts

    orders = load_table(spark, SF_SMOKE, "orders")
    drift = psi_drift(orders.where("o_orderdate < '1998-01-01'"),
                      orders.where("o_orderdate >= '1998-01-01'"),
                      "o_totalprice")
    p = _plan(drift)
    assert "CartesianProduct" not in p

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = (emb.where(F.col("vec_id") < 2)
          .withColumnRenamed("vec_id", "query_id"))
    hn = hard_negatives(emb, qs, k=3)
    p = _plan(hn)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the label != L branch filter reaches the parquet scan
    assert "PushedFilters" in p and "label" in p


def test_bq_candidates_shed_map_side(spark):
    """VERDICT r7 weak #1: the BQ prerank must NOT window the full
    n·nq hamming product — at 10⁹ vectors × 50 queries that shuffles
    ~1 TB keyed on a 50-value (inherently skewed) query_id. The scan
    now computes packed-uint64 hamming in NumPy inside the shared
    mapInArrow top-k scan with per-batch local top-(k·oversample),
    like _pq_adc_candidates; the global window sees only
    ≤ partitions·k·oversample rows."""
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.quantization import knn_bq
    from quake_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = (emb.where(F.col("vec_id") < 3)
          .withColumnRenamed("vec_id", "query_id"))
    p = _plan(knn_bq(emb, qs, k=5))
    # the old shape was enc.crossJoin(broadcast(qdf)) → BNLJ feeding
    # the window; the new candidate stage has no join at all before it
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the local top-k runs in the shared Arrow-batched scan, not a JVM
    # window over the raw product
    assert "MapInArrow" in p


def test_aniso_mips_sheds_map_side(spark):
    """knn_pq_mips keeps knn_pq's plan shape: ADC scoring + local
    top-k inside the shared mapInArrow scan (no cross join, no
    full-corpus window input), candidates join back by id for the
    exact rerank."""
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.quantization import (
        knn_pq_mips,
    )
    from quake_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = (emb.where(F.col("vec_id") < 3)
          .withColumnRenamed("vec_id", "query_id"))
    p = _plan(knn_pq_mips(emb, qs, k=5, ksub=16, oversample=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInArrow" in p
