"""Guards that keep the dedup/similarity/ranking tiers scale-safe:
LSH bucket-size caps, the candidate-set bound on the exact all-pairs
kernel, the full hamming-ball multiprobe expansion, and the distributed
global-rank twins of the single-task window forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.operators import dedup as D
from skiliopay_datapipeline_customer_spark.operators import similarity as S
from skiliopay_datapipeline_customer_spark.operators.ranks import (
    global_rank_distributed,
    quantile_bucket_distributed,
)


def _identical_docs(spark, n=200):
    text = "the same exact document body repeated verbatim across the corpus"
    return spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )


@pytest.mark.parametrize("kernel,n_docs", [("xxhash64", 200), ("md5", 120)])
def test_minhash_lsh_bucket_cap_bounds_degenerate_corpus(spark, kernel, n_docs):
    docs = _identical_docs(spark, n_docs)
    # every doc lands in the same bucket in every band: capped run drops the
    # degenerate buckets entirely (exact-dedup tier owns identical content)
    capped = D.minhash_lsh_candidates(docs, max_bucket_size=100, kernel=kernel)
    assert capped.count() == 0
    # without the cap the same corpus goes quadratic: C(n, 2) pairs
    uncapped = D.minhash_lsh_candidates(
        docs, max_bucket_size=10_000, kernel=kernel
    )
    assert uncapped.count() == n_docs * (n_docs - 1) // 2


def test_minhash_lsh_cap_no_change_on_normal_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    default = D.minhash_lsh_candidates(docs)
    huge_cap = D.minhash_lsh_candidates(docs, max_bucket_size=10**9)
    a = {(r["id_a"], r["id_b"], r["n_bands"]) for r in default.collect()}
    b = {(r["id_a"], r["id_b"], r["n_bands"]) for r in huge_cap.collect()}
    assert a == b


def test_cosine_dup_pairs_row_cap_enforced(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="lsh_dup_pairs"):
        S.cosine_dup_pairs(emb, max_rows=10)


def test_lsh_dup_pairs_subset_of_exact_at_precision_one(spark, sf_dir):
    # testdata embeddings are near-random (max pair cosine ~0.48), so probe
    # at a threshold where true pairs exist; the LSH planes are deterministic
    # hashes, so the candidate set (and this assertion) is stable run-to-run
    emb = table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.cosine_dup_pairs(emb, threshold=0.4).collect()
    }
    assert len(exact) > 0
    tiered = S.lsh_dup_pairs(emb, threshold=0.4).collect()
    assert len(tiered) > 0  # recall > 0 at this similarity regime
    for r in tiered:  # precision 1: every tiered pair is a true pair
        assert (r["id_a"], r["id_b"]) in exact
        assert abs(exact[(r["id_a"], r["id_b"])] - r["cos_sim"]) < 1e-9


def test_lsh_dup_pairs_bucket_cap_drops_degenerate_mass(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = [(i, [float(x) for x in base]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = S.lsh_dup_pairs(df, threshold=0.9, max_bucket_size=10)
    assert capped.count() == 0  # all 50 share every bucket → dropped by cap
    uncapped = S.lsh_dup_pairs(df, threshold=0.9, max_bucket_size=1000)
    assert uncapped.count() == 50 * 49 // 2


def test_hamming_ball_masks_full_radius():
    masks = S.hamming_ball_masks(8, 2)
    assert len(masks) == 1 + 8 + 28  # identity + C(8,1) + C(8,2)
    assert len(set(masks)) == len(masks)
    assert all(0 <= m < 256 for m in masks)
    assert all(bin(m).count("1") <= 2 for m in masks)
    # radius clamps to the plane count
    assert len(S.hamming_ball_masks(3, 99)) == 2**3


def test_multiprobe_radius_two_expands_probe_set(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=10).collect()}
    r1 = {
        r["vec_id"]
        for r in S.lsh_topk_multiprobe(emb, q, k=10, n_probe_flips=1).collect()
    }
    r2 = {
        r["vec_id"]
        for r in S.lsh_topk_multiprobe(emb, q, k=10, n_probe_flips=2).collect()
    }
    # a radius-2 ball scans a superset of the radius-1 ball → recall vs the
    # exact top-10 can only improve
    assert len(r2 & exact) >= len(r1 & exact)
    assert 0 in r2


def test_global_rank_distributed_matches_single_window(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    dist = global_rank_distributed(
        orders, ["o_orderdate", "o_orderkey"], rank_col="r"
    )
    w = Window.orderBy("o_orderdate", "o_orderkey")
    single = orders.select("o_orderkey", F.row_number().over(w).alias("r"))
    a = {(x["o_orderkey"], x["r"]) for x in dist.select("o_orderkey", "r").collect()}
    b = {(x["o_orderkey"], x["r"]) for x in single.collect()}
    assert a == b


def test_quantile_bucket_distributed_matches_parity_form(spark, sf_dir):
    # the PARITY form (single global window) is the ground truth the
    # distributed primaries are judged against
    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        quantile_bucket_parity,
    )

    cust = table(spark, sf_dir, "customer")
    exact = quantile_bucket_parity(
        cust, "c_acctbal", [1, 2, 3, 4, 5], ascending=True, tiebreak="c_custkey", out="qb"
    )
    dist = quantile_bucket_distributed(
        cust, "c_acctbal", [1, 2, 3, 4, 5], ascending=True, tiebreak="c_custkey", out="qb"
    )
    a = {(r["c_custkey"], r["qb"]) for r in exact.select("c_custkey", "qb").collect()}
    b = {(r["c_custkey"], r["qb"]) for r in dist.select("c_custkey", "qb").collect()}
    assert a == b


def test_quantile_bucket_distributed_degenerate_cardinality(spark):
    df = spark.createDataFrame(
        [(i, 42.0) for i in range(10)], "user_id long, v double"
    )
    out = quantile_bucket_distributed(df, "v", [5, 4, 3, 2, 1], ascending=False)
    vals = {r["v_q"] for r in out.collect()}
    assert vals == {1}  # constant column → everyone gets the fill label


def test_global_cumsum_distributed_matches_single_window(spark, sf_dir):
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_cumsum_distributed,
    )

    orders = table(spark, sf_dir, "orders")
    # integer values: distributed partial sums are EXACTLY the sequential
    # window (long addition is associative); doubles differ by fp rounding
    # order like any distributed sum, checked with tolerance below
    dist = global_cumsum_distributed(
        orders, ["o_orderkey"], "o_custkey", out="cs"
    )
    w = (
        Window.orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    single = orders.select("o_orderkey", F.sum("o_custkey").over(w).alias("cs"))
    a = {(r["o_orderkey"], r["cs"]) for r in dist.select("o_orderkey", "cs").collect()}
    b = {(r["o_orderkey"], r["cs"]) for r in single.collect()}
    assert a == b

    dist_d = {
        r["o_orderkey"]: r["cs"]
        for r in global_cumsum_distributed(
            orders, ["o_orderkey"], "o_totalprice", out="cs"
        ).collect()
    }
    single_d = {
        r["o_orderkey"]: r["cs"]
        for r in orders.select(
            "o_orderkey", F.sum("o_totalprice").over(w).alias("cs")
        ).collect()
    }
    for k, v in single_d.items():
        assert abs(dist_d[k] - v) <= 1e-9 * max(1.0, abs(v))


def test_pack_by_token_budget_respects_offsets(spark):
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        pack_by_token_budget,
    )

    df = spark.createDataFrame(
        [(i, 40) for i in range(10)], "doc_id long, n long"
    )
    packed = pack_by_token_budget(df, 100, "n", ["doc_id"])
    rows = {r["doc_id"]: r["pack_id"] for r in packed.collect()}
    # offsets 0,40,80,120,... → packs 0,0,0,1,1,2,2,2,3,3
    assert [rows[i] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # each pack holds 2-3 docs; a straddler (offset 80) stays in pack 0
    import collections

    counts = collections.Counter(rows.values())
    assert all(2 <= c <= 3 for c in counts.values())


def test_connected_components_chain_and_islands(spark):
    """Label propagation must follow CHAINS (A~B, B~C without A~C) and keep
    islands separate — the topology a group-by-key dedup cannot express."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster"] for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_null_edges_dropped_in_both_tiers(spark):
    """NULL pair ids carry no adjacency (SQL join semantics) and used to
    crash the driver union-find tier (sorted over None); both tiers must
    drop them and agree."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (None, None), (2, 5)],
        "id_a long, id_b long",
    )
    small = {
        r["node"]: r["cluster"] for r in D.connected_components(pairs).collect()
    }
    big = {
        r["node"]: r["cluster"]
        for r in D.connected_components(pairs, small_graph_threshold=0).collect()
    }
    assert small == big == {1: 1, 2: 1, 5: 1}


def test_connected_components_long_path_past_checkpoint_interval(spark):
    """A path graph needs ~diameter rounds — length 12 crosses the
    localCheckpoint interval (5) twice, so convergence exercises the
    lineage-truncation path, not just the persist path."""
    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, checkpoint_interval=5, small_graph_threshold=0
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_nonconvergence_raises(spark):
    """Exiting the loop with labels still changing must be LOUD: silent
    partial labels would merge/split dedup clusters wrongly downstream."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iters=3, small_graph_threshold=0)
    # non-strict tier: warn and hand back the partial labels
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = D.connected_components(
            pairs, max_iters=3, strict=False, small_graph_threshold=0
        )
    assert partial.count() == 20


def test_quantize_int8_constant_dimension_guard(spark):
    """A constant dimension (max == min) must code to 0, not NULL-divide."""
    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        (r["vec_id"], r["dim"]): r["code"]
        for r in S.quantize_embeddings_int8(df).collect()
    }
    assert rows[(0, 1)] == rows[(1, 1)] == rows[(2, 1)] == 0
    assert rows[(0, 0)] == 0 and rows[(2, 0)] == 255
    assert all(c is not None for c in rows.values())


def test_word_shingles_short_docs_match_oracle_semantics(spark):
    """Docs shorter than n tokens have NO n-shingles — same as the oracles'
    range(0, len - n + 1), which is empty for short docs."""
    import duckdb

    texts = ["one two", "one", "", "one two three", "one two three four"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select(
            "doc_id",
            D.shingles_from_tokens(D.tokens(F.col("text")), 3).alias("sh"),
        ).collect()
    }
    con = duckdb.connect()
    want = {}
    for i, t in enumerate(texts):
        (sh,) = con.execute(
            """
            SELECT list_transform(range(0, len(t) - 2),
                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
            FROM (SELECT string_split_regex(trim(lower(?)), '\\s+') AS t)
            """,
            [t],
        ).fetchone()
        want[i] = sorted(sh)
    con.close()
    assert got == want


def test_lsh_dup_pairs_recall_on_planted_near_dups(spark):
    """The numpy-kernel production tier must find ≥ 90% of the true
    near-dup pairs (recall vs the exact all-pairs tier) on a corpus with
    PLANTED near-duplicates — the workload the operator exists for."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 16))
    jitter = base[:50] + 0.02 * rng.normal(size=(50, 16))
    vecs = np.vstack([base, jitter])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(exact) >= 50  # the plant worked
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.lsh_dup_pairs(df, threshold=0.95).collect()
    }
    assert lsh <= exact  # exact verify keeps precision at 1
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} below 0.9"


def test_interval_join_plan_is_hash_join_not_nested_loop(spark, sf_dir):
    """The bin-bucketed range join must plan as an equi-join on (key, bin) —
    a nested-loop/cartesian plan would be the per-key cross product the
    operator exists to avoid."""
    from skiliopay_datapipeline_customer_spark.queries.temporal import (
        session_purchase_attribution,
    )

    plan = (
        session_purchase_attribution(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_group_top_fraction_plan_has_no_global_window(spark, sf_dir):
    """The per-group quality gate must never plan a partition-less window
    (single-task sort): ranks come from the range-partitioned two-pass
    form, whose windows are keyed by spark_partition_id."""
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        group_top_fraction,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("score")
    )
    kept = group_top_fraction(docs, "lang", "score", "doc_id")
    # every windowspecdefinition in the optimized plan must key on _pid
    opt = kept._jdf.queryExecution().optimizedPlan().toString()
    window_lines = [
        line for line in opt.splitlines() if "windowspecdefinition" in line
    ]
    assert window_lines, "expected a window in the two-pass rank plan"
    for line in window_lines:
        assert "_pid" in line, line


def test_stratified_sample_plan_is_shuffle_free(spark, sf_dir):
    """Mixture sampling is a pure narrow filter — any Exchange in the plan
    would mean the operator shuffles 100 TB to drop rows."""
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        stratified_sample,
    )

    kept = stratified_sample(
        table(spark, sf_dir, "documents"), "lang", {"en": 25, "de": 75}
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_single_fact_scan_tpch_rewrites(spark, sf_dir):
    """Q15/Q20/Q21 were restructured so the lineitem fact is scanned once
    (the naive scalar-subquery / re-aggregate forms scanned it twice with
    no ReusedExchange). Guard the single-scan property."""
    from skiliopay_datapipeline_customer_spark.queries.tpch import (
        top_revenue_supplier,
        volume_part_suppliers,
        waiting_suppliers,
    )

    for fn in (top_revenue_supplier, volume_part_suppliers, waiting_suppliers):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") == 1, fn.__name__


def test_weighted_sample_plan_is_sort_limit_not_window(spark, sf_dir):
    """Efraimidis–Spirakis selection must be TakeOrderedAndProject
    (per-partition top-k + merge), never a global window/sort."""
    from skiliopay_datapipeline_customer_spark.queries.corpus import (
        weighted_doc_sample,
    )

    df = weighted_doc_sample(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """100 TB posture: a selective dim-side filter should inject a runtime
    bloom filter on the fact side of a shuffle join (Spark's runtime row
    filtering), so fact rows that cannot join die at the scan. Local data is
    far below the production thresholds, so the test lowers them; production
    keeps the defaults and gets this automatically on TB-scale joins."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500_000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy()
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_declared_query_plans_a_cartesian_product(spark, sf_dir):
    """Repo-wide anti-pattern sweep: no declared query may plan a
    CartesianProduct (an unconditioned shuffle-side cross join — the
    O(n·m) cliff at scale). Broadcast nested-loop joins against
    scalar/metadata-sized frames are legitimate and NOT flagged."""
    from skiliopay_datapipeline_customer_spark.queries import all_queries

    offenders = []
    for name, fn in all_queries().items():
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001 — planning must not crash
            offenders.append((name, f"planning failed: {str(e)[:80]}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_multi_column_cumsum_matches_single_window(spark):
    """global_cumsums_distributed: k running sums in ONE range pass equal
    the single-window transcription for every column."""
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_cumsums_distributed,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 13, float((i * 3) % 5)) for i in range(500)],
        "k long, a long, b double",
    )
    got = {
        r.k: (r.ca, r.cb)
        for r in global_cumsums_distributed(
            df, [F.col("k")], {"a": "ca", "b": "cb"}, num_partitions=8
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r.k: (r.ca, r.cb)
        for r in df.select(
            "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        ).collect()
    }
    assert got == want


def test_rolling_dau_sketch_tier_tracks_exact(spark, sf_dir):
    """The documented sketch tier for sliding-window distinct counts:
    approx_count_distinct per target day stays within HLL's error band
    (rsd 0.05 → a few %) of the exact rolling count."""
    from skiliopay_datapipeline_customer_spark.queries.analytics import (
        rolling_7d_active_users,
    )

    ev = table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("d"),
    ).distinct()
    d1 = pairs.agg(F.max("d")).first()[0]
    contrib = pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("target_d"),
    ).filter(F.col("target_d") <= d1)
    approx = {
        r.target_d: r.a
        for r in contrib.groupBy("target_d")
        .agg(F.approx_count_distinct("user_id", rsd=0.05).alias("a"))
        .collect()
    }
    exact = {r.d: r.active_7d for r in rolling_7d_active_users(spark, sf_dir).collect()}
    assert set(approx) == set(exact)
    for d, n in exact.items():
        assert abs(approx[d] - n) <= max(3, 0.15 * n), (d, approx[d], n)


def test_no_dict_literal_repeats_a_constant_key():
    """A dict literal with a repeated constant key silently keeps only the
    last value — the earlier entry is dead text that reads as live (the
    _FORCE ledger once carried 40 such shadowed stamps). Every module in
    the package is parsed and checked; no linter is needed."""
    import ast
    import pathlib

    import skiliopay_datapipeline_customer_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    repeats = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Dict):
                continue
            seen = set()
            for key in node.keys:
                if not isinstance(key, ast.Constant):
                    continue
                if key.value in seen:
                    repeats.append(
                        f"{path.relative_to(root)}:{key.lineno}: {key.value!r}"
                    )
                seen.add(key.value)
    assert not repeats, repeats


def test_registry_rotation_invariants():
    """The rotation policy only works if its inputs stay coherent: every
    _PRIORITY/_FORCE name must be a registered query (a stale name would
    silently misorder the driver's verification window), _PRIORITY must be
    duplicate-free (a later duplicate overwrites the intended slot), and
    the needs-a-row pool must still fill the 50-slot window."""
    from skiliopay_datapipeline_customer_spark import queries as q

    q.load_all()
    assert len(q._PRIORITY) == len(set(q._PRIORITY)), "duplicate in _PRIORITY"
    unknown_p = [n for n in q._PRIORITY if n not in q.QUERIES]
    unknown_f = [n for n in q._FORCE if n not in q.QUERIES]
    assert not unknown_p, f"stale _PRIORITY names: {unknown_p}"
    assert not unknown_f, f"stale _FORCE names: {unknown_f}"
    order = q._rotated(list(q.QUERIES))
    assert len(order) == len(q.QUERIES)
    assert len(set(order)) == len(order)


def test_plan_digest_reports_shapes_and_smells(spark, sf_dir):
    """plan_digest turns .explain('formatted') into assertable counts: the
    flagship broadcasts its dims with no cartesian/smells; an un-partitioned
    window and a cross join are flagged."""
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.plans.report import plan_digest
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all

    load_all()
    d = plan_digest(QUERIES["flagship_revenue_by_nation"](spark, sf_dir))
    assert d["broadcast_joins"] >= 1           # dims broadcast
    assert d["nested_loop_joins"] == 0 and not d["has_cartesian"]
    assert d["pushed_filters"] >= 1            # predicates reach the scan
    assert d["whole_stage_codegen"] >= 1       # fused pipelines exist
    assert not d["single_partition_window"]

    ev = table(spark, sf_dir, "events")
    w = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    )
    assert plan_digest(w)["single_partition_window"]
    wp = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("event_id")),
    )
    assert not plan_digest(wp)["single_partition_window"]
    assert plan_digest(ev.limit(3).crossJoin(ev.limit(2)))["has_cartesian"]


def test_partition_filter_strip_excludes_dpp_only_lists():
    """A PartitionFilters list holding ONLY dynamic-partition-pruning noise
    (isnotnull + dynamicpruningexpression(...) — nested parens included)
    must not count as caller-written pruning; a real predicate next to the
    DPP entry still does."""
    from skiliopay_datapipeline_customer_spark.plans.report import (
        _has_caller_partition_filter,
    )

    dpp_only = (
        "isnotnull(o_orderpriority#7), "
        "dynamicpruningexpression(o_orderpriority#7 IN dynamicpruning#42 "
        "[id=#12, subquery(exists(x#3))])"
    )
    assert not _has_caller_partition_filter(dpp_only)
    assert not _has_caller_partition_filter(
        "dynamicpruningexpression(cast(p#1 as int) IN subquery#9)"
    )
    assert _has_caller_partition_filter(
        dpp_only + ", (o_orderpriority#7 = 1-URGENT)"
    )
    assert not _has_caller_partition_filter("isnotnull(p#1)")
    assert _has_caller_partition_filter("(p#1 = 3)")


def test_partition_filter_capture_survives_bracketed_dpp_entries():
    """Plan-TEXT extraction (not just the stripped-string helper): the DPP
    render nests ``]`` inside the PartitionFilters list
    (``[id=#12, subquery(...)]``), so a first-``]``-terminated regex capture
    truncates away a caller predicate listed AFTER the DPP entry. The
    bracket-balanced capture must keep it."""
    from skiliopay_datapipeline_customer_spark.plans.report import (
        _bracket_payloads,
        _has_caller_partition_filter,
    )

    plan_text = (
        "(3) Scan parquet\n"
        "Output [2]: [o_orderkey#1, o_orderpriority#7]\n"
        "PartitionFilters: [isnotnull(o_orderpriority#7), "
        "dynamicpruningexpression(o_orderpriority#7 IN dynamicpruning#42 "
        "[id=#12, subquery(exists(x#3))]), (o_orderpriority#7 = 1-URGENT)]\n"
        "PushedFilters: [IsNotNull(o_orderkey)]\n"
    )
    payloads = _bracket_payloads(plan_text, "PartitionFilters")
    assert len(payloads) == 1
    # the caller predicate after the bracketed DPP entry survives capture...
    assert "(o_orderpriority#7 = 1-URGENT)" in payloads[0]
    # ...and the composed check counts it as caller-written pruning
    assert _has_caller_partition_filter(payloads[0])
    # a DPP-only list captured the same way still does not count
    dpp_only_text = plan_text.replace(", (o_orderpriority#7 = 1-URGENT)", "")
    (payload,) = _bracket_payloads(dpp_only_text, "PartitionFilters")
    assert not _has_caller_partition_filter(payload)
    # PushedFilters capture unaffected
    assert _bracket_payloads(plan_text, "PushedFilters") == [
        "IsNotNull(o_orderkey)"
    ]


def test_connected_components_tiers_agree(spark):
    """Small-graph union-find tier == distributed propagation on the same
    graph (labels are min reachable id either way)."""
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 3), (100, 101)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        r["node"]: r["cluster"]
        for r in D.connected_components(pairs).collect()
    }
    dist = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, small_graph_threshold=0
        ).collect()
    }
    assert fast == dist and len(fast) > 0


def test_star_contraction_converges_on_high_diameter_chain(spark):
    """The pathological graph for min-label propagation: a 300-node path
    (diameter 299 ≫ max_iters 25). Propagation's strict tier raises with
    the star-contraction recommendation; method='star' converges in
    O(log² n) rounds on the SAME budget and labels every node with the
    component minimum. small_graph_threshold=0 forces both distributed
    tiers (the driver union-find would otherwise absorb the graph)."""
    import pytest

    chain = [(i, i + 1) for i in range(299)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="method='star'"):
        D.connected_components(
            pairs, small_graph_threshold=0, max_iters=25, strict=True
        )
    labels = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, small_graph_threshold=0, max_iters=25, method="star"
        ).collect()
    }
    assert labels == {i: 0 for i in range(300)}


def test_star_contraction_agrees_with_union_find(spark):
    """method='star' == driver union-find on a mixed graph: several
    components, a cycle, duplicate + reversed edges, self-loops, and an
    isolated self-loop-only node (must label itself)."""
    edges = (
        [(i, i + 1) for i in range(0, 40, 2)]
        + [(1, 3), (100, 101), (101, 102), (102, 100)]  # cycle
        + [(3, 1), (1, 3)]  # reversed + duplicate
        + [(200, 200)]  # self-loop-only node
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        r["node"]: r["cluster"] for r in D.connected_components(pairs).collect()
    }
    star = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, small_graph_threshold=0, method="star"
        ).collect()
    }
    assert star == fast and star[200] == 200 and star[102] == 100


def test_connected_components_rejects_unknown_method(spark):
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="propagation|star"):
        D.connected_components(pairs, method="bogus")


def test_rotation_reacts_to_correctness_history(tmp_path, monkeypatch):
    """The verification window must move with the audit trail: a green
    driver row rotates a query out of the needs-a-row pool, a FAILED row
    does not (it rotates straight back in after the fix), and the weaker
    rows-only contract check (err="no_oracle") counts as that query's
    verification. Hermetic: REPO_ROOT patched to a synthetic artifact dir
    so the repo's real CORRECTNESS history never leaks in."""
    import json as _json

    from skiliopay_datapipeline_customer_spark import artifacts
    from skiliopay_datapipeline_customer_spark import queries as q

    q.load_all()
    monkeypatch.setattr(artifacts, "REPO_ROOT", str(tmp_path))
    base = q._rotated(list(q.QUERIES))
    a, b, c = [n for n in base if n not in q._FORCE][:3]

    # green oracle row for `a` → drops behind the never-verified pool
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        _json.dumps({a: {"err": None, "hash_match": True}})
    )
    order = q._rotated(list(q.QUERIES))
    assert order.index(a) > order.index(b)

    # a FAILED row for `b` is NOT verification — `b` stays in the pool
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        _json.dumps({b: {"err": "AnalysisException: boom", "hash_match": None}})
    )
    order = q._rotated(list(q.QUERIES))
    assert order.index(b) < order.index(a)

    # rows-only contract check rotates out like a green row...
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        _json.dumps({c: {"err": "no_oracle", "rows_match": None}})
    )
    order = q._rotated(list(q.QUERIES))
    assert order.index(c) > order.index(b)
    # ...and verified queries order oldest-green-first behind the pool
    assert order.index(a) < order.index(c)


def _needs_row(q, name: str, last: dict[str, int]) -> bool:
    lv = last.get(name, -1)
    return lv < 0 or (name in q._FORCE and lv <= q._FORCE[name])


def test_rotation_hands_off_remaining_pool_to_next_window(
    tmp_path, monkeypatch
):
    """The r4-verdict handoff contract: once THIS round's 50-slot window
    goes green, every remaining never-driver-verified ORACLE query must
    land inside the NEXT round's window (post-r07 state: the 11-query
    oracle remainder plus the r07 oracle upgrades — 14 names — all take
    r08 slots). Built from the repo's real CORRECTNESS history plus a
    synthetic next-round artifact, so the assertion tracks the live pool
    as rounds land instead of rotting against a hard-coded list."""
    import glob as _glob
    import json as _json
    import shutil as _shutil

    from skiliopay_datapipeline_customer_spark import artifacts
    from skiliopay_datapipeline_customer_spark import queries as q

    q.load_all()
    real = sorted(_glob.glob(str(artifacts.REPO_ROOT) + "/CORRECTNESS_r*.json"))
    rounds = []
    for p in real:
        _shutil.copy(p, tmp_path)
        rounds.append(int(p.rsplit("_r", 1)[1].split(".")[0]))
    monkeypatch.setattr(artifacts, "REPO_ROOT", str(tmp_path))

    window = q._rotated(list(q.QUERIES))[:50]
    oracles = set(q.ORACLES)
    # synthetic "this round": every window slot verified (oracle rows for
    # oracle queries, the weaker rows-only contract rows otherwise)
    nxt = max(rounds, default=0) + 1
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(
        _json.dumps(
            {
                n: (
                    {"err": None, "hash_match": True}
                    if n in oracles
                    else {"err": "no_oracle", "rows_match": None}
                )
                for n in window
            }
        )
    )
    last = q._last_verified()
    remaining = [
        n for n in q.QUERIES if n in oracles and _needs_row(q, n, last)
    ]
    # the pool must have shrunk below one window — the whole point of the
    # rotation is that the sweep FINISHES
    assert len(remaining) <= 50, (
        f"{len(remaining)} never-verified oracle queries can't fit one "
        "window; the sweep would not finish next round"
    )
    next_window = q._rotated(list(q.QUERIES))[:50]
    missed = [n for n in remaining if n not in next_window]
    assert not missed, f"oracle queries denied a next-window slot: {missed}"
    # pin today's expectation: the r07 upgrades ride along with the remainder
    for name in ("minhash_lsh_candidates", "lsh_dup_pairs_fast",
                 "order_trend_pandas"):
        lv = q._last_verified().get(name, -1)
        if lv < 0 or (name in q._FORCE and lv <= q._FORCE[name]):
            assert name in next_window


def test_rank_exact_under_exchange_reuse_disabled(spark):
    """Regression for the r9 wrong-results class: with `_pid` derived from
    `spark_partition_id()` after `repartitionByRange`, a planner that
    declines exchange reuse re-samples range boundaries per branch, and
    offsets key against the wrong partition population (measured r9 on
    dsir_deciles_distributed at sf0.1: tile sizes 430-559 where every tile
    is exactly 500). This test PLANTS that shape — join-derived lineage,
    `spark.sql.exchange.reuse.enabled=false` so the two branches MUST
    recompute independently — and asserts exact tiles; the shipping form
    passes because `_pid` is a pure expression of frozen boundary
    literals, identical in both branches by construction."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        ntile_distributed,
    )

    conf = spark.conf
    prev = conf.get("spark.sql.exchange.reuse.enabled", "true")
    try:
        conf.set("spark.sql.exchange.reuse.enabled", "false")
        n, q = 5000, 10
        scores = spark.range(n).select(
            F.col("id"),
            (F.sin(F.col("id").cast("double")) * 1000).alias("w"),
        )
        langs = spark.range(n).select(
            F.col("id"), (F.col("id") % 7).cast("string").alias("lang")
        )
        joined = scores.join(langs, "id")  # the join-derived lineage shape
        tiled = ntile_distributed(
            joined, [("w", "desc"), ("id", "asc")], q, out="t",
            num_partitions=8,
        )
        sizes = {
            r["t"]: r["c"]
            for r in tiled.groupBy("t").agg(F.count("*").alias("c")).collect()
        }
        assert sizes == {i: n // q for i in range(1, q + 1)}, sizes
        # ranks must also be a gap-free permutation of 1..n, not just
        # even tiles
        from skiliopay_datapipeline_customer_spark.operators.ranks import (
            global_rank_distributed as grd,
        )

        ranked = grd(joined, [("w", "desc"), ("id", "asc")], rank_col="r",
                     num_partitions=8)
        agg = ranked.agg(
            F.count("*").alias("n"),
            F.countDistinct("r").alias("u"),
            F.min("r").alias("lo"),
            F.max("r").alias("hi"),
        ).first()
        assert (agg["n"], agg["u"], agg["lo"], agg["hi"]) == (n, n, 1, n)
        # and the divergence channel itself must be gone: no physical
        # partition id, no checkpoint pin anywhere in the rank plan
        plan = ranked._jdf.queryExecution().toString()
        assert "SPARK_PARTITION_ID" not in plan.upper()
        assert "Checkpoint" not in plan
    finally:
        conf.set("spark.sql.exchange.reuse.enabled", prev)


def test_rank_boundary_semantics_nulls_nans_unicode(spark):
    """The boundary comparisons (_after_key/_eq_key/_cmp_vals) must match
    Spark's sort semantics exactly — NULL first in asc / last in desc, NaN
    greater than every number, UTF-8 binary string order — or rows near a
    sampled boundary get bucketed inconsistently with the window order and
    ranks go wrong. Cross-checked against the single-window form over a
    corpus salted with nulls, NaNs, duplicates, and non-ASCII keys, both
    directions."""
    import math

    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_rank_distributed,
    )

    rows = []
    for i in range(400):
        v = None if i % 17 == 0 else (
            float("nan") if i % 23 == 0 else float((i * 7919) % 97) / 3.0
        )
        s = ["alpha", "Ärger", "zèbre", "中文", "beta"][i % 5] + str(i % 11)
        rows.append((i, v, s))
    df = spark.createDataFrame(rows, "id long, v double, s string")

    for spec, wcols in [
        ([("v", "asc"), ("s", "asc"), ("id", "asc")],
         [F.col("v").asc(), F.col("s").asc(), F.col("id").asc()]),
        ([("v", "desc"), ("s", "desc"), ("id", "asc")],
         [F.col("v").desc(), F.col("s").desc(), F.col("id").asc()]),
        ([("s", "asc"), ("id", "asc")],
         [F.col("s").asc(), F.col("id").asc()]),
    ]:
        got = {
            r["id"]: r["r"]
            for r in global_rank_distributed(
                df, spec, rank_col="r", num_partitions=8
            ).collect()
        }
        want = {
            r["id"]: r["r"]
            for r in df.withColumn(
                "r", F.row_number().over(Window.orderBy(*wcols))
            ).collect()
        }
        assert got == want, f"spec={spec}"


def test_bucket_pid_tree_equals_linear_count(spark):
    """_bucket_pid_expr is a binary when-tree (r12: compile 4.3 s → 1.1 s,
    per-row eval halved vs the linear sum of strictly-after tests). The
    tree is only valid if the boundary count is binary-searchable —
    i.e. strictly-after is transitive over the sorted, deduplicated
    boundary list INCLUDING null/NaN/unicode boundary values. Pin the
    tree against the definitional linear count on an adversarial frame
    whose sampled boundaries contain exactly those values."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        _bucket_pid_expr,
        _collect_boundaries,
        _normalize_order_spec,
        _strictly_after,
    )

    rows = []
    for i in range(600):
        v = None if i % 13 == 0 else (
            float("nan") if i % 19 == 0 else float((i * 7919) % 83) / 7.0
        )
        s = ["alpha", "Ärger", "zèbre", "中文", "beta"][i % 5] + str(i % 9)
        rows.append((i, v, s))
    df = spark.createDataFrame(rows, "id long, v double, s string")

    for spec in (
        [("v", "asc"), ("s", "asc"), ("id", "asc")],
        [("v", "desc"), ("s", "desc"), ("id", "asc")],
    ):
        norm = _normalize_order_spec(spec)
        bnds = _collect_boundaries(df, norm, 16)
        # boundary sample over this salted frame must include the
        # adversarial classes, or the equivalence below proves less
        assert any(b[0] is None or b[0] != b[0] for b in bnds), bnds
        linear = F.lit(0)
        for t in bnds:
            linear = linear + _strictly_after(norm, t).cast("int")
        got = df.select(
            _bucket_pid_expr(norm, bnds).alias("tree"), linear.alias("lin")
        )
        assert got.where(F.col("tree") != F.col("lin")).count() == 0
        # tree output must span multiple buckets (not degenerate)
        assert got.select("tree").distinct().count() > 4


def test_bucket_pid_sql_equals_column_tree(spark):
    """The r13 SQL-text when-tree (_bucket_pid_sql, parsed JVM-side in one
    round trip) must produce the IDENTICAL bucket id as the Column-builder
    reference (_bucket_pid_expr) on adversarial boundaries: nulls, NaN,
    unicode strings, quotes/backslashes in string boundaries, negative and
    integral floats. Also pins the fallback contract: a boundary type
    _sql_lit can't render exactly returns None (Column path taken)."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        _bucket_pid_expr,
        _bucket_pid_sql,
        _collect_boundaries,
        _normalize_order_spec,
        _sql_lit,
    )

    rows = []
    for i in range(600):
        v = None if i % 13 == 0 else (
            float("nan") if i % 19 == 0 else float((i * 7919) % 83) / 7.0 - 5.0
        )
        s = ["al'pha", "Är\\ger", "zèbre", "中文", "be' \\ ta"][i % 5] + str(i % 9)
        rows.append((i, v, s))
    df = spark.createDataFrame(rows, "id long, v double, s string")

    for spec in (
        [("v", "asc"), ("s", "asc"), ("id", "asc")],
        [("v", "desc"), ("s", "desc"), ("id", "asc")],
        [("s", "asc"), ("id", "desc")],
    ):
        norm = _normalize_order_spec(spec)
        bnds = _collect_boundaries(df, norm, 16)
        names = [f"__rk{i}" for i in range(len(norm))]
        sql = _bucket_pid_sql(names, norm, bnds)
        assert sql is not None, bnds
        keyed = df
        for name, (c, _) in zip(names, norm):
            keyed = keyed.withColumn(name, c)
        got = keyed.select(
            F.expr(sql).alias("sqlpid"),
            _bucket_pid_expr(norm, bnds).alias("colpid"),
        )
        assert got.where(F.col("sqlpid") != F.col("colpid")).count() == 0
        assert got.select("sqlpid").distinct().count() > 4

    # fallback contract: unsupported literal types refuse, never guess
    from decimal import Decimal

    assert _sql_lit(Decimal("1.5")) is None
    norm = _normalize_order_spec([("v", "asc")])
    assert _bucket_pid_sql(["__rk0"], norm, [(Decimal("1.5"),)]) is None
    # exactness of the float renderer on round-trip-hostile values
    import math

    for x in (0.1, -0.0, 1e-300, 1.7976931348623157e308, math.pi, 3.0):
        [(rt,)] = spark.sql(f"SELECT {_sql_lit(x)}").collect()
        assert (rt == x and math.copysign(1, rt) == math.copysign(1, x)), x


def test_rank_family_on_empty_and_tiny_frames(spark):
    """Degenerate inputs: an EMPTY frame yields an empty rank (no
    boundary → one bucket → no error), and a frame smaller than the
    requested bucket count still ranks exactly."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_cumsum_distributed,
        global_rank_distributed,
    )

    empty = spark.createDataFrame([], "id long, v double")
    assert (
        global_rank_distributed(
            empty, [("v", "desc"), "id"], rank_col="r", num_partitions=8
        ).count()
        == 0
    )
    tiny = spark.createDataFrame([(1, 5.0), (2, 3.0), (3, 9.0)], "id long, v double")
    got = {
        r["id"]: r["r"]
        for r in global_rank_distributed(
            tiny, [("v", "asc"), "id"], rank_col="r", num_partitions=32
        ).collect()
    }
    assert got == {2: 1, 1: 2, 3: 3}
    cs = {
        r["id"]: r["c"]
        for r in global_cumsum_distributed(
            tiny, [("id", "asc")], "v", out="c", num_partitions=32
        ).collect()
    }
    assert cs == {1: 5.0, 2: 8.0, 3: 17.0}


def test_rank_keeps_caller_columns_named_like_temp_keys(spark):
    """The SQL fast path projects the order keys under temp names and
    drops them afterwards; a caller column that already carries such a
    name must come through untouched, not be replaced and dropped."""
    df = spark.createDataFrame(
        [(i, float(i % 7), f"keep-{i}", -i) for i in range(40)],
        "id long, v double, __rk0 string, __rk1 long",
    )
    out = global_rank_distributed(
        df, [("v", "desc"), "id"], rank_col="r", num_partitions=4
    )
    assert out.columns[:4] == ["id", "v", "__rk0", "__rk1"]
    rows = out.collect()
    assert {(r["id"], r["__rk0"], r["__rk1"]) for r in rows} == {
        (i, f"keep-{i}", -i) for i in range(40)
    }
    order = sorted(range(40), key=lambda i: (-float(i % 7), i))
    assert {r["id"]: r["r"] for r in rows} == {
        i: pos + 1 for pos, i in enumerate(order)
    }


def test_boundary_cache_clear_and_eviction_are_correctness_neutral(spark):
    """Pins the `_BOUNDARY_CACHE` contract before anyone 'optimizes' it:
    (1) clearing the cache mid-session only costs a re-sample — the ranks
    computed before and after a clear are identical; (2) the at-cap
    eviction is FIFO-one-entry, so a 257th plan evicts exactly the oldest
    entry instead of flushing every live plan."""
    from skiliopay_datapipeline_customer_spark.operators import ranks

    df = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(500)], "id long, v double"
    )
    spec = [("v", "asc"), ("id", "asc")]

    def ranked():
        return {
            r["id"]: r["r"]
            for r in ranks.global_rank_distributed(
                df, spec, rank_col="r", num_partitions=16
            ).collect()
        }

    before = ranked()
    assert len(ranks._BOUNDARY_CACHE) >= 1  # the call above memoized
    ranks._BOUNDARY_CACHE.clear()
    after = ranked()  # re-samples boundaries from scratch
    assert after == before

    # eviction: fill to the cap with synthetic entries, then trigger one
    # real insert — exactly the oldest synthetic entry must fall out
    ranks._BOUNDARY_CACHE.clear()
    for i in range(ranks._BOUNDARY_CACHE_MAX):
        ranks._BOUNDARY_CACHE[("synthetic", i)] = [(float(i),)]
    assert len(ranks._BOUNDARY_CACHE) == ranks._BOUNDARY_CACHE_MAX
    again = ranked()
    assert again == before
    assert ("synthetic", 0) not in ranks._BOUNDARY_CACHE
    assert ("synthetic", 1) in ranks._BOUNDARY_CACHE
    assert len(ranks._BOUNDARY_CACHE) == ranks._BOUNDARY_CACHE_MAX
    ranks._BOUNDARY_CACHE.clear()
