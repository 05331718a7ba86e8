"""Corpus-construction operators: mixing, quality gate, dedup survivors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.operators import dedup as D
from skiliopay_datapipeline_customer_spark.operators import sampling as SM


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    rates = {"en": 25, "de": 75, "es": 50, "fr": 50, "zh": 100}
    kept = SM.stratified_sample(docs, "lang", rates)

    # Deterministic: two independent evaluations select identical rows.
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    assert ids1 == ids2 and len(ids1) > 0

    # Achieved per-stratum rates track the targets (md5 buckets are uniform;
    # generous tolerance for the small test corpus).
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept_n = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, rate in rates.items():
        achieved = kept_n.get(lang, 0) / totals[lang]
        assert abs(achieved - rate / 100.0) < 0.25, (lang, achieved, rate)
    # rate-100 stratum keeps everything, allowlist drops unknown strata
    assert kept_n["zh"] == totals["zh"]
    assert kept.filter(~F.col("lang").isin(*rates)).count() == 0


def test_stratified_sample_is_subset_invariant(spark, sf_dir):
    """Raising a stratum's rate only ADDS rows (bucket test is monotone) —
    the property that makes deterministic-hash mixing re-runnable."""
    docs = table(spark, sf_dir, "documents")
    low = SM.stratified_sample(docs, "lang", {"en": 20}, bucket_out=None)
    high = SM.stratified_sample(docs, "lang", {"en": 60}, bucket_out=None)
    assert low.join(high, "doc_id", "left_anti").count() == 0
    assert high.count() > low.count()


def test_group_top_fraction_exact_counts_and_members(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("score")
    )
    kept = SM.group_top_fraction(docs, "lang", "score", "doc_id", num=1, den=4)

    pdf = docs.toPandas()
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    for lang, grp in pdf.groupby("lang"):
        grp = grp.sort_values(["score", "doc_id"], ascending=[False, True])
        n = len(grp)
        # (rank-1)*4 <= (n-1)  =>  rank <= floor((n-1)/4) + 1
        want = set(grp.head((n - 1) // 4 + 1).doc_id)
        got = kept_ids & set(grp.doc_id)
        assert got == want, (lang, sorted(got)[:5], sorted(want)[:5])


def test_survivors_drop_only_non_canonical_members(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], ["doc_id", "text"]
    )
    # two clusters: {1,2,3} (a chain) and {5,7}; 0,4,6 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 7)], ["id_a", "id_b"]
    )
    kept = sorted(r.doc_id for r in D.survivors(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 6]


def test_interval_containment_join_bins_and_bounds(spark):
    from skiliopay_datapipeline_customer_spark.operators.joins import (
        interval_containment_join,
    )

    DAY = 86_400_000_000
    # interval spanning 3 bins; points at boundaries, inside, outside, other key
    intervals = spark.createDataFrame(
        [(1, 10, int(0.5 * DAY), int(2.5 * DAY)), (2, 20, 0, DAY)],
        ["user_id", "iv_id", "s", "e"],
    )
    points = spark.createDataFrame(
        [
            (1, 100, int(0.5 * DAY)),   # == start, inclusive
            (1, 101, int(2.5 * DAY)),   # == end, inclusive
            (1, 102, int(1.7 * DAY)),   # inside, middle bin
            (1, 103, int(2.6 * DAY)),   # outside (after end, same bin as end)
            (2, 104, int(1.7 * DAY)),   # right key, outside its interval
            (3, 105, int(1.0 * DAY)),   # unknown key
        ],
        ["user_id", "pt_id", "t"],
    )
    hits = interval_containment_join(
        points, intervals, "user_id", "t", "s", "e", bin_micros=DAY
    )
    got = sorted((r.pt_id, r.iv_id) for r in hits.collect())
    assert got == [(100, 10), (101, 10), (102, 10)]
    # exactly one match row per contained point — no bin-explosion dups
    assert hits.count() == hits.dropDuplicates(["pt_id", "iv_id"]).count()


def test_snapshot_diff_statuses_and_null_safety(spark):
    from skiliopay_datapipeline_customer_spark.sources.snapshots import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        "k long, t string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 1.0),     # same -> dropped
            (2, "b", None),    # null == null -> same -> dropped
            (3, "c", 9.0),     # changed value
            (5, "e", 5.0),     # added
            # 4 removed
        ],
        "k long, t string, v double",
    )
    got = {
        r.k: r.status
        for r in snapshot_diff(old, new, ["k"], ["t", "v"]).collect()
    }
    assert got == {3: "changed", 4: "removed", 5: "added"}


def test_fk_integrity_report_detects_planted_orphans(spark, tmp_path):
    """The testdata has perfect FK coverage (all-zero report is the true
    answer there); planted orphans prove the operator actually detects
    violations in every direction."""
    import os

    from skiliopay_datapipeline_customer_spark.queries.quality import (
        fk_integrity_report,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (99, 9.0)], "l_orderkey long, l_quantity double"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [(1, 100), (2, 777)], "o_orderkey long, o_custkey long"
    ).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(100, 0), (101, 42)], "c_custkey long, c_nationkey long"
    ).write.parquet(os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        [(0, "GERMANY")], "n_nationkey long, n_name string"
    ).write.parquet(os.path.join(d, "nation.parquet"))

    row = fk_integrity_report(spark, d).collect()[0]
    assert row.lineitem_orphans == 1       # l_orderkey 99
    assert row.order_orphans == 1          # o_custkey 777
    assert row.customer_orphans == 1       # c_nationkey 42
    assert row.customers_without_orders == 1  # c_custkey 101


def test_snapshot_diff_null_keys_use_presence_not_key_nullness(spark):
    from skiliopay_datapipeline_customer_spark.sources.snapshots import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(None, "x", 1.0)], "k long, t string, v double")
    new = spark.createDataFrame(
        [(1, "y", 2.0)], "k long, t string, v double"
    )
    got = {
        (r.k, r.status)
        for r in snapshot_diff(old, new, ["k"], ["t", "v"]).collect()
    }
    # the NULL-keyed old row is REMOVED (it exists only in old), never 'added'
    assert got == {(None, "removed"), (1, "added")}


def test_shard_assignments_layout_invariants(spark):
    """Shard layout is a valid reproducible global shuffle: every id appears
    once, pos is a dense 1..n sequence per shard, shards are roughly
    balanced, and the layout is identical across runs."""
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        shard_assignments,
    )

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = shard_assignments(df, n_shards=4).collect()
    assert len(out) == 1000
    assert {r.doc_id for r in out} == set(range(1000))

    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
        assert 150 < len(positions) < 350  # md5 balance, not skewed

    # the within-shard order is a shuffle, not id order
    id_by_pos = {
        (r.shard, r.pos): r.doc_id for r in out
    }
    shard0 = [id_by_pos[(0, p)] for p in range(1, len(by_shard[0]) + 1)]
    assert shard0 != sorted(shard0)

    again = shard_assignments(df, n_shards=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@pytest.mark.parametrize("kernel", ["xxhash64", "md5"])
def test_incremental_lsh_matches_full_corpus_run(spark, sf_dir, tmp_path, kernel):
    """Dedup-at-ingestion equivalence, on each hash kernel: band buckets of
    the historical half persisted as the signature store, then the new half
    deduped against it must produce EXACTLY the full-corpus candidate pairs
    that touch a new document — same pairs, same n_bands — without
    re-reading old text."""
    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_buckets,
        minhash_lsh_candidates,
    )

    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    store_dir = str(tmp_path / "sig_store")
    minhash_band_buckets(old, kernel=kernel).write.partitionBy("band").parquet(
        store_dir
    )
    store = spark.read.parquet(store_dir)

    pairs, additions = incremental_lsh_candidates(new, store, kernel=kernel)
    got = {(r.id_a, r.id_b): r.n_bands for r in pairs.collect()}

    full = minhash_lsh_candidates(docs, kernel=kernel)
    want = {
        (r.id_a, r.id_b): r.n_bands
        for r in full.collect()
        if r.id_a % 2 == 1 or r.id_b % 2 == 1
    }
    assert got == want and len(got) > 0

    # appending the additions makes the store complete for the next batch
    additions.write.mode("append").partitionBy("band").parquet(store_dir)
    assert (
        spark.read.parquet(store_dir).count()
        == minhash_band_buckets(docs, kernel=kernel).count()
    )


def test_group_capped_sample_caps_and_keeps_small_groups(spark):
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        group_capped_sample,
    )

    rows = [(i, "big" if i < 50 else "small") for i in range(56)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    capped = group_capped_sample(df, "source", "doc_id", cap=10)
    counts = {r["source"]: r["n"] for r in
              capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 10, "small": 6}  # small group survives whole
    # deterministic: same rows on re-run
    again = group_capped_sample(df, "source", "doc_id", cap=10)
    assert sorted(r["doc_id"] for r in capped.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_fan_out_rebalances_narrow_scans_without_changing_results(spark, sf_dir):
    from skiliopay_datapipeline_customer_spark.io import fan_out, table
    from skiliopay_datapipeline_customer_spark.operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    # the fixture parquet is one row group -> one-task scan; the guard fires
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    widened = fan_out(docs.select("doc_id", "text"))
    assert (
        widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # already-parallel inputs pass through untouched (same plan object)
    cores = spark.sparkContext.defaultParallelism
    wide_src = docs.select("doc_id").repartition(cores)
    assert fan_out(wide_src) is wide_src
    # an explicit min_tasks above the input's parallelism is honored
    assert fan_out(wide_src, cores * 2).rdd.getNumPartitions() == cores * 2
    # kernel results are identical with and without the rebalance
    with_guard = {
        tuple(r) for r in D.minhash_signatures(docs, num_hashes=4).collect()
    }
    orig = D.fan_out
    D.fan_out = lambda df, n=None: df
    try:
        without = {
            tuple(r) for r in D.minhash_signatures(docs, num_hashes=4).collect()
        }
    finally:
        D.fan_out = orig
    assert with_guard == without


def test_minhash_lsh_recall_vs_exact_jaccard_tier(spark, sf_dir):
    """The text-tier twin of the embedding recall gate: banded MinHash
    candidates, on each hash kernel, must recover >= 0.9 of the exact
    3-gram-shingle Jaccard
    near-dup pairs (threshold 0.9; at b=8 r=4 the analytic candidate
    probability at J=0.9 is 1-(1-0.9^4)^8 ~ 0.9998)."""
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.9, shingle_n=3).collect()
    }
    assert exact, "fixture must exercise real near-dup pairs"
    # one exact tier, both hash kernels
    for kernel in ("xxhash64", "md5"):
        cand = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_candidates(docs, kernel=kernel).collect()
        }
        recall = len(cand & exact) / len(exact)
        assert recall >= 0.9, f"{kernel} recall {recall:.3f} below 0.9"
