"""SCD2 merge, connected components, profiler, salted join."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.operators.components import (
    connected_components,
    dedup_clusters,
)
from bank_transaction_data_warehouse_spark.operators.profile import profile_table
from bank_transaction_data_warehouse_spark.operators.scd import scd2_init, scd2_merge
from bank_transaction_data_warehouse_spark.operators.skew import salted_join


# ------------------------------------------------------------- SCD2
def _dim(spark, rows):
    return spark.createDataFrame(rows, "cust_id long, city string, segment string")


def test_scd2_unchanged_rows_pass_through(spark):
    cur = scd2_init(_dim(spark, [(1, "hanoi", "retail")]), "2024-01-01")
    out = scd2_merge(cur, _dim(spark, [(1, "hanoi", "retail")]),
                     "cust_id", ["city", "segment"], "2024-06-01").collect()
    assert len(out) == 1
    assert out[0].is_current and str(out[0].valid_from) == "2024-01-01"


def test_scd2_change_closes_and_opens(spark):
    cur = scd2_init(_dim(spark, [(1, "hanoi", "retail")]), "2024-01-01")
    out = scd2_merge(cur, _dim(spark, [(1, "saigon", "retail")]),
                     "cust_id", ["city", "segment"], "2024-06-01")
    rows = sorted(out.collect(), key=lambda r: (str(r.valid_from)))
    assert len(rows) == 2
    closed, opened = rows
    assert not closed.is_current and str(closed.valid_to) == "2024-06-01"
    assert closed.city == "hanoi"
    assert opened.is_current and opened.city == "saigon"
    assert str(opened.valid_from) == "2024-06-01"


def test_scd2_new_natural_key(spark):
    cur = scd2_init(_dim(spark, [(1, "hanoi", "retail")]), "2024-01-01")
    out = scd2_merge(cur, _dim(spark, [(1, "hanoi", "retail"), (2, "hue", "vip")]),
                     "cust_id", ["city", "segment"], "2024-06-01")
    rows = {r.cust_id: r for r in out.collect()}
    assert len(rows) == 2
    assert rows[2].is_current and rows[2].city == "hue"


def test_scd2_repeated_merge_idempotent(spark):
    cur = scd2_init(_dim(spark, [(1, "hanoi", "retail")]), "2024-01-01")
    snap = _dim(spark, [(1, "saigon", "retail")])
    once = scd2_merge(cur, snap, "cust_id", ["city", "segment"], "2024-06-01")
    twice = scd2_merge(once, snap, "cust_id", ["city", "segment"], "2024-07-01")
    assert twice.count() == once.count() == 2


# -------------------------------------------------------- components
def test_components_chain_and_island(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id_1 long, doc_id_2 long"
    )
    comp = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_components_path_longer_than_max_iter_raises(spark):
    """A path that does not converge within max_iter raises, never
    returns partial labels (8 nodes need 4 rounds)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_id_1 long, doc_id_2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(pairs, max_iter=2)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id_1 long, doc_id_2 long")


def test_components_long_shuffled_path_converges(spark):
    """Hooking plus pointer jumping: a 1,000-node path whose ids are
    shuffled along it converges under the default max_iter (one-hop
    diffusion needs a round per hop)."""
    ids = list(range(1, 1001))
    random.Random(7).shuffle(ids)
    pairs = _edges(spark, list(zip(ids, ids[1:])))
    comp = connected_components(pairs).collect()
    assert len(comp) == 1000 and {r.comp for r in comp} == {1}


def test_components_large_star_converges(spark):
    """1,000 leaves around a centre with the largest id."""
    pairs = _edges(spark, [(1001, i) for i in range(1, 1001)])
    comp = connected_components(pairs).collect()
    assert len(comp) == 1001 and {r.comp for r in comp} == {1}


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_components_random_graphs_match_union_find(spark, seed):
    rnd = random.Random(seed)
    n = rnd.choice([40, 200, 500])
    pairs = [
        (rnd.randrange(n), rnd.randrange(n)) for _ in range(rnd.randrange(n // 2, n))
    ]
    want = _union_find(pairs)  # min id per component, self-loops included
    got = {r.node: r.comp for r in connected_components(_edges(spark, pairs)).collect()}
    assert got == want


def test_components_settled_graph_runs_one_action(spark, monkeypatch):
    """Disjoint edges are final after the initial min label: one
    round, one checkpoint, no count or collect (the changed-label
    count is an Observation filled by the checkpoint)."""
    pairs = _edges(spark, [(2 * i, 2 * i + 1) for i in range(50)])
    frame = type(pairs)  # the concrete (classic) DataFrame class
    calls = []
    checkpoint = frame.localCheckpoint

    def counting(self, *a, **k):
        calls.append(1)
        return checkpoint(self, *a, **k)

    def no_action(self, *a, **k):
        raise AssertionError("connected_components ran a count/collect")

    monkeypatch.setattr(frame, "localCheckpoint", counting)
    monkeypatch.setattr(frame, "count", no_action)
    monkeypatch.setattr(frame, "collect", no_action)
    comp = connected_components(pairs)
    monkeypatch.undo()
    assert len(calls) == 1
    assert {(r.node, r.comp) for r in comp.collect()} == {
        (n, n - n % 2) for n in range(100)
    }


def test_dedup_clusters_members(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (1, 2)], "doc_id_1 long, doc_id_2 long"
    )
    out = {r.canonical_doc_id: r for r in dedup_clusters(pairs).collect()}
    assert out[5].cluster_size == 3 and out[5].members == [5, 7, 9]
    assert out[1].cluster_size == 2 and out[1].members == [1, 2]


# ----------------------------------------------------------- profiler
def test_profile_exact_stats(spark):
    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 8.0)], "a long, b double"
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["a"].n == 3 and prof["a"].n_null == 0
    assert prof["b"].n_null == 1
    assert prof["b"].min == 2.0 and prof["b"].max == 8.0
    assert abs(prof["b"].mean - 5.0) < 1e-9


# --------------------------------------------------------- salted join
def test_salted_join_equals_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_type"
    ).withColumnRenamed("p_partkey", "l_partkey")
    plain = (
        li.join(parts, "l_partkey")
        .groupBy("p_type").agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(li, parts, "l_partkey", salt=8)
        .groupBy("p_type").agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    """The point of salting: a pathological hot key must land in more
    than one post-join partition."""
    from pyspark.sql import functions as F2

    big = spark.range(0, 20000).select(
        F2.lit(7).alias("k"), F2.col("id").alias("payload")
    )  # one key, 20k rows: maximal skew
    small = spark.createDataFrame([(7, "hot")], "k long, tag string")
    joined = salted_join(big, small, "k", salt=8).repartition(16, "k")
    # without salt all rows of k=7 hash to ONE partition; with the salt
    # pre-spread, the downstream shuffle sees 8 distinct (k, salt)
    # combos — verify the operator's internal distribution instead:
    salted = big.withColumn(
        "_salt", F2.pmod(F2.xxhash64(*big.columns), F2.lit(8))
    )
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts == 8
    assert joined.count() == 20000


def test_fact_merchant_join_salted_fallback(spark, sf_dir):
    """The fact path's merchant join, rebuilt with salted_join instead
    of broadcast — the fallback for when dim_merchant outgrows the
    broadcast threshold and one hot merchant key skews the shuffle.
    Must produce the identical fact rows (see fact_spending's scale
    notes in plans/warehouse.py)."""
    from bank_transaction_data_warehouse_spark.plans.warehouse import dim_merchant
    from bank_transaction_data_warehouse_spark.sources.tables import load_table

    txn = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    merch = dim_merchant(spark, sf_dir).select(
        "merchant_key", F.col("merchant_id_source").alias("l_partkey")
    )
    plain = txn.join(F.broadcast(merch), "l_partkey").select(
        "l_orderkey", "l_partkey", "merchant_key", "l_extendedprice"
    )
    salted = salted_join(
        txn, merch, "l_partkey", salt=8, salt_source="l_orderkey"
    ).select("l_orderkey", "l_partkey", "merchant_key", "l_extendedprice")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_asof_pandas_matches_window_variant(spark, sf_dir):
    """The merge_asof (applyInPandas) variant must produce the same
    backward matches as the union+window composition on the real
    events->orders enrichment."""
    from bank_transaction_data_warehouse_spark.operators.asof import (
        asof_join,
        asof_join_pandas,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select("o_custkey", "o_orderdate")
    )
    kw = dict(
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderdate"],
    )
    a = {
        (r.event_id, r.asof_o_orderdate)
        for r in asof_join(ev, orders, **kw).collect()
    }
    b = {
        (r.event_id, r.asof_o_orderdate)
        for r in asof_join_pandas(ev, orders, **kw).collect()
    }
    assert a == b and len(a) == ev.count()


def test_asof_pandas_keeps_null_ts_left_rows(spark, sf_dir):
    """asof_join keeps left rows with NULL left_ts (NULL asof_ values);
    the pandas variant must match — pd.merge_asof cannot sort NULL
    keys, so those rows are routed around the merge and unioned back
    (the r11 advisor flagged the variants diverging on dirty data)."""
    from bank_transaction_data_warehouse_spark.operators.asof import (
        asof_join,
        asof_join_pandas,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .withColumn(
            "ts",
            F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
                F.col("ts")
            ),
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select("o_custkey", "o_orderdate")
    )
    kw = dict(
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderdate"],
    )
    a = {
        (r.event_id, r.asof_o_orderdate)
        for r in asof_join(ev, orders, **kw).collect()
    }
    b = {
        (r.event_id, r.asof_o_orderdate)
        for r in asof_join_pandas(ev, orders, **kw).collect()
    }
    assert a == b and len(a) == ev.count()
    # the NULL-ts rows are present, with NULL matches
    nulled = {e for e, m in b if m is None}
    assert nulled  # fixture guarantees some event_id % 7 == 0


def test_surrogate_key_memo_and_snapshot_guard(spark, sf_dir):
    """cache_key memoizes the build-time stats (same keys on a repeat
    build, no divergence), and a bucket unseen at snapshot time fails
    loudly instead of minting a NULL/duplicate key."""
    import pytest
    from pyspark.sql import functions as F

    from bank_transaction_data_warehouse_spark.operators.keys import (
        add_surrogate_key,
    )

    spark = spark.newSession()  # a fresh plan-build memo
    base = spark.range(1, 101).select(F.col("id").alias("k"))
    ck = "test:memo-guard"
    first = add_surrogate_key(base, ["k"], "sk", "rownum", cache_key=ck)
    again = add_surrogate_key(base, ["k"], "sk", "rownum", cache_key=ck)
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, again.collect())
    )
    assert [r["sk"] for r in first.orderBy("k").collect()] == list(
        range(1, 101)
    )

    # same cache_key, but now a NULL key: bucket -1 was never in the
    # snapshot -> raise_error, not a silent NULL surrogate
    with_null = base.union(
        spark.range(1).select(F.lit(None).cast("bigint").alias("k"))
    )
    poisoned = add_surrogate_key(
        with_null, ["k"], "sk", "rownum", cache_key=ck
    )
    with pytest.raises(Exception, match="plan-build"):
        poisoned.collect()


def test_surrogate_key_empty_memo_not_poisoned(spark):
    """A build over an EMPTY frame must not memoize empty offsets: a
    later non-empty build with the same cache_key has to compute fresh
    stats (colliding per-bucket keys would otherwise mint silently)."""
    from pyspark.sql import functions as F

    from bank_transaction_data_warehouse_spark.operators.keys import (
        add_surrogate_key,
    )

    spark = spark.newSession()  # a fresh plan-build memo
    ck = "test:empty-then-full"
    empty = spark.range(0).select(F.col("id").alias("k"))
    assert add_surrogate_key(empty, ["k"], "sk", "rownum", cache_key=ck).count() == 0
    full = spark.range(1, 201).select(F.col("id").alias("k"))
    keys = [r["sk"] for r in
            add_surrogate_key(full, ["k"], "sk", "rownum", cache_key=ck)
            .orderBy("k").collect()]
    assert keys == list(range(1, 201))  # dense, no collisions


def _build_jobs(spark, sf_dir, qname, group):
    """Jobs launched while BUILDING (not executing) one queries() plan,
    counted through a job group."""
    import __spark_entry__ as E

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        E.queries()[qname](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "qname",
    ["fact_spending", "quality_top_decile", "ann_ivf_kmeans_topk",
     "ann_pq_topk", "vocab_growth"],
)
def test_plan_build_stats_memoized_per_session(spark, sf_dir, qname):
    """Plan-build stats (frames, row counts, surrogate-key offsets,
    kmeans/PQ codebooks, histograms) are memoized per session: a
    rebuild in the same session launches no job, and a new session
    starts cold even once its source-table stats are warm."""
    from bank_transaction_data_warehouse_spark.sources.tables import (
        TABLES,
        scan_partitions,
        table_rows,
    )

    _build_jobs(spark, sf_dir, qname, f"memo-warm-{qname}")
    assert _build_jobs(spark, sf_dir, qname, f"memo-again-{qname}") == 0
    fresh = spark.newSession()
    for t in TABLES:
        table_rows(fresh, sf_dir, t)
        scan_partitions(fresh, sf_dir, t)
    assert _build_jobs(fresh, sf_dir, qname, f"memo-cold-{qname}") >= 1
