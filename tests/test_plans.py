"""Physical-plan assertions — the scale contract, enforced.

These lock the Catalyst behaviors the engine's 100 TB story depends on:
filter pushdown reaching the parquet scan, column pruning (narrow
ReadSchema) in front of every UDF, broadcast joins for dimensions, and
shuffle-free build and probe plans.
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.select("l_orderkey", "l_quantity").where(F.col("l_shipdate") <= "1996-01-01")
    p = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    assert "l_extendedprice" not in p  # pruned


def test_build_scan_reads_only_token_column(spark, sf_small):
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet").select("tokens")
    p = _plan(toks)
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "tokens:array<int>" in read_schema
    for unwanted in ("doc_id", "source", "n_tok"):
        assert unwanted not in read_schema


def test_dimension_joins_broadcast(spark):
    from bloom_filter_spark.functions import relational
    q = relational.top_customer_per_nation(spark, "/root/testdata/sf0.001")
    p = _plan(q)
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_probe_plan_is_single_stage(spark, sf_small):
    """Probe = scan → ArrowEvalPython → filter; no shuffle anywhere."""
    from bloom_filter_spark.operators import build_sketch, membership_udf
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet")
    blob, _ = build_sketch(toks.limit(100), BloomSketch(BloomParams(n=1024, p=0.01)),
                           "tokens", "i32_array")
    probe = membership_udf(spark, blob, "bloom", "i32")
    q = (spark.read.parquet(f"{sf_small}/probes_present.parquet")
         .where(probe(F.col("token"))))
    p = _plan(q)
    assert "Exchange" not in p  # no shuffle in the probe path
    assert "ArrowEvalPython" in p or "PythonUDF" in p


def test_direct_build_has_no_data_shuffle(spark, sf_small):
    """The whole build plan: scan → mapInArrow; the only post-build movement
    is the partials' collect."""
    from bloom_filter_spark.operators import build_partials
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet")
    partials = build_partials(toks, BloomSketch(BloomParams(n=1024, p=0.01)),
                              "tokens", "i32_array")
    p = _plan(partials)
    assert "Exchange" not in p
    assert "MapInArrow" in p or "mapInArrow" in p.lower()


def test_tpch_q14_pushdown_and_broadcast(spark):
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q14(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # part scan reads only the join key + type
    part_schema = [ln for ln in p.splitlines()
                   if "ReadSchema" in ln and "p_partkey" in ln][0]
    assert "p_retailprice" not in part_schema


def test_tpch_q10_broadcast_dimension_chain(spark):
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q10(spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastHashJoin") >= 2      # customer and nation
    assert "EqualTo(l_returnflag,R)" in p          # pushed to the scan
    assert "TakeOrderedAndProject" in p            # top-20, no global sort


def test_tpch_q7_broadcast_nation_pair(spark):
    """Q7: both nation-filtered dims broadcast; the fact side never
    shuffles for the nation logic; date range pushed to the scan."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q7(spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastHashJoin") >= 2       # supp and cust dims
    assert "GreaterThanOrEqual(l_shipdate" in p    # pushed date filter
    assert "SortMergeJoin" not in p


def test_tpch_q18_semijoin_reduction_and_topk(spark):
    """Q18: the quantity threshold runs on the order-side aggregate
    before any dimension join, and the top-100 is TakeOrderedAndProject
    (no global sort of the joined rows)."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q18(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in p
    # the sum(l_quantity) > 200 filter sits above a HashAggregate, below
    # the joins: there is exactly one aggregate on sum_qty and the filter
    # references it
    assert "sum_qty" in p and "200" in p
    assert p.count("HashAggregate") >= 2           # partial + final


def test_tpch_q19_disjunction_single_pass(spark):
    """Q19: the OR-of-envelopes evaluates post-join in one codegen pass —
    no union of three scans (exactly one lineitem scan) and the part dim
    broadcasts."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q19(spark, "/root/testdata/sf0.001"))
    assert p.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_tpch_q22_anti_join(spark):
    """Q22: the "no recent orders" predicate is a broadcast anti join and
    the scalar threshold is a broadcast nested loop over one row — the
    customer side is scanned once."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q22(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in p
    assert p.count("customer.parquet") == 2        # cust slice + threshold
    assert "GreaterThanOrEqual(o_orderdate" in p   # pushed order filter


def test_tpch_q2_single_scan_window_min(spark):
    """Q2: the correlated per-part min is a window over the aggregate —
    ONE lineitem scan (the naive decorrelation aggregates the fact twice),
    part/supplier dims broadcast, part predicates pushed to the scan."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q2(spark, "/root/testdata/sf0.001"))
    assert p.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in p
    assert "EqualTo(p_type,STANDARD)" in p
    assert "LessThanOrEqual(p_size,10)" in p
    assert p.count("BroadcastHashJoin") >= 2


def test_tpch_q11_single_scan_scalar_window(spark):
    """Q11: the HAVING-vs-total threshold attaches via an unpartitioned
    window over the per-part AGGREGATE (state-sized), not a crossJoin
    that would rescan lineitem."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q11(spark, "/root/testdata/sf0.001"))
    assert p.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in p
    assert "Window" in p


def test_tpch_q20_single_scan_majority_share(spark):
    """Q20: per-part totals via window over the (part, supplier)
    aggregate; supplier lookup is a broadcast semi-join; name/date
    predicates reach the scans."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q20(spark, "/root/testdata/sf0.001"))
    assert p.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in p
    assert "StringStartsWith(p_name,small )" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LeftSemi" in p


def test_tpch_q21_windows_share_one_sort(spark):
    """Q21: the EXISTS/NOT-EXISTS pair is two window passes sharing the
    orderkey partitioning over ONE lineitem scan — no per_os ⋈ per_o
    self-join (which planned as a SortMergeJoin + second scan)."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q21(spark, "/root/testdata/sf0.001"))
    assert p.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in p
    assert p.count("Window") == 2
    # both windows run on the same orderkey partitioning: exactly one
    # exchange introduces it (the agg), none between the windows
    agg_and_window_exchanges = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning(l_orderkey" in ln]
    assert len(agg_and_window_exchanges) <= 2


def test_tpch_q15_single_scan_window_max(spark):
    """Q15: the global revenue max attaches via an unpartitioned window
    over the per-SUPPLIER aggregate — the broadcast-max-scalar shape
    planned its subquery independently and scanned lineitem twice."""
    from bloom_filter_spark.functions import relational
    p = _plan(relational.tpch_q15(spark, "/root/testdata/sf0.001"))
    assert p.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in p
    assert "Window" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
