"""Plan-shape regression guards: the queries the engine advertises as
scale-critical must KEEP the physical plan that makes them scale — a
refactor that silently reintroduces a cartesian product, loses a broadcast,
or un-pushes a filter should fail here, not in a 100 TB run.
(tools/audit_plans.py sweeps every key for anti-patterns; these tests pin
the positive shape of a few load-bearing plans.)"""

import os

from varda_spark.catalog import REGISTRY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_freq_variant_broadcasts_dims(spark):
    plan = plan_of(spark, "freq_variant")
    assert "BroadcastHashJoin" in plan          # covered pool sizes arrive broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # the pool is a literal


def test_paginate_seek_is_take_ordered(spark):
    plan = plan_of(spark, "paginate_seek")
    assert "TakeOrderedAndProject" in plan       # per-partition top-n + tiny merge
    assert "Exchange SinglePartition" not in plan
    # the cursor predicate reaches the parquet scan
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def test_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "filter_eq")
    assert "PushedFilters: []" not in plan       # predicate at the scan
    plan2 = plan_of(spark, "agg_sum")
    # column pruning: the lineitem scan must not read all 16 columns
    scan = [ln for ln in plan2.splitlines() if "ReadSchema" in ln][0]
    schema = scan.split("ReadSchema: struct<", 1)[1]
    assert schema.count(",") + 1 <= 6, f"agg_sum scan reads too many columns: {scan}"


def test_join_interval_is_equi_join(spark):
    plan = plan_of(spark, "join_interval")
    assert "BroadcastNestedLoopJoin" not in plan  # binned rewrite, not theta
    assert "CartesianProduct" not in plan


def test_array_output_guard_trips(spark):
    """tools/check_oracle.py must reject array/map-typed output columns in
    oracle-twinned keys — the driver's canonicalizer cannot sort such
    cells (the four CORRECTNESS_r04 errs). A deliberately array-returning
    result must trip the guard; a scalar-only one must not."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import array_output_cols

    bad = spark.sql(
        "SELECT 1 AS k, array(1, 2, 3) AS arr, map('a', 1) AS m"
    ).toPandas()
    assert set(array_output_cols(bad)) == {"arr", "m"}

    ok = spark.sql(
        "SELECT 1 AS k, array_join(array('a', 'b'), ',') AS joined"
    ).toPandas()
    assert array_output_cols(ok) == []


def test_partition_pruning_reaches_scan(spark):
    """scan_partition_pruned's year filter must arrive as a PartitionFilter
    on the hive-partitioned scratch table — metadata-only elimination, no
    data files read for other years."""
    plan = plan_of(spark, "scan_partition_pruned")
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_year" in seg, f"year predicate not pushed to partitions: {seg!r}"


def test_bucketed_agg_has_no_exchange(spark):
    """agg_bucketed_noshuffle's GROUP BY on the bucket key must run with
    ZERO Exchange — the bucket layout satisfies the hash-distribution
    requirement, which is the point of the key."""
    plan = plan_of(spark, "agg_bucketed_noshuffle")
    assert "Exchange hashpartitioning" not in plan, plan


def _annotate_scans(wh, vcf: str, queries: dict[str, str]) -> dict[str, int]:
    """Scans per input in the annotate plan, dynamic-pruning subqueries
    included. The facts and the query VCF are file scans, each told apart
    by a column only it has; the sample dimension is a driver-local table,
    so its scans are the plan's ``LocalTableScan`` nodes, and no file scan
    may read ``samples/`` (its ``active``/``pool_size`` columns)."""
    plan = wh.annotate(vcf, queries)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scans = [ln.split("FileScan ", 1)[1] for ln in lines if "FileScan " in ln]
    cols = [s.split("]", 1)[0] for s in scans]
    assert not any("active#" in c or "pool_size#" in c for c in cols), cols
    return {
        "query_vcf": sum(s.startswith("text") for s in scans),
        "samples": sum("LocalTableScan " in ln for ln in lines),
        "observations": sum("support#" in c for c in cols),
        "regions": sum("begin#" in c for c in cols),
    }


def test_annotate_reads_inputs_once_for_any_query_count(tiny_warehouse):
    """Every annotation query is a flag and a conditional sum in ONE plan:
    adding queries adds no scan of the query VCF or of any warehouse table
    (one frequency() plan per query scanned the VCF 13 times for 2
    queries)."""
    wh, inputs = tiny_warehouse
    queries = {"ALL": "*", "PUB": "public", "PRIV": "not public"}
    one = _annotate_scans(wh, inputs.query_vcf, dict(list(queries.items())[:1]))
    two = _annotate_scans(wh, inputs.query_vcf, dict(list(queries.items())[:2]))
    three = _annotate_scans(wh, inputs.query_vcf, queries)
    assert all(one.values()), one  # the classifier sees every input
    assert one == three, (one, three)
    assert two["query_vcf"] < 13, two
