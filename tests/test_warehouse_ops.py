"""Semantic tests for the lakehouse MERGE and the Z-order layout audit
(their driver-facing twins are oracle-checked; these pin the operator
semantics on tiny frames where the expected answer is hand-computable,
plus the plan shapes the docstrings promise)."""

from __future__ import annotations

import pyspark.sql.functions as F

from iot_real_time_data_pipeline_spark.operators import warehouse as WH


def _orders(spark, rows):
    return spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )


def test_merge_upsert_applies_update_delete_insert(spark):
    # keys mod 10: 3 → +$1.00; 7 → deleted; 1 → cloned at key+1e9.
    snap = _orders(
        spark,
        [
            (3, "O", 10.00),   # updated → 11.00
            (7, "F", 20.00),   # deleted
            (1, "P", 30.00),   # kept AND cloned as insert
            (12, "O", 40.00),  # untouched
        ],
    )
    got = {
        r["o_orderstatus"]: (r["n_orders"], r["sum_totalprice_c"])
        for r in WH.merge_upsert_summary(snap).collect()
    }
    assert got == {
        "O": (2, 1100 + 4000),       # updated 3 + untouched 12
        "P": (2, 3000 + 3000),       # original 1 + its insert clone
    }  # status F fully deleted → no row


def test_merge_insert_skips_keys_already_present(spark):
    # An insert clone whose target key already exists must NOT be
    # inserted (WHEN NOT MATCHED semantics).
    snap = _orders(
        spark,
        [
            (1, "O", 10.00),
            (1 + WH.MERGE_INSERT_OFFSET, "O", 99.00),  # occupies clone slot
        ],
    )
    [row] = WH.merge_upsert_summary(snap).collect()
    # clone of key 1 collides with the existing 1e9+1 row → skipped;
    # note 1e9+1 ends in 1 too, so ITS clone (at 2e9+1) does insert.
    assert row["n_orders"] == 3
    assert row["sum_totalprice_c"] == 1000 + 9900 + 9900


def test_merge_plan_never_shuffles_the_snapshot(spark):
    snap = _orders(spark, [(i, "O", float(i)) for i in range(1, 50)])
    plan = (
        WH.merge_upsert_summary(snap)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # matched pass + anti


def _py_morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_expr_matches_python_interleave(spark):
    rows = [(0, 0), (255, 255), (1, 2), (170, 85), (200, 13)]
    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", F.expr(WH.zorder_expr("x", "y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == _py_morton(r["x"], r["y"], WH.ZORDER_BITS)


def test_zorder_buckets_are_tiles_bounded_in_both_dims(spark):
    # Every z_bucket (z >> bits) spans 2^bits consecutive z cells = one
    # 2^(bits/2) x 2^(bits/2) tile: BOTH dims bounded — the property
    # that makes min/max file stats prune on either predicate column.
    li = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 4096).alias("l_partkey"),
        (F.col("id") * 104729 % 4096).alias("l_suppkey"),
    )
    side = 1 << (WH.ZORDER_BITS // 2)
    for r in WH.zorder_layout_audit(li).collect():
        assert r["max_x"] - r["min_x"] < side
        assert r["max_y"] - r["min_y"] < side
        assert r["bbox_area"] <= side * side


def test_join_size_audit_exact_cardinality_and_skew(spark):
    # fact: key 1 ×4 (40% skew), key 2 ×1; dim: key 1 ×2, key 3 ×1.
    fact = spark.createDataFrame(
        [(1,), (1,), (1,), (1,), (2,), (9,)], "k long"
    )
    dim = spark.createDataFrame([(1,), (1,), (3,)], "d long")
    [r] = WH.join_size_audit(fact, dim, "k", "d").collect()
    assert r.fact_rows == 6 and r.dim_rows == 3
    assert r.n_fact_keys == 3 and r.n_dim_keys == 2
    assert r.max_fact_key_rows == 4
    assert r.fact_skew_ppm == 4 * 1_000_000 // 6
    assert r.join_rows == 8  # key 1: 4×2; keys 2/9/3 unmatched
    assert r.strategy == "broadcast"  # tiny dim wins over the skew flag


def test_join_size_audit_salt_recommendation(spark):
    fact = spark.createDataFrame([(1,)] * 9 + [(2,)], "k long")
    dim = spark.createDataFrame([(i,) for i in range(5)], "d long")
    [r] = WH.join_size_audit(fact, dim, "k", "d", broadcast_rows=2).collect()
    assert r.strategy == "shuffle+salt"  # 90% of fact on one key


def test_property_merge_upsert_matches_python_reference(spark):
    """Property: for ANY snapshot, the broadcast-planned MERGE equals a
    row-by-row Python application of the same mod-10 change rules."""
    from hypothesis import given, settings, strategies as st

    row = st.tuples(
        st.integers(1, 60),
        st.sampled_from(["O", "F", "P"]),
        st.integers(1, 10_000),  # price in cents
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(row, min_size=1, max_size=20, unique_by=lambda r: r[0]))
    def check(rows):
        snap = _orders(
            spark, [(k, s, c / 100.0) for k, s, c in rows]
        )
        got = {
            r["o_orderstatus"]: (r["n_orders"], r["sum_totalprice_c"])
            for r in WH.merge_upsert_summary(snap).collect()
        }
        # python reference
        table = {k: (s, c) for k, s, c in rows}
        out = {}
        for k, (s, c) in list(table.items()):
            if k % 10 == WH.MERGE_DELETE_MOD:
                continue
            cc = c + 100 if k % 10 == WH.MERGE_UPDATE_MOD else c
            out.setdefault(s, []).append(cc)
            if (
                k % 10 == WH.MERGE_INSERT_MOD
                and (k + WH.MERGE_INSERT_OFFSET) not in table
            ):
                out.setdefault(s, []).append(c)
        want = {s: (len(v), sum(v)) for s, v in out.items()}
        assert got == want

    check()


def test_property_zorder_is_injective(spark):
    """Property: the Morton interleave is a bijection on the 2^bits
    grid — distinct (x, y) always yield distinct z."""
    import pyspark.sql.functions as F

    side = 1 << WH.ZORDER_BITS
    df = spark.range(0, 4096).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") * 37 + 11) % side).alias("y"),
    ).distinct()
    n_pairs = df.count()
    n_z = df.select(
        F.expr(WH.zorder_expr("x", "y")).alias("z")
    ).distinct().count()
    assert n_z == n_pairs
