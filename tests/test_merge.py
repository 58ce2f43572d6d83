"""Merge-upsert operator tests (K3/J1/J2 semantics, SURVEY §7.7 risk #1).

Covers: update/insert/delete routing, duplicate-PK last-in-file-order
resolution, conditional soft-delete, and the idempotence/convergence
properties of §5.4 (re-apply, overlap, out-of-order batches).
"""

from datetime import datetime

from pyspark.sql import functions as F

from pgsf_spark.operators.merge import latest_per_key, merge_upsert

TS = datetime(2024, 1, 1, 12, 0, 0)
TS2 = datetime(2024, 1, 2, 12, 0, 0)


def mk_target(spark):
    rows = [
        ("a", "alice", 1.0, TS, False),
        ("b", "bob", 2.0, TS, False),
        ("c", "carol", 3.0, TS, False),
    ]
    return spark.createDataFrame(rows, "Id string, name string, v double, SystemModstamp timestamp, IsDeleted boolean")


def collect_map(df):
    return {r["Id"]: (r["name"], r["v"]) for r in df.collect()}


class TestMergeUpsert:
    def test_update_insert_delete(self, spark):
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [
                ("a", "alice2", 10.0, TS2, False),  # update
                ("d", "dave", 4.0, TS2, False),  # insert
                ("b", "bob", 2.0, TS2, True),  # delete
            ],
            target.schema,
        )
        out = collect_map(merge_upsert(target, changes, "Id", "SystemModstamp"))
        assert out == {"a": ("alice2", 10.0), "c": ("carol", 3.0), "d": ("dave", 4.0)}

    def test_duplicate_pk_last_wins(self, spark):
        # PG applies ON CONFLICT row-at-a-time in file order: last occurrence
        # wins (query_poll_table.py:119-136). Ties on ts resolve by
        # _file_order when present.
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [
                ("a", "first", 1.0, TS2, False, 1),
                ("a", "second", 2.0, TS2, False, 2),
                ("a", "third", 3.0, TS2, False, 3),
            ],
            "Id string, name string, v double, SystemModstamp timestamp, IsDeleted boolean, _file_order long",
        )
        out = collect_map(merge_upsert(target, changes, "Id", "SystemModstamp", order_col="_file_order"))
        assert out["a"] == ("third", 3.0)

    def test_later_timestamp_wins_regardless_of_order(self, spark):
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [("a", "newer", 9.0, TS2, False), ("a", "older", 5.0, TS, False)],
            target.schema,
        )
        out = collect_map(merge_upsert(target, changes, "Id", "SystemModstamp"))
        assert out["a"] == ("newer", 9.0)

    def test_no_isdeleted_column_never_deletes(self, spark):
        # P5 conditionality (query_poll_table.py:139-145): without IsDeleted
        # in the sync set, rows are only upserted.
        target = mk_target(spark).drop("IsDeleted")
        changes = spark.createDataFrame(
            [("a", "alice2", 10.0, TS2)], "Id string, name string, v double, SystemModstamp timestamp"
        )
        out = merge_upsert(target, changes, "Id", "SystemModstamp", isdeleted_col="IsDeleted")
        assert out.count() == 3

    def test_repeated_keys_with_delete(self, spark):
        # the anti-join's key side keeps the batch's duplicate keys: a
        # target row goes when any change row has its key
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [
                ("a", "a-old", 5.0, TS, False),
                ("a", "a-new", 6.0, TS2, False),
                ("b", "bob", 2.0, TS, True),
                ("b", "bob", 2.0, TS2, True),
                ("c", "carol2", 7.0, TS, False),
                ("c", "carol", 3.0, TS2, True),
                ("d", "dave", 4.0, TS, False),
                ("d", "dave2", 8.0, TS2, False),
            ],
            target.schema,
        )
        merged = merge_upsert(target, changes, "Id", "SystemModstamp")
        assert merged.count() == 2
        assert collect_map(merged) == {"a": ("a-new", 6.0), "d": ("dave2", 8.0)}
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "HashAggregate" not in plan, plan

    def test_delete_then_reinsert_key(self, spark):
        target = mk_target(spark)
        batch1 = spark.createDataFrame([("b", "bob", 2.0, TS2, True)], target.schema)
        merged1 = merge_upsert(target, batch1, "Id", "SystemModstamp")
        assert "b" not in collect_map(merged1)
        batch2 = spark.createDataFrame([("b", "bob-back", 7.0, TS2, False)], target.schema)
        out = collect_map(merge_upsert(merged1, batch2, "Id", "SystemModstamp"))
        assert out["b"] == ("bob-back", 7.0)


class TestIdempotence:
    """§5.4 property tests: convergence under re-delivery."""

    def test_reapply_same_batch_is_noop(self, spark):
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [("a", "alice2", 10.0, TS2, False), ("b", "bob", 2.0, TS2, True)], target.schema
        )
        once = merge_upsert(target, changes, "Id", "SystemModstamp")
        twice = merge_upsert(once, changes, "Id", "SystemModstamp")
        assert collect_map(once) == collect_map(twice)

    def test_overlapping_batches_converge(self, spark):
        # watermark overlap: the same boundary row re-fetched in both batches
        target = mk_target(spark)
        boundary = ("a", "alice2", 10.0, TS2, False)
        b1 = spark.createDataFrame([boundary, ("d", "dave", 4.0, TS2, False)], target.schema)
        b2 = spark.createDataFrame([boundary, ("e", "erin", 5.0, TS2, False)], target.schema)
        out = merge_upsert(merge_upsert(target, b1, "Id", "SystemModstamp"), b2, "Id", "SystemModstamp")
        m = collect_map(out)
        assert m["a"] == ("alice2", 10.0) and "d" in m and "e" in m


class TestLatestPerKey:
    def test_dedup_keeps_latest(self, spark):
        df = spark.createDataFrame(
            [("a", 1, TS), ("a", 2, TS2), ("b", 3, TS)],
            "Id string, v int, SystemModstamp timestamp",
        )
        out = {r["Id"]: r["v"] for r in latest_per_key(df, "Id", "SystemModstamp").collect()}
        assert out == {"a": 2, "b": 3}

    def test_single_shuffle_plan(self, spark):
        # the window should introduce exactly one exchange on the pk
        df = spark.createDataFrame([("a", 1, TS)], "Id string, v int, SystemModstamp timestamp")
        plan = latest_per_key(df, "Id", "SystemModstamp")._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") <= 1


class TestDeleteFoldInternals:
    """OPTIMIZATION_r14: the soft-delete pass is folded into the
    latest-per-key window's pk partitioning (one shared Exchange) instead
    of a separate filter -> distinct -> anti-join branch. Pin the
    semantics that fold must preserve and the plan shape it buys."""

    def test_delete_wins_over_same_batch_later_update(self, spark):
        # key-grain delete: ANY dead row removes the key, even when a
        # strictly newer alive row exists in the same batch (the
        # reference applies the delete pass after the upsert pass)
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [
                ("a", "dead", 0.0, TS, True),
                ("a", "alive-later", 9.0, TS2, False),
            ],
            target.schema,
        )
        out = collect_map(merge_upsert(target, changes, "Id", "SystemModstamp"))
        assert "a" not in out

    def test_null_isdeleted_is_not_a_delete(self, spark):
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [("a", "alice2", 10.0, TS2, None)], target.schema
        )
        out = collect_map(merge_upsert(target, changes, "Id", "SystemModstamp"))
        assert out["a"] == ("alice2", 10.0)

    def test_helper_column_never_leaks(self, spark):
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [("a", "alice2", 10.0, TS2, False)], target.schema
        )
        out = merge_upsert(target, changes, "Id", "SystemModstamp")
        assert "__any_dead" not in out.columns

    def test_flag_and_dedup_share_one_pk_exchange(self, spark):
        # the any-dead window and the row_number window are keyed the same
        # way, so they must share ONE pk exchange: exactly two Window
        # nodes in the plan, with no Exchange between them (the old shape
        # had one window plus a separate dead-keys distinct+anti-join
        # branch that re-shuffled the change batch)
        target = mk_target(spark)
        changes = spark.createDataFrame(
            [("a", "alice2", 10.0, TS2, False), ("b", "bob", 2.0, TS2, True)],
            target.schema,
        )
        merged = merge_upsert(target, changes, "Id", "SystemModstamp")
        plan = merged._jdf.queryExecution().executedPlan().toString()
        windows = [i for i in range(len(plan)) if plan.startswith("Window ", i)]
        assert len(windows) == 2, plan
        assert "Exchange" not in plan[windows[0] : windows[1]], plan
