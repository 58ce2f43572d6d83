"""Relational and at-scale shape gates (analytics/shapes.py): plan and
value properties each gate exists to show, asserted on the operator so a
regression names the broken property instead of an oracle hash mismatch."""

from tests.conftest import SF_DIR


class TestShapeGates:
    def test_range_join_never_nested_loop(self, spark):
        from pgsf_spark.analytics.shapes import q_range_join_bucketed

        plan = (
            q_range_join_bucketed(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_salted_topk_has_salt_stage_and_bounded_windows(self, spark):
        from pgsf_spark.analytics.shapes import q_skew_salted_topk

        plan = (
            q_skew_salted_topk(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # stage-2 window partitions on (key, salt): the salt column must
        # survive into a Window partition spec, or the guarantee that no
        # window sees an unbounded partition is gone
        assert "salt" in plan
        assert "Window" in plan

    def test_bucketed_gate_probe_is_exchange_free(self, spark):
        # the gate's own no_exchange column is oracle-pinned TRUE; assert
        # it here too so the failure reads as a plan regression, not a
        # value mismatch
        from pgsf_spark.analytics.shapes import q_bucketed_colocated_join_gate

        rows = q_bucketed_colocated_join_gate(spark, SF_DIR).collect()
        assert rows and all(r["no_exchange"] for r in rows)

    def test_asof_gate_versions_are_immutable(self, spark):
        from pgsf_spark.analytics.shapes import q_snapshot_asof_read_gate

        row = q_snapshot_asof_read_gate(spark, SF_DIR).collect()[0]
        assert row["versions_distinct"]
        assert row["v1_rows"] < row["v2_rows"]

    def test_grouping_id_bit_contract(self, spark):
        # leftmost grouping column = most significant bit (the contract the
        # oracle pins against DuckDB's GROUPING()): status-only subtotals
        # carry gid 1 (priority aggregated), priority-only gid 2, total 3
        from pgsf_spark.analytics.shapes import q_grouping_sets_cube_gate

        rows = q_grouping_sets_cube_gate(spark, SF_DIR).collect()
        for r in rows:
            expect = (2 if r["status"] == "ALL" else 0) + (
                1 if r["priority"] == "ALL" else 0
            )
            assert r["gid"] == expect, r

    def test_pivot_roundtrip_all_match(self, spark):
        from pgsf_spark.analytics.shapes import q_pivot_unpivot_roundtrip

        rows = q_pivot_unpivot_roundtrip(spark, SF_DIR).collect()
        assert rows and all(r["match"] for r in rows)

    def test_lateral_topk_tie_order_is_first_occurrence(self, spark):
        from pgsf_spark.analytics.shapes import q_lateral_explode_topk

        rows = q_lateral_explode_topk(spark, SF_DIR).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc, rs in by_doc.items():
            rs = sorted(rs, key=lambda r: r["rank"])
            # within a doc: lengths non-increasing; equal lengths keep
            # position order (the posexplode-carried tiebreak)
            for a, b in zip(rs, rs[1:]):
                assert a["tok_len"] >= b["tok_len"], doc
                if a["tok_len"] == b["tok_len"]:
                    assert a["pos1"] < b["pos1"], doc

    def test_rangebetween_trailing_counts_cover_all_events(self, spark):
        from pgsf_spark.analytics.shapes import q_window_rangebetween_native
        from pgsf_spark.tables import load_table

        hist = q_window_rangebetween_native(spark, SF_DIR).collect()
        total = sum(r["n_rows"] for r in hist)
        assert total == load_table(spark, SF_DIR, "events").count()
        assert all(r["trailing_n"] >= 1 for r in hist)  # frame includes self
