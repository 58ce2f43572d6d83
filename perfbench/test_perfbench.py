"""Tests of the benchmark's own parts that need no Spark session: the
event-log parser on its committed fixture, the output checks on corrupted
results (the headline oracle check on the committed tables), the input
generator's CDC semantics, the tracer, and the metric
names against BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timedelta

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
from context import Run, tail  # noqa: E402
from spans import Tracer  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


# -- event-log parser --------------------------------------------------------


@pytest.fixture(scope="module")
def log():
    return eventlog.read(FIXTURE)


def test_parser_reads_jobs_tags_and_stage_owners(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert [log.jobs[j].stage_ids for j in (0, 1, 2)] == [[0], [1, 2], [3]]
    assert (log.jobs[0].span, log.jobs[0].step, log.jobs[0].execution) == (1, "tick-0", 0)
    assert log.jobs[2].span is None and log.jobs[2].step == "pass-0"


def test_totals_over_all_jobs(log):
    t = eventlog.totals(log, log.jobs.values(), cores=4)
    assert t["jobs"] == 3 and t["tasks"] == 8
    assert t["exec_run_s"] == pytest.approx(0.95)
    assert t["exec_cpu_s"] == pytest.approx(0.59)
    assert t["gc_s"] == pytest.approx(0.02)
    assert t["spill_mb"] == pytest.approx(2.0)
    assert t["shuffle_mb"] == pytest.approx(1.0)
    assert t["max_stage_tasks"] == 4
    # single-task stages 0 and 3 run on fewer than half of 4 cores
    assert t["serial_exec_s"] == pytest.approx(0.43)
    assert t["input_records"] == 4008


def test_attribution_by_span_step_and_scanned_path(log):
    assert [j.id for j in log.jobs_where(span_ids={1})] == [0]
    assert [j.id for j in log.jobs_where(step="tick-0")] == [0, 1]
    assert eventlog.totals(log, log.jobs_where(span_ids={2}), cores=4)["jobs"] == 1
    assert log.scans(log.jobs[0], "/data/src/orders")
    assert not log.scans(log.jobs[1], "/data/src/orders")
    assert not log.scans(log.jobs[2], "/data/src/orders")


# -- output checks fail on corrupted results --------------------------------

COLS = ["Id", "price", "ts", "dead"]
ROWS = [("1", 10.5, datetime(2031, 1, 1), False), ("2", 20.0, None, True)]


def test_rows_check_ignores_order_and_passes():
    assert checks.check_rows("t", COLS, list(reversed(ROWS)), ROWS) is None


@pytest.mark.parametrize("corrupt", [
    lambda rows: [("1", 10.51, *rows[0][2:]), rows[1]],  # one value changed
    lambda rows: rows[:1],  # a row lost
    lambda rows: rows + rows[:1],  # a row duplicated
    lambda rows: [(*rows[0][:3], True), rows[1]],  # delete flag flipped
])
def test_rows_check_fails_on_corruption(corrupt):
    assert checks.check_rows("t", COLS, corrupt(ROWS), ROWS) is not None


def test_value_check_fails_on_wrong_count_or_watermark():
    assert checks.check_value("count", 41, 41) is None
    assert checks.check_value("count", 42, 41) is not None
    assert checks.check_value("wm", "2031-01-01T00:00:07Z", "2031-01-01T00:00:08Z") is not None


class _Frame:
    """Stands in for a DataFrame: the oracle check reads only ``columns``
    and ``collect()``."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


@pytest.mark.parametrize("corrupt, passes", [
    (lambda rows: rows, True),
    (lambda rows: list(reversed(rows)), True),  # row order does not matter
    (lambda rows: [(0, "ALGERIA!"), *rows[1:]], False),  # one value changed
    (lambda rows: rows[1:], False),  # a row lost
])
def test_headline_oracle_check_fails_on_corruption(corrupt, passes):
    """The headline queries' check (``verify_queries``) over the committed
    tables: a corrupted result fails it."""
    from types import SimpleNamespace

    import pyarrow.parquet as pq
    from pgsf_spark.verify import verify_queries

    nation = pq.read_table(os.path.join(gen.DATA, "nation.parquet")).to_pydict()
    rows = list(zip(nation["n_nationkey"], nation["n_name"]))
    spec = SimpleNamespace(fn=lambda spark, d: _Frame(["n_nationkey", "n_name"], corrupt(rows)),
                           oracle="SELECT n_nationkey, n_name FROM nation")
    got = verify_queries(None, gen.DATA, log=lambda msg: None, queries={"q": spec})
    assert got == {"q": passes}


def test_failed_check_counts_as_failed_operation(tmp_path):
    r = Run("cdc_trickle", 1, 1.0, False, str(tmp_path))
    r.timed(lambda: 1)
    r.check(checks.check_value("count", 2, 1))
    r.timed(lambda: 1 / 0)
    assert (r.attempted, r.failed, len(r.errors)) == (2, 2, 2)


# -- generator: reference CDC semantics and determinism ----------------------


def _row(key, ts_s, deleted=False, price=1.0):
    return (key, 0, "O", price, datetime(1999, 1, 1), "5-LOW",
            datetime(2031, 1, 1, 0, 0, ts_s), deleted)


def test_latest_row_per_key_wins():
    model = {}
    gen.apply_batch(model, [_row("a", 2, price=2.0), _row("a", 1, price=1.0)])
    assert model["a"][3] == 2.0


def test_delete_wins_within_a_batch_whatever_the_order():
    for batch in ([_row("a", 1, True), _row("a", 2)], [_row("a", 2), _row("a", 1, True)]):
        model = {"a": _row("a", 0)}
        gen.apply_batch(model, batch)
        assert "a" not in model


def test_change_feed_is_seeded_and_shaped():
    snapshot = gen.entity_rows()
    assert len(snapshot) == 15000 and len({r[0] for r in snapshot}) == 15000

    def batches(seed):
        feed = gen.ChangeFeed(seed, {r[0]: r for r in snapshot})
        return [feed.next_batch() for _ in range(5)], feed

    (a, feed), (b, _) = batches(7), batches(7)
    assert a == b
    assert batches(8)[0] != a
    for batch in a:
        assert len(batch) == 8
        assert sum(r[7] for r in batch) == 1  # one delete
        assert not batch[-1][7]  # last row is live, so the watermark is its ts
        ts = [r[6] for r in batch]
        assert ts == sorted(ts) and len(set(ts)) == len(ts)
        # after the snapshot's watermark, which is the wall clock at load
        assert ts[0] > datetime.now() + timedelta(days=365 * 100)
    assert feed.wm == a[-1][-1][6]


# -- tracer and summaries ----------------------------------------------------


def test_tracer_self_time_and_subtree():
    t = Tracer(enabled=True)
    t.set_step("tick-0")
    with t.span("tick") as tick:
        with t.span("child") as c:
            with t.span("grandchild"):
                pass
    assert t.subtree(tick.id) == {0, 1, 2}
    assert t.self_seconds(tick.id) == pytest.approx(tick.seconds - c.seconds)
    assert all(s.step == "tick-0" for s in t.spans)
    assert Tracer().span("x").__enter__() is None  # disabled: records nothing


def test_tracer_wraps_instance_methods():
    class Store:
        def read(self, x):
            return x + 1

    t = Tracer(enabled=True)
    s = t.instrument(Store(), "operators.table_store", ["read"],
                     hooks={"read": lambda span, a, kw: span.attrs.update(arg=a[0])})
    assert s.read(1) == 2
    assert t.spans[0].name == "operators.table_store.read" and t.spans[0].attrs == {"arg": 1}


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    out = tail([float(i) for i in range(20)])
    assert out == {"percentile": 50.0, "value": 9.0, "samples": 20}


# -- metric names agree with BENCHMARK.json ----------------------------------


def test_metric_names_match_benchmark_json():
    import metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.layer_units()
    assert all(m["better"] == metrics.better(m["name"]) for m in spec["per_layer"])
