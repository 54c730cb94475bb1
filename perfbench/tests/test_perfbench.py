"""Self-tests of the benchmark's helpers and correctness gates.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
None of them starts Spark.
"""

from __future__ import annotations

import pytest

from perfbench import dca, lake
from perfbench.common import GateError
from perfbench.stats import percentile, self_times, tail, union_length
from perfbench.trace import Tracer


# -- tail percentile ---------------------------------------------------------
@pytest.mark.parametrize("n, pct", [(1000, 99.0), (200, 95.0), (100, 90.0),
                                    (40, 75.0), (20, 50.0), (30, 50.0)])
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(n)]
    got = tail(values)
    assert got["pct"] == pct
    assert got["n"] == n
    assert got["beyond"] >= 10
    assert got["value"] == percentile(values, pct)


def test_tail_needs_ten_samples_beyond_the_median():
    assert tail([1.0] * 19) is None
    assert tail([]) is None


def test_percentile_interpolates():
    assert percentile([4.0, 1.0, 3.0, 2.0], 50.0) == 2.5
    assert percentile([1.0, 2.0, 3.0], 100.0) == 3.0


# -- span self time ----------------------------------------------------------
def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 7)]) == 5
    assert union_length([]) == 0


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # ends after its parent
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.5},  # grandchild
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[1] == pytest.approx(2.0)
    assert own[4] == pytest.approx(1.0)


def test_tracer_records_nested_spans_and_restores_wrapped_functions():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tracer = Tracer()
    tracer.wrap(Layer, "outer", "layer.outer")
    tracer.wrap(Layer, "inner", "layer.inner")
    Layer().outer()  # tracing off: nothing recorded
    assert tracer.spans == []
    tracer.enabled, tracer.op_id = True, 7
    assert Layer().outer() == 2
    outer, inner = tracer.spans
    assert (outer["name"], inner["name"]) == ("layer.outer", "layer.inner")
    assert inner["parent"] == outer["id"] and inner["op"] == 7
    table = tracer.self_time_table()
    assert table["layer.outer"]["self_s"] <= table["layer.outer"]["total_s"]
    tracer.uninstall()
    assert Layer.outer.__name__ == "outer" and not hasattr(Layer.outer, "__wrapped__")


# -- dca_pipeline gate -------------------------------------------------------
def _dca_truth():
    exchange = dca.SeededExchange(seed=5)
    config = dca.make_config(seed=5)
    for day in range(3):
        exchange.day = day
        for order in config["orders"]:
            if order["enabled"]:
                exchange.make_order(order)
    rows = []
    for txid in exchange.fills:
        c = exchange.process_transaction(txid)[0]
        rows.append((txid, int(c.close_time), c.pair, float(c.volume),
                     float(c.price), float(c.fee)))
    return rows, dca.expected_table(exchange.fills)


def test_dca_gate_accepts_the_ground_truth():
    rows, truth = _dca_truth()
    assert len(rows) == 3 * dca.N_ENABLED
    dca.check_table(rows, truth, queue_size=0)


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[1:],  # a lost row
    lambda rows: rows + rows[:1],  # a duplicated key
    lambda rows: [rows[0][:4] + (rows[0][4] + 0.01,) + rows[0][5:]] + rows[1:],  # price
    lambda rows: [rows[0][:5] + (rows[0][5] + 0.01,)] + rows[1:],  # fee
    lambda rows: [(rows[0][0], rows[0][1] + 1) + rows[0][2:]] + rows[1:],  # close_time
])
def test_dca_gate_rejects_a_corrupted_table(corrupt):
    rows, truth = _dca_truth()
    with pytest.raises(GateError):
        dca.check_table(corrupt(list(rows)), truth, queue_size=0)


def test_dca_gate_rejects_an_undrained_queue():
    rows, truth = _dca_truth()
    with pytest.raises(GateError, match="queue"):
        dca.check_table(rows, truth, queue_size=2)


# -- lake_sql gate -----------------------------------------------------------
@pytest.fixture(scope="module")
def replayed(tmp_path_factory):
    """A replay of one INSERT, one DELETE and one upsert MERGE."""
    import random

    path = str(tmp_path_factory.mktemp("lake") / "lineitem.parquet")
    flags = lake.write_lineitem(path, seed=3)
    replay = lake.Replay(path)
    before = {r[:2]: r for r in replay.rows()}
    rng = random.Random(0)
    inserted = [lake._row(rng, lake.N_ORDERS, i + 1, 1) for i in range(3)]
    replay.record("sql", f"INSERT INTO {lake.TABLE} VALUES " + ", ".join(
        "(" + ", ".join(lake._literal(v) for v in r) + ")" for r in inserted))
    replay.record("sql", f"DELETE FROM {lake.TABLE} WHERE l_orderkey BETWEEN 10 AND 12")
    merged = [lake._row(rng, 20, 1, 99, flags[20]), lake._row(rng, lake.N_ORDERS + 1, 1, 99)]
    replay.record("merge_upsert", merged)
    replay.apply()
    return before, inserted, merged, replay.rows()


def test_lake_replay_applies_the_stream(replayed):
    before, inserted, merged, after = replayed
    by_key = {r[:2]: r for r in after}
    assert all(by_key[r[:2]] == r for r in inserted + merged)
    assert not any(k[0] in (10, 11, 12) for k in by_key)
    deleted = sum(1 for k in before if k[0] in (10, 11, 12))
    assert len(after) == len(before) + len(inserted) - deleted + 1


def test_lake_gate_accepts_an_equal_table(replayed):
    after = replayed[3]
    lake.check_rows(list(reversed(after)), after)


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[1:],
    lambda rows: rows + rows[:1],
    lambda rows: [rows[0][:4] + (rows[0][4] + 1.0,) + rows[0][5:]] + rows[1:],
    lambda rows: [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:],
])
def test_lake_gate_rejects_a_corrupted_table(replayed, corrupt):
    after = replayed[3]
    with pytest.raises(GateError):
        lake.check_rows(corrupt(list(after)), after)
