"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, probes, replay, sparkstats
from perfbench.trace import NullTracer, Tracer, self_times, subtree_self_sum

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_is_duration_minus_children():
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with tr.span("root"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.1"):
                clock.t = 3.5
        clock.t = 4.0
        with tr.span("b"):
            clock.t = 6.0
        clock.t = 10.0
    st = tr.self_times()
    assert st == {0: 10.0 - 2.0 - 2.5, 1: 2.5 - 0.5, 2: 0.5, 3: 2.0}
    assert subtree_self_sum(tr.spans, 0) == pytest.approx(10.0)
    assert tr.by_name()["a"]["self_s"] == pytest.approx(2.0)
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert {s["run_id"] for s in tr.spans} == {"r"}


def test_self_time_counts_overlapping_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 6.0},
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.span("x", n=1) as c:
        c["m"] = 2
    assert tr.spans == []


def _stage(sid, status="COMPLETE", tasks=4, run_ms=1500, rd=10, wr=20, spill=0):
    return {"stage_id": sid, "status": status, "tasks": tasks, "run_ms": run_ms,
            "shuffle_read_bytes": rd, "shuffle_write_bytes": wr, "spill_bytes": spill}


def test_status_store_aggregation():
    rows = [_stage(1), _stage(2, tasks=1, run_ms=500, spill=7),
            _stage(1),  # shared by a second job: counted once
            _stage(3, status="SKIPPED", tasks=4, run_ms=0)]
    out = sparkstats.aggregate(2, rows)
    assert out == {"jobs": 2, "stages": 2, "skipped_stages": 1, "tasks": 5, "busy_s": 2.0,
                   "shuffle_read_bytes": 20, "shuffle_write_bytes": 40, "spill_bytes": 7}
    total = sparkstats.add({}, out)
    sparkstats.add(total, out)
    assert total["tasks"] == 10 and total["busy_s"] == 4.0


def test_wide_generator_is_deterministic_per_seed():
    a = gen.wide_docs(7, 2, 40, 30)
    b = gen.wide_docs(7, 2, 40, 30)
    pd.testing.assert_frame_equal(a, b)
    other_batch = gen.wide_docs(7, 3, 40, 30)
    other_seed = gen.wide_docs(8, 2, 40, 30)

    def words(df):
        return {w for spans in df["spans"] for s in spans if s["kind"] == "text"
                for w in s["text"].split("\t", 1)[1].split()}

    # fresh vocabulary per batch and per seed: almost nothing is shared
    assert len(words(a) & words(other_batch)) < 0.05 * len(words(a))
    assert len(words(a) & words(other_seed)) < 0.05 * len(words(a))
    assert a["doc_id"].is_unique


def test_entity_variants_are_close_spellings():
    rng = np.random.default_rng(3)
    surfaces = gen.entity_surfaces(rng, 200)
    base, variants = surfaces[:200], surfaces[200:]
    assert 60 < len(variants) < 140
    assert all(6 <= len(b) <= 12 for b in base)
    by_len = {}
    for b in base:
        by_len.setdefault(len(b), []).append(b)
    for v in variants:
        assert any(sum(x != y for x, y in zip(v, b)) == 1 for b in by_len[len(v)])


def test_registry_tables_are_deterministic_and_complete():
    from deepref_spark.schemas import TESTDATA_TABLES

    a = gen.registry_tables(0.05, 11)
    b = gen.registry_tables(0.05, 11)
    assert sorted(a) == sorted(TESTDATA_TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows > 0
    docs = a["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()


class FakeConf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, k, default=None):
        return self.values.get(k, default)

    def set(self, k, v):
        self.values[k] = v

    def unset(self, k):
        self.values.pop(k, None)


def test_caps_are_reset_after_the_capsoff_pass():
    keys = ["deepref.a.driver_max_edges", "deepref.broadcast.max_entities"]
    conf = FakeConf({"deepref.a.driver_max_edges": "17", "other": "x"})
    with probes.caps_off(conf, keys):
        assert all(conf.get(k) == "0" for k in keys)
    assert conf.values == {"deepref.a.driver_max_edges": "17", "other": "x"}
    with pytest.raises(RuntimeError):
        with probes.caps_off(conf, keys):
            raise RuntimeError("query failed")
    assert conf.values == {"deepref.a.driver_max_edges": "17", "other": "x"}


def test_cap_keys_found_in_the_program():
    keys = probes.cap_keys(os.path.join(ROOT, "deepref_spark"))
    assert "deepref.broadcast.max_entities" in keys
    assert "deepref.cc.driver_max_edges" in keys
    assert all(k == "deepref.broadcast.max_entities" or ".driver_max_" in k for k in keys)


def test_replay_parity_detects_drops_and_changes():
    class Row(dict):
        def asDict(self):
            return dict(self)

    rep = pd.DataFrame({"sent_id": ["a", "b"], "h_name": ["x", "y"], "t_name": ["u", "v"],
                        "pred_id": [1, 2], "score": [0.5, 0.25]})
    rows = [Row(sent_id=s, h_name=h, t_name=t, pred_id=p, score=c)
            for s, h, t, p, c in rep.itertuples(index=False)]
    assert replay.parity(rep, rows[::-1])[0]
    assert not replay.parity(rep, rows[:1])[0]
    changed = [rows[0], Row({**rows[1], "pred_id": 3})]
    assert not replay.parity(rep, changed)[0]


def test_forward_macs_from_weight_shapes():
    w = {"w_lin": np.zeros((128, 128)), "w_fc": np.zeros((128, 6))}
    assert replay.forward_macs(w, 10) == 10 * (128 * 128 + 128 * 6)


def test_tree_memory_and_size_helpers(tmp_path):
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "f").write_bytes(b"x" * 10)
    (tmp_path / "g").write_bytes(b"y" * 5)
    assert probes.tree_bytes_files(str(tmp_path)) == (15, 2)
    assert probes.vm_hwm_kb(os.getpid()) > 0
    assert os.getpid() in probes.descendants(os.getppid())


def test_open_span_counts_until_now():
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with tr.span("root"):
        with tr.span("child"):
            clock.t = 2.0
        clock.t = 5.0
        assert tr.self_times() == {0: 3.0, 1: 2.0}
        assert tr.by_name()["root"]["total_s"] == 5.0


def test_benchmark_json_names_what_the_runner_reports():
    import json

    from perfbench.run import END_TO_END, HIGHER_IS_BETTER, per_layer_units
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    units = per_layer_units()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
    for m in bench["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER else "lower")
