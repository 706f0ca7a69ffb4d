"""The event-time state machines of streaming/events.py without Spark: the
first-seen gates' state function and the near-dup bucket probe, driven
through every branch with a fake GroupState, plus an AST pin that the
arming rule and the first-seen operator each have one definition."""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd

from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming import events as SE

EVENTS = Path(SE.__file__)
RET = 1000  # retention_ms


class FakeState:
    """The GroupState calls the operators make, recorded."""

    def __init__(self, value=None, timed_out=False):
        self.value = None if value is None else tuple(value)
        self.hasTimedOut = timed_out
        self.timeout = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def _ms(ms):
    return pd.Timestamp(ms, unit="ms")


def _chunk(*rows):
    return pd.DataFrame([{"k": "a", "id": i, "ts": _ms(t)} for i, t in rows])


def _first_seen_fn(state):
    def admit(key, rows):
        # the state is armed before anything is emitted
        assert state.exists and state.timeout is not None
        first = rows.sort_values(["ts", "id"]).iloc[0]
        return {"key": key[0], "first_id": int(first["id"]), "n": len(rows)}

    return SE._first_seen_state("ts", RET, admit)


def test_first_seen_first_delivery_admits_once_over_all_chunks():
    st = FakeState()
    (out,) = _first_seen_fn(st)(("a",), iter([_chunk((7, 5000)), _chunk((3, 4000), (9, 6000))]), st)
    assert out.to_dict("records") == [{"key": "a", "first_id": 3, "n": 3}]
    assert st.value == (6000,) and st.timeout == 6000 + RET


def test_first_seen_redelivery_never_moves_eviction_earlier():
    st = FakeState(value=(6000,))
    fn = _first_seen_fn(st)
    # a later call carrying OLDER events: nothing emitted, basis kept
    assert list(fn(("a",), iter([_chunk((1, 2000))]), st)) == []
    assert st.value == (6000,) and st.timeout == 6000 + RET
    # newer events extend retention
    assert list(fn(("a",), iter([_chunk((2, 8000)), _chunk((4, 7000))]), st)) == []
    assert st.value == (8000,) and st.timeout == 8000 + RET


def test_first_seen_timeout_removes_state_and_emits_nothing():
    st = FakeState(value=(6000,), timed_out=True)
    assert list(_first_seen_fn(st)(("a",), iter([]), st)) == []
    assert not st.exists and st.timeout is None


def _bucket(*rows):
    return pd.DataFrame([{"event_id": i, "ts": _ms(t)} for i, t in rows])


def test_near_dup_probe_arms_by_the_gates_rule():
    probe = SE._bucket_probe(max_ids_per_bucket=2, retention_ms=RET)
    st = FakeState()
    (out,) = probe((0, 11), iter([_bucket((1, 5000), (2, 6000))]), st)
    assert out[["doc_id", "candidate_id"]].values.tolist() == [[2, 1]]
    assert st.value == ([1, 2], 6000) and st.timeout == 6000 + RET
    # a late delivery still inside the watermark: pairs with the held
    # ids, the full id list stays bounded, eviction does not move earlier
    (out,) = probe((0, 11), iter([_bucket((3, 3000))]), st)
    assert sorted(out["candidate_id"]) == [1, 2]
    assert st.value == ([1, 2], 6000) and st.timeout == 6000 + RET
    st.hasTimedOut = True
    assert list(probe((0, 11), iter([]), st)) == []
    assert not st.exists


def _calls(tree):
    """(enclosing top-level function, called attribute or name) pairs."""
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    f = node.func
                    yield fn.name, f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_one_first_seen_operator_and_one_arming_rule():
    calls = list(_calls(ast.parse(EVENTS.read_text())))
    stateful = sorted(fn for fn, name in calls if name == "applyInPandasWithState")
    assert stateful == ["_first_seen", "streaming_near_dup_candidates", "streaming_sequence_pack"]
    assert [fn for fn, name in calls if name == "setTimeoutTimestamp"] == ["_arm"]
    assert sorted(fn for fn, name in calls if name == "_arm") == ["_bucket_probe", "_first_seen_state"]
    gates = ["streaming_chunk_first_seen", "streaming_first_seen", "streaming_semantic_ingest"]
    assert sorted(fn for fn, name in calls if name == "_first_seen") == gates
