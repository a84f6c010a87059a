"""Property-based kernel equivalence: for ARBITRARY small event streams
(random ops, random partial cell sets, random interleavings), the collapse
kernels agree with each other and with a trivial Python fold. The sorted
kernel runs at 3-row Arrow batches, so keys straddle batch boundaries and
its carry is exercised.

Derandomized (fixed example corpus per run) and example-capped so the
suite stays bounded; the per-example Spark round-trip is the cost."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from mysql_time_machine_spark.operators.reassemble import (
    collapse_events_sorted,
    collapse_events_sql,
)
from mysql_time_machine_spark.schema import EVENT_SCHEMA

KEYS = [("o", "k1"), ("o", "k2"), ("p", "k1")]
CELLS = ["c1", "c2", "c3"]

event_st = st.tuples(
    st.integers(0, len(KEYS) - 1),                      # key
    st.sampled_from(["I", "U", "D"]),                   # op
    st.lists(st.sampled_from(CELLS), min_size=0, max_size=3, unique=True),
    st.booleans(),                                       # null-valued cell?
)
stream_st = st.lists(event_st, min_size=1, max_size=24)

ARROW_RECORDS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _py_fold(events):
    """Trivial reference fold in plain Python."""
    state: dict = {}
    for g, (k, op, cells, _) in enumerate(events):
        key = KEYS[k]
        image = {c: (None if _ and c == cells[0] else f"v{g}") for c in cells}
        cur = state.get(key)
        if op == "D":
            state[key] = ("D", None, True)
        elif op == "I":
            state[key] = ("I", dict(image), True)
        else:
            if cur is None or cur[0] == "D" or cur[1] is None:
                prev, reset = {}, (cur is not None and cur[2])
            else:
                prev, reset = dict(cur[1]), cur[2]
            prev.update(image)
            state[key] = ("U", prev, reset)
    out = {}
    for key, (op, img, _reset) in state.items():
        out[key] = (op, None if op == "D" else img)
    return out


def _rows(events):
    rows = []
    for g, (k, op, cells, nullv) in enumerate(events):
        repo, path = KEYS[k]
        after = None
        if op != "D":
            after = {c: (None if nullv and c == cells[0] else f"v{g}") for c in cells}
        rows.append(Row(
            log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g,
            txn_id=g, seq_in_txn=0, server_id=1,
            ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=g),
            op=op, schema_version=1, repo=repo, path=path,
            before=None, after=after, ddl=None,
        ))
    return rows


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stream_st)
def test_kernels_agree_on_arbitrary_streams(_spark, events):
    df = _spark.createDataFrame(_rows(events), EVENT_SCHEMA)
    expected = _py_fold(events)

    def run(collapsed):
        got = {}
        for r in collapsed.collect():
            img = None if r["image"] is None else dict(r["image"])
            got[(r["repo"], r["path"])] = (r["row_status"], img, r["full_image"], r["gtid_seq"])
        return got

    before = _spark.conf.get(ARROW_RECORDS)
    try:
        _spark.conf.set(ARROW_RECORDS, "3")
        # one bucket, so every key's events share a partition and a key
        # with more than 3 flat rows straddles an Arrow batch boundary
        sorted_ = run(collapse_events_sorted(df, n_buckets=1))
    finally:
        _spark.conf.set(ARROW_RECORDS, before)
    sql = run(collapse_events_sql(df))
    assert sorted_ == sql == run(collapse_events_sql(df, join_prefilter=True))
    for key, (op, img) in expected.items():
        got_op, got_img, _fi, _g = sorted_[key]
        assert got_op == op, (key, events)
        assert got_img == img, (key, events)
