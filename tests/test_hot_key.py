"""Hot key (SURVEY §7.2.4): a single Zipf-hot key whose partial updates
span many Arrow batches. The sorted kernel carries the key across batch
boundaries as its last write per cell (plus its last row and leading
reset); the result must be bit-identical to the pure-SQL kernel, and the
carry must stay bounded by the key's distinct cells."""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
from pyspark.sql import Row

from mysql_time_machine_spark.operators import reassemble
from mysql_time_machine_spark.operators.reassemble import (
    collapse_events_sorted,
    collapse_events_sql,
)
from mysql_time_machine_spark.schema import EVENT_SCHEMA

TS0 = dt.datetime(2024, 1, 1)
CELLS = ["commit", "lang", "content"]
ARROW_RECORDS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _hot_events(spark, n_hot=3000, n_cold=40):
    """One pathologically hot key (n_hot partial updates, with a mid-stream
    re-insert so full_image survival through the partial stage is
    exercised) + n_cold ordinary keys."""
    rows = []

    def ev(repo, path, op, after, g):
        rows.append(
            Row(
                log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g,
                txn_id=g, seq_in_txn=0, server_id=1,
                ts=TS0 + dt.timedelta(seconds=g), op=op, schema_version=1,
                repo=repo, path=path, before=None, after=after, ddl=None,
            )
        )

    g = 0
    for i in range(n_cold):
        g += 1
        ev("org1", f"cold{i}", "I", {c: f"{c}-init-{i}" for c in CELLS}, g)
    ev("hot", "file", "I", {c: f"{c}-snap" for c in CELLS}, 1000)
    for i in range(n_hot):
        g = 2000 + i
        if i == n_hot // 2:
            # mid-stream reset: everything before is dead; full_image must
            # still come out true even though later updates overwrite all
            # of the reset's cells within some sub-salt slices
            ev("hot", "file", "I", {c: f"{c}-reset" for c in CELLS}, g)
        else:
            ev("hot", "file", "U", {CELLS[i % 3]: f"v{i}"}, g)
        if i % 97 == 0:
            ev("org1", f"cold{i % n_cold}", "U", {"lang": f"touch{i}"}, 100000 + i)
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def _canon(df):
    pdf = df.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pdf["image"] = pdf["image"].map(lambda m: None if m is None else tuple(sorted(m.items())))
    return pdf[["repo", "path", "row_status", "image", "full_image", "gtid_seq"]]


def test_hot_key_sorted_matches_sql_across_arrow_batches(spark):
    """3-row Arrow batches split the hot key (and its mid-stream reset)
    across ~1000 batch boundaries of the sorted kernel's carry."""
    events = _hot_events(spark)
    before = spark.conf.get(ARROW_RECORDS)
    try:
        spark.conf.set(ARROW_RECORDS, "3")
        got = _canon(collapse_events_sorted(events, n_buckets=8))
    finally:
        spark.conf.set(ARROW_RECORDS, before)
    sql = _canon(collapse_events_sql(events))
    pd.testing.assert_frame_equal(got, sql, check_dtype=False)
    hot = got[got["repo"] == "hot"].iloc[0]
    assert hot["full_image"] and hot["row_status"] == "U"


def _flat_stream(rng: random.Random, n_events: int) -> pd.DataFrame:
    """One key's live flat events as the sorted kernel receives them: an
    optional leading reset (I with cells, I with an empty map, or D), then
    partial updates with random (possibly empty) cell sets and NULL
    values. One row per (event, cell); a cell-less event is one row with
    a NULL cell, as explode_outer emits it."""
    cells = [f"c{i}" for i in range(rng.randint(1, 6))]
    rows = []

    def event(g, op, after):
        base = dict(
            repo="r", path="p", op=op, ts=pd.Timestamp(TS0) + pd.Timedelta(seconds=g),
            schema_version=1, gtid_seq=g, log_file="binlog.000001", log_pos=g, seq_in_txn=0,
        )
        for cell, value in (after or {None: None}).items():
            rows.append(dict(base, cell=cell, value=value))

    lead = rng.choice(["I", "I_empty", "D", None])
    if lead == "I":
        event(0, "I", {c: f"i-{c}" for c in cells})
    elif lead == "I_empty":
        event(0, "I", {})
    elif lead == "D":
        event(0, "D", None)
    for g in range(1, n_events):
        picked = rng.sample(cells, rng.randint(0, len(cells)))
        event(g, "U", {c: (None if rng.random() < 0.2 else f"v{g}-{c}") for c in picked})
    return pd.DataFrame(rows)


def test_sorted_carry_bounded_and_exact(monkeypatch):
    """Driver-only: the streaming generator over random batch splits equals
    one collapse of the whole input, and after every batch the carry holds
    at most (distinct cells so far + 2) rows — the bound that keeps a hot
    key linear (a carry of every row would grow with the event count)."""
    sizes = []
    real_fold = reassemble._fold_carry

    def spy(tail):
        out = real_fold(tail)
        sizes.append((len(out), tail["cell"].nunique()))
        return out

    monkeypatch.setattr(reassemble, "_fold_carry", spy)
    rng = random.Random(7)
    for _ in range(200):
        flat = _flat_stream(rng, rng.randint(1, 80))
        cuts = [0]
        while cuts[-1] < len(flat):
            cuts.append(cuts[-1] + rng.randint(1, 60))
        batches = [flat.iloc[a:b].reset_index(drop=True) for a, b in zip(cuts, cuts[1:])]
        sizes.clear()
        got = pd.concat(list(reassemble._collapse_sorted_batches(iter(batches))))
        want = reassemble._collapse_sorted_flat(flat)
        assert got.to_dict("records") == want.to_dict("records")
        assert len(sizes) == len(batches)
        assert all(n <= cells + 2 for n, cells in sizes), sizes
