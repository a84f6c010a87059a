"""Golden-state replay — the core oracle (SURVEY.md §5.2.1).

Engine replay (both the sorted mapInPandas path and the pure-Catalyst path)
must equal the independent pandas fold, per-row, including
sha256(content) — the BASELINE.json invariant.
"""

from __future__ import annotations

import pandas as pd
import pytest

from fixtures.gen_binlog import events_df, generate_rich
from fixtures.oracle import replay_expected
from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.functions import content_sha256
from mysql_time_machine_spark.plans.replay import replay_batch


def _final_columns(log):
    return [c[0] for c in log.registry[-1]["columns"]]


def _run(spark, log, impl):
    ev = events_df(log, spark)
    cols = [tuple(c) for c in log.registry[-1]["columns"]]
    got = (
        replay_batch(ev, cols, EngineConfig(), impl=impl)
        .withColumn("content_sha256", content_sha256())
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    return got


@pytest.mark.parametrize("impl", ["sorted", "sql"])
def test_replay_matches_oracle(spark, rich_log, impl):
    got = _run(spark, rich_log, impl)
    exp = replay_expected(rich_log.events, _final_columns(rich_log))
    check_cols = ["repo", "path", "content_sha256", "row_status", "gtid_seq"] + _final_columns(rich_log)
    pd.testing.assert_frame_equal(
        got[check_cols].astype(object).where(got[check_cols].notna(), None),
        exp[check_cols].astype(object).where(exp[check_cols].notna(), None),
        check_dtype=False,
    )


def test_pandas_and_sql_paths_agree(spark, rich_log):
    a = _run(spark, rich_log, "pandas")
    b = _run(spark, rich_log, "sql")
    cols = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[cols].astype(object).where(a[cols].notna(), None),
        b[cols].astype(object).where(b[cols].notna(), None),
        check_dtype=False,
    )


def test_parallelism_invariance(spark, rich_log):
    """SURVEY §5.2.5: final state identical under different partitioning.

    Per-(repo,path) order is the only order that matters (W1) — rerun the
    same replay at a different bucket count / shuffle layout.
    """
    ev = events_df(rich_log, spark).repartition(17)  # scramble placement
    cols = [tuple(c) for c in rich_log.registry[-1]["columns"]]
    got = (
        replay_batch(ev, cols, EngineConfig(shuffle_partitions=3), impl="pandas")
        .withColumn("content_sha256", content_sha256())
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = replay_expected(rich_log.events, _final_columns(rich_log))
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()


@pytest.mark.parametrize("seed", [3, 123, 777])
def test_replay_matches_oracle_more_seeds(spark, seed):
    """Property-style sweep: different churn shapes (seeded), same invariant."""
    log = generate_rich(seed=seed, n_keys=30, n_txns=120)
    got = _run(spark, log, "pandas")
    exp = replay_expected(log.events, _final_columns(log))
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()
    assert got["row_status"].tolist() == exp["row_status"].tolist()


def test_full_post_image_mode_agrees(spark):
    """Full-image updates (the SQL-expressible mode's contract)."""
    log = generate_rich(seed=7, partial_updates=False, n_txns=150)
    a = _run(spark, log, "pandas")
    exp = replay_expected(log.events, _final_columns(log))
    assert a["content_sha256"].tolist() == exp["content_sha256"].tolist()


def test_table_regex_filter(spark, rich_log):
    """F1 (CHANGES.txt:41-42): only matching repos replicated."""
    ev = events_df(rich_log, spark)
    cols = [tuple(c) for c in rich_log.registry[-1]["columns"]]
    got = replay_batch(ev, cols, EngineConfig(table_regex="^org1/.*"), impl="pandas").toPandas()
    assert len(got) > 0
    assert got["repo"].str.startswith("org1/").all()


def test_typed_stream_kernel_parity_and_resurrection(spark):
    """sql_mode_events_typed: all three kernels agree on the typed final
    state, and a deleted-then-partially-updated key resurrects with the
    snapshot-only cells (lang_enum / note / content) NULL — the decode of a
    MISSING typed cell must be NULL, not a default (the ElementAt NULL-
    ordinal regression surfaced exactly here)."""
    from fixtures.gen_binlog import TYPED_COLUMNS, sql_mode_events_typed
    from pyspark.sql import functions as F

    ev = sql_mode_events_typed(spark, "/root/testdata/sf0.001").persist()
    outs = {}
    for impl in ("pandas", "sorted", "sql"):
        outs[impl] = (
            replay_batch(ev, list(TYPED_COLUMNS), EngineConfig(), impl=impl)
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )
    ev.unpersist()
    cols = sorted(outs["sql"].columns)
    for impl in ("pandas", "sorted"):
        pd.testing.assert_frame_equal(
            outs[impl][cols].astype(object).where(outs[impl][cols].notna(), None),
            outs["sql"][cols].astype(object).where(outs["sql"][cols].notna(), None),
            check_dtype=False,
        )
    out = outs["sql"]
    # resurrected keys exist (commit from a churn U, snapshot cells dead)
    res = out[(out["content"].isna()) & (out["commit"].notna())]
    assert len(res) > 0, "fixture lost its delete-resurrection coverage"
    assert res["lang_enum"].isna().all()
    assert res["note"].isna().all()
    # and never-deleted keys carry DECODED typed snapshot cells
    alive = out[out["content"].notna()]
    assert alive["lang_enum"].dropna().isin(["python", "java", "scala", "go", "other"]).all()
    assert alive["note"].dropna().str.startswith("é").all()
    assert alive["dur"].dropna().str.match(r"^-?\d{2,}:\d{2}:\d{2}\.\d{6}$").all()
