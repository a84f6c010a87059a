"""Self-test of the benchmark. Run from the repository root:

    python3 -m pytest cdcbench/test_cdcbench.py -q -p no:cacheprovider

The first tests need no Spark: generator determinism, the DuckDB oracle
against the repository's sequential reference fold, and the oracle's
mismatch detection. The last ones run every workload end to end at a tiny
scale, check the reported metric names against BENCHMARK.json,
and check that the correctness gate fails on a wrong expected table.
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cdcbench import runner  # noqa: E402
from cdcbench.gen import generate  # noqa: E402
from cdcbench.oracle import Oracle  # noqa: E402
from cdcbench.workloads import WORKLOADS  # noqa: E402


def tiny(name: str):
    w = WORKLOADS[name]
    return dataclasses.replace(
        w,
        n_keys=300 + w.fat_keys,
        rows_per_file=min(w.rows_per_file, 200),
        warmup_files=min(w.warmup_files, 2),
        rows_per_s=400 if w.rows_per_s else 0,
        fat_content_len=min(w.fat_content_len, 2000),
        hot_content_len=min(w.hot_content_len, 500),
        file_interval_s=0.05 if w.file_interval_s else 0.0,
    )


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_seeded(name):
    a, b, c = (generate(tiny(name), s, 1.0) for s in (7, 7, 8))
    assert [f.data for f in a.timed] == [f.data for f in b.timed]
    assert [f.data for f in a.timed] != [f.data for f in c.timed]
    assert a.row_events == int(pc.sum(pc.is_in(a.events["op"], pa.array(["I", "U", "D"]))).as_py())


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_oracle_agrees_with_sequential_fold(name):
    from fixtures.oracle import replay_expected

    log = generate(tiny(name), 3, 1.0)
    expected = replay_expected(log.events.to_pandas(), log.final_columns)
    o = Oracle(log.events, log.final_columns)
    got = o.con.execute(o.expected_sql() + " ORDER BY repo, path").fetch_df()
    assert len(got) == len(expected)
    for c in ["repo", "path", *log.final_columns, "row_status", "gtid_seq"]:
        assert got[c].tolist() == expected[c].tolist(), c


def test_oracle_compare_flags_a_wrong_table():
    log = generate(tiny("backfill-cow"), 5, 1.0)
    o = Oracle(log.events, log.final_columns)
    right = o.con.execute(o.expected_sql()).arrow()
    assert not any(v for k, v in o.compare(right).items() if k not in ("n_expected", "n_got"))
    content = right["content"].to_pylist()
    content[0] = content[0] + "!"
    wrong = right.set_column(right.schema.get_field_index("content"), "content", pa.array(content))
    diff = o.compare(wrong)
    assert diff["sha256_mismatch"] == 1 and diff["cell_mismatch"] == 1
    diff = o.compare(right.slice(1))
    assert diff["missing_rows"] == 1


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cdcbench"))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(name, work_dir):
    res = runner.run(tiny(name), seed=1, seconds=1.0, trace=False, base_dir=work_dir)
    assert res["ops"].failed == 0, res["ops"].notes
    assert set(res["metrics"]) == {m["name"] for m in runner.BENCHMARK["end_to_end"]}
    assert all(v > 0 for v in res["metrics"].values())


def test_tiny_traced_run_reports_every_layer(work_dir):
    res = runner.run(tiny("tail-mor"), seed=2, seconds=1.0, trace=True, base_dir=work_dir)
    assert res["ops"].failed == 0, res["ops"].notes
    # trace.overhead is added by run.py, from an untraced run's epoch time
    assert set(res["layer"]) == set(runner.LAYER_NAMES) - {"trace.overhead"}


def test_gate_fails_on_a_wrong_expected_table(work_dir, monkeypatch):
    class WrongOracle(Oracle):
        def expected_sql(self, max_gtid=None):
            inner = super().expected_sql(max_gtid)
            return f"SELECT * REPLACE (content || 'x' AS content) FROM ({inner})"

    monkeypatch.setattr(runner, "Oracle", WrongOracle)
    res = runner.run(tiny("backfill-cow"), seed=1, seconds=1.0, trace=False, base_dir=work_dir)
    assert res["ops"].failed >= 1
    assert any("final table vs oracle" in n for n in res["ops"].notes)
