"""Tests of the benchmark's own arithmetic, generator and oracle gate.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gate  # noqa: E402
import gen  # noqa: E402
from measure import Span, Tracer, parse_metric, self_time, tail  # noqa: E402
from run import _calm  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10) is None
    t = tail([float(i) for i in range(11)])
    assert t["value"] == 0.0 and t["n"] == 11
    assert math.isclose(t["percentile"], 100 / 11)
    t = tail([float(i) for i in range(100, 0, -1)])  # order must not matter
    assert t["value"] == 90.0 and t["percentile"] == 90.0
    assert sum(1 for v in range(1, 101) if v > t["value"]) == 10


def test_self_time_subtracts_union_of_children():
    parent = Span(0, "p", 0.0, 10.0, None, 0)
    kids = [
        Span(1, "c", 1.0, 3.0, 0, 0),
        Span(2, "c", 2.0, 5.0, 0, 0),  # overlaps the first: counted once
        Span(3, "c", 8.0, 12.0, 0, 0),  # runs past the parent: clipped
        Span(4, "c", 20.0, 21.0, 0, 0),  # outside the parent
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 2)
    assert self_time(parent, []) == pytest.approx(10)


def test_tracer_self_times_by_name():
    tr = Tracer(True)
    with tr.span("op", op=0) as op:
        with tr.span("action", op=0) as a:
            pass
    a.start, a.end = 1.0, 5.0
    op.start, op.end = 0.0, 6.0
    tr.add("job", 2.0, 4.0, a, 0)
    selfs = tr.self_times()
    assert selfs["op"] == pytest.approx(2.0)
    assert selfs["action"] == pytest.approx(2.0)
    assert selfs["job"] == pytest.approx(2.0)
    off = Tracer(False)
    with off.span("op") as s:
        pass
    assert off.spans == [] and s.end >= s.start


def test_calm_keeps_the_units_with_the_least_stolen_time():
    units = [(1.0, 0.0), (1.5, 0.06), (1.1, 0.01), (1.4, 0.05)]
    assert _calm(units, 1) == [(1.0, 0.0), (1.1, 0.01)]
    assert _calm([(1.0, 0.0), (1.2, 0.0), (1.5, 0.06)], 1) == [(1.0, 0.0), (1.2, 0.0)]
    assert _calm([], 1) == []


def test_parse_metric_units():
    assert parse_metric("1,234") == 1234
    assert parse_metric("12.0 MiB") == 12 * 2**20
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.5 s (1 s, 1 s, 1.5 s (stage 0.0: task 3))") == 3.5
    assert parse_metric("250 ms") == pytest.approx(0.25)


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info = gen.generate(3, a)
    gen.generate(3, b)
    gen.generate(4, c)
    same = _files(a)
    assert same == _files(b)
    assert all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in same)
    assert os.stat(os.path.join(a, "stream", "batch-000.parquet")).st_mtime < os.stat(
        os.path.join(a, "stream", "batch-001.parquet")
    ).st_mtime
    assert gen.search_words(3) == gen.search_words(3) != gen.search_words(4)
    assert not filecmp.cmp(os.path.join(a, "documents.parquet"), os.path.join(c, "documents.parquet"), shallow=False)
    split = lambda d: [os.path.getsize(os.path.join(d, f)) for f in _files(d) if "lineitem" in f]  # noqa: E731
    assert split(a) != split(c)
    assert info["tables"]["documents"]["rows"] == gen.N_DOCS
    assert all(t["bytes"] > 0 for t in info["tables"].values())


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("data") / "d")
    gen.generate(5, d)
    c = gate.connect(d)
    yield c
    c.close()


def test_generated_inputs_have_the_promised_skew(con):
    big = con.execute("SELECT max(c) FROM (SELECT count(*) c FROM documents GROUP BY text)").fetchone()[0]
    assert big >= gen.BIG_DUP_GROUP > 256
    same = con.execute(
        "SELECT max(c) FROM (SELECT count(*) c FROM embeddings GROUP BY embedding::VARCHAR)"
    ).fetchone()[0]
    assert same >= gen.SAME_VEC_GROUP


SQL = "SELECT p_name AS name, COUNT(*) AS cnt FROM part WHERE instr(p_name, 'wid') > 0 GROUP BY p_name"


def test_gate_accepts_the_oracle_and_rejects_a_misaliased_column(con):
    want = gate.oracle(con, SQL)
    res = con.execute(SQL + " ORDER BY cnt DESC")  # row order does not matter
    assert gate.mismatch([d[0] for d in res.description], res.fetchall(), want) is None
    res = con.execute(SQL.replace("AS cnt", "AS count"))
    reason = gate.mismatch([d[0] for d in res.description], res.fetchall(), want)
    assert reason is not None and "columns" in reason


def test_gate_rejects_wrong_counts_and_values(con):
    want = gate.oracle(con, SQL)
    cols = ["name", "cnt"]
    rows = con.execute(SQL).fetchall()
    assert "rows" in gate.mismatch(cols, rows[:-1], want)
    bumped = [(n, c + 1) for n, c in rows]
    assert "differing" in gate.mismatch(cols, bumped, want)


def test_gate_reads_nan_as_null():
    want = (["x"], gate.canon(["x"], [(None,), (1.5,)]))
    assert gate.mismatch(["x"], [(float("nan"),), (1.5,)], want) is None
