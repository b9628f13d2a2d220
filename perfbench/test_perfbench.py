"""Cheap self-tests of the benchmark's own code (no Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import Tracer, self_time  # noqa: E402

TINY = {"n_users": 7, "n_rounds": 30}


def test_generator_is_deterministic_and_cached(tmp_path):
    a = gen.events_table(7, **TINY)
    assert a.equals(gen.events_table(7, **TINY))
    assert not a.equals(gen.events_table(8, **TINY))
    d1, s1 = gen.ensure_events(str(tmp_path), 7, **TINY)
    mtime = os.path.getmtime(os.path.join(d1, "events.parquet"))
    d2, s2 = gen.ensure_events(str(tmp_path), 7, **TINY)
    assert (d1, s1) == (d2, s2)
    assert os.path.getmtime(os.path.join(d2, "events.parquet")) == mtime
    assert pq.read_table(os.path.join(d1, "events.parquet")).equals(a)


def test_shape_stats_match_the_oracle_edge_table(tmp_path):
    import duckdb

    from __spark_entry__ import oracle_sql

    sf_dir, shape = gen.ensure_events(str(tmp_path), 3, **TINY)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    m = con.execute(f"SELECT count(*) FROM ({oracle_sql()['edge_derivation']})").fetchone()[0]
    assert shape["m"] == m and shape["m_sym"] == 2 * m


def test_self_time_subtracts_the_union_of_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0}, {"start": 8.0, "end": 12.0}]
    # children cover [1, 5] and [8, 10] inside the span
    assert self_time(span, kids) == 4.0
    assert self_time(span, []) == 10.0


def test_tracer_nests_spans_and_records_parents():
    tr = Tracer("t", enabled=True)
    with tr.span("build") as outer:
        with tr.span("graph.keyed") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert tr.children(outer) == [inner]
    off = Tracer("t", enabled=False)
    with off.span("build") as rec:
        assert rec == {}
    assert off.spans == []


def test_oracle_check_catches_one_perturbed_label(tmp_path):
    sf_dir, _ = gen.ensure_events(str(tmp_path), 5, **TINY)
    want = oracle.expected(sf_dir, str(tmp_path), threads=1)
    got = dict(want["connected_components"])
    assert run.check_output("cc", got, want) == []
    victim = sorted(got)[-1]
    got[victim] = victim + "x"
    errors = run.check_output("cc", got, want)
    assert errors and victim in errors[0]
    line, code = run.verdict(errors, attempted=4, failed=1, metrics={}, units={})
    assert code != 0 and line["correct"] is False and line["failed"] / line["attempted"] > 0


def test_pagerank_check_allows_one_ppm():
    want = {"pagerank": {"a": 10, "b": 20}}
    assert run.check_output("pagerank", {"a": 10.9e-6, "b": 19.2e-6}, want) == []
    assert run.check_output("pagerank", {"a": 12e-6, "b": 20e-6}, want)
