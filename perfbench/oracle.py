"""Independent DuckDB oracles and the per-vertex comparison rules.

The expected outputs come from the registry's own ANSI-SQL twins,
``__spark_entry__.oracle_sql()[name]``, run verbatim over the same
events parquet the program reads. Results are cached per (input digest,
SQL digest), so a seed pays each oracle once.

Rules: PageRank per vertex within 1e-6, i.e. within 1 of the oracle's
``score_ppm``; CC labels, LP labels and TC counts exact.
"""

from __future__ import annotations

import hashlib
import json
import os

ORACLES = {
    # name in oracle_sql() -> (key column, value column)
    "pagerank": ("skey", "score_ppm"),
    "connected_components": ("skey", "component"),
    "label_propagation": ("skey", "lp_label"),
    "triangle_count": ("skey", "tc"),
}


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def expected(sf_dir: str, cache_dir: str, threads: int) -> dict[str, dict]:
    """{oracle name: {skey: value}} for the events table in ``sf_dir``."""
    from __spark_entry__ import oracle_sql

    events = os.path.join(sf_dir, "events.parquet")
    in_digest = file_digest(events)
    sql = oracle_sql()
    out, con = {}, None
    os.makedirs(os.path.join(cache_dir, "oracle"), exist_ok=True)
    for name, (kcol, vcol) in ORACLES.items():
        q_digest = hashlib.sha256(sql[name].encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, "oracle", f"{in_digest}-{name}-{q_digest}.json")
        if os.path.exists(path):
            with open(path) as fh:
                out[name] = json.load(fh)
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            con.execute(f"SET threads = {int(threads)}")
            con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'duckdb_tmp')}'")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        rows = con.execute(f"SELECT {kcol}, {vcol} FROM ({sql[name]})").fetchall()
        out[name] = {k: v for k, v in rows}
        with open(path + ".tmp", "w") as fh:
            json.dump(out[name], fh)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def mismatches(name: str, got: dict, want: dict) -> list[str]:
    """Human-readable differences between a program output and its
    oracle, both {skey: value}; empty when they agree."""
    bad = []
    for k in sorted(set(want) - set(got))[:3]:
        bad.append(f"{name}: vertex {k} missing from the output")
    for k in sorted(set(got) - set(want))[:3]:
        bad.append(f"{name}: unexpected vertex {k}")
    tol = 1 if name == "pagerank" else 0
    diff = [k for k in want if k in got and abs(got[k] - want[k]) > tol] if tol else \
        [k for k in want if k in got and got[k] != want[k]]
    for k in sorted(diff)[:3]:
        bad.append(f"{name}: vertex {k}: got {got[k]!r}, oracle {want[k]!r}")
    if len(diff) > 3:
        bad.append(f"{name}: {len(diff)} vertices differ in total")
    return bad
