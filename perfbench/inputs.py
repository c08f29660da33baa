"""Seeded benchmark inputs derived from the bundled sf0.01 fixture.

The fixture in ``fixture/`` is a copy of the TPC-H-ish test tables (see
the repository's FIXTURES.md for schemas). For a seed, the generator:

1. drops a seeded tenth of the rows of every table except ``region`` and
   ``nation``;
2. drops every row whose foreign key lost its parent, repeating until
   nothing more falls, so primary keys stay unique and every foreign key
   resolves;
3. cuts the ETL arrival streams (``part`` by ``p_partkey``, ``events`` by
   ``event_id``, ``documents`` by ``doc_id``) into tick deltas: one large
   first delta, then smaller seeded uneven deltas, then an empty tick.
   Tick ``i``'s source directory holds every row that arrived up to and
   including delta ``i``.

The holes the drop leaves in ``p_partkey`` switch off the closed-form
heap-tree fast path (``operators.heaptree.contiguous_partkey_max`` returns
``None``), so graph keys price the generic tier.

Inputs are written once per seed under ``<work>/inputs/seed-<n>/`` with a
``manifest.json`` holding row counts, tick boundaries and delta sizes.
"""

from __future__ import annotations

import io
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
KEEP_WHOLE = ("region", "nation")
DROP_SHARE = 0.1
# lineitem has none: the fixture repeats (l_orderkey, l_linenumber) pairs
PRIMARY_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# (child table, child column, parent table, parent column); embeddings are
# aligned 1:1 with documents, so a vector whose document fell goes too.
FOREIGN_KEYS = (
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("embeddings", "vec_id", "documents", "doc_id"),
)
# the tables the ETL jobs read, each with the key it arrives by
ARRIVAL_KEYS = {"part": "p_partkey", "events": "event_id", "documents": "doc_id"}
FIRST_DELTA_SHARE = (0.55, 0.65)


class InputError(Exception):
    """The generated inputs broke one of their own invariants."""


def _drop_tenth(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    n = table.num_rows
    dropped = rng.choice(n, size=round(n * DROP_SHARE), replace=False)
    keep = np.ones(n, dtype=bool)
    keep[dropped] = False
    return table.filter(pa.array(keep))


def _cascade(tables: dict[str, pa.Table]) -> None:
    """Drop rows whose foreign key lost its parent until a fixed point."""
    changed = True
    while changed:
        changed = False
        for child, col, parent, pcol in FOREIGN_KEYS:
            ok = pc.is_in(tables[child][col], value_set=tables[parent][pcol])
            if not pc.all(ok).as_py():
                tables[child] = tables[child].filter(ok)
                changed = True


def check_integrity(tables: dict[str, pa.Table]) -> None:
    """Raise InputError unless every primary key is unique and every
    foreign key resolves."""
    for name, cols in PRIMARY_KEYS.items():
        t = tables[name]
        n_unique = t.group_by(list(cols)).aggregate([]).num_rows
        if n_unique != t.num_rows:
            raise InputError(f"{name}: primary key {cols} is not unique")
    for child, col, parent, pcol in FOREIGN_KEYS:
        ok = pc.is_in(tables[child][col], value_set=tables[parent][pcol])
        if not pc.all(ok).as_py():
            raise InputError(f"{child}.{col} has values missing from {parent}.{pcol}")


def _tick_boundaries(keys: np.ndarray, n_deltas: int, rng) -> list[int]:
    """Upper arrival-key bound of each delta: a large first delta, then
    ``n_deltas - 1`` uneven smaller ones covering the rest."""
    n = len(keys)
    first = int(n * rng.uniform(*FIRST_DELTA_SHARE))
    weights = rng.uniform(0.5, 1.5, size=n_deltas - 1)
    cuts = first + np.floor(np.cumsum(weights) / weights.sum() * (n - first))
    ends = [first, *cuts.astype(int).tolist()]
    ends[-1] = n
    return [int(keys[e - 1]) for e in ends]


def _parquet_bytes(table: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


def _check_ticks(full: pa.Table, key: str, bounds: list[int]) -> None:
    """Every arrival key falls in exactly one delta."""
    keys = full[key].to_numpy()
    lo = np.iinfo(np.int64).min
    covered = 0
    for hi in bounds:
        covered += int(((keys > lo) & (keys <= hi)).sum())
        lo = hi
    if covered != len(keys) or lo != keys.max():
        raise InputError(f"tick deltas of {key} do not cover each key exactly once")


def generate(root: str, seed: int, n_deltas: int) -> dict:
    """Write the inputs for ``seed`` under ``root`` (once) and return the
    manifest. ``root/full`` holds every table; ``root/tick-<i>`` holds the
    ETL source after tick ``i`` (the last tick adds nothing)."""
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(FIXTURE, f"{t}.parquet")) for t in TABLES}
    for name in TABLES:
        if name not in KEEP_WHOLE:
            tables[name] = _drop_tenth(tables[name], rng)
    _cascade(tables)
    check_integrity(tables)

    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "full"))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, "full", f"{name}.parquet"))

    ticks: dict[str, list[int]] = {}
    delta_bytes: dict[str, list[int]] = {}
    for name, key in ARRIVAL_KEYS.items():
        t = tables[name].sort_by(key)
        bounds = _tick_boundaries(t[key].to_numpy(), n_deltas, rng)
        _check_ticks(t, key, bounds)
        ticks[name] = bounds
        delta_bytes[name] = []
        lo = None
        for hi in bounds:
            sel = pc.less_equal(t[key], hi)
            if lo is not None:
                sel = pc.and_(sel, pc.greater(t[key], lo))
            delta_bytes[name].append(_parquet_bytes(t.filter(sel)))
            lo = hi
    for i in range(n_deltas + 1):  # the last tick brings no new rows
        d = os.path.join(tmp, f"tick-{i}")
        os.makedirs(d)
        for name, key in ARRIVAL_KEYS.items():
            hi = ticks[name][min(i, n_deltas - 1)]
            t = tables[name].sort_by(key)
            pq.write_table(t.filter(pc.less_equal(t[key], hi)), f"{d}/{name}.parquet")

    manifest = {
        "seed": seed,
        "rows": {name: t.num_rows for name, t in tables.items()},
        "tick_bounds": ticks,
        "delta_bytes": delta_bytes,
        "n_ticks": n_deltas + 1,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return manifest
