"""Seeded benchmark inputs.

The content of every table is the repository's ``sf0.01`` testdata,
committed unchanged under ``data/`` (one parquet file per table, one
row group each).  A run's ``--seed`` and a pass index choose only a
row-order permutation, so results that are invariant under row order
are identical for every seed while file bytes, memo keys and split
contents differ.  Each permuted table is again written as one parquet
file holding one row group, the layout of the testdata, so split counts
and ``spread_scan`` decisions match it.

Stream drops are a seeded split of the same content (see ``drops``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = sorted(f.removesuffix(".parquet") for f in os.listdir(DATA) if f.endswith(".parquet"))
SIZES = {t: pq.ParquetFile(os.path.join(DATA, f"{t}.parquet")).metadata.num_rows for t in TABLES}


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def content() -> dict[str, pa.Table]:
    """Every table's content, as committed under ``data/``."""
    return {t: pq.read_table(os.path.join(DATA, f"{t}.parquet")) for t in TABLES}


def permuted(table: pa.Table, seed: int, pass_idx: int, salt: int) -> pa.Table:
    """The table's rows in an order drawn from (seed, pass, table)."""
    rng = np.random.default_rng([seed, pass_idx, salt])
    return table.take(rng.permutation(table.num_rows))


def write_table(table: pa.Table, path: str) -> None:
    """One file, one row group — the testdata layout."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_inputs(
    base: dict[str, pa.Table], out_dir: str, seed: int, pass_idx: int = 0,
    names: list[str] | None = None,
) -> dict[str, tuple[int, int]]:
    """Write a permuted copy of ``base`` as ``<out_dir>/<name>.parquet``.
    Returns name -> (rows, bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for salt, name in enumerate(sorted(base)):
        if names is not None and name not in names:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        write_table(permuted(base[name], seed, pass_idx, salt), path)
        sizes[name] = (base[name].num_rows, os.path.getsize(path))
    return sizes


def drops(
    base: dict[str, pa.Table], seed: int, n_drops: int
) -> tuple[dict[str, pa.Table], list[dict[str, pa.Table]]]:
    """Split the content into a static part and ``n_drops`` stream drops.

    - lineitem: the last ``n_drops`` ship years arrive one per drop;
      the static part keeps the earlier years.  Whole years, so the
      fact sink's dynamic month-partition overwrite only ever adds.
    - events: consecutive time slices (the stream's watermark only
      moves forward), each with ~2% redelivered duplicate rows.
    - documents: a seeded split by row.
    - cdc: per drop, upsert/delete events for a seeded 10% of
      customers, sequence numbers increasing across drops.
    - snapshots: per drop, the full customer dimension with a seeded
      5% of segments/balances changed, one snapshot date per drop.
    The static part keeps every other table whole.
    """
    rng = np.random.default_rng([seed, 7919])
    li = base["lineitem"]
    years = np.array(
        [d.year for d in li.column("l_shipdate").to_pylist()], dtype=np.int64
    )
    first_stream_year = int(years.max()) - n_drops + 1
    static = dict(base)
    static["lineitem"] = li.filter(pa.array(years < first_stream_year))

    ev = base["events"]
    ev_cuts = np.linspace(0, ev.num_rows, n_drops + 1).astype(int)
    docs = base["documents"]
    doc_part = rng.integers(0, n_drops, docs.num_rows)
    cust = base["customer"]
    keys = cust.column("c_custkey").to_numpy()
    seg = np.array(cust.column("c_mktsegment").to_pylist(), dtype=object)
    segments = sorted(pc.unique(cust.column("c_mktsegment")).to_pylist())
    bal = cust.column("c_acctbal").to_numpy().copy()

    out = []
    for d in range(n_drops):
        drop: dict[str, pa.Table] = {}
        drop["lineitem"] = li.filter(pa.array(years == first_stream_year + d))
        sl = ev.slice(ev_cuts[d], ev_cuts[d + 1] - ev_cuts[d])
        dup = rng.random(sl.num_rows) < 0.02
        drop["events"] = pa.concat_tables([sl, sl.filter(pa.array(dup))])
        drop["documents"] = docs.filter(pa.array(doc_part == d))
        touched = rng.random(len(keys)) < 0.10
        k = keys[touched]
        drop["cdc"] = pa.table({
            "k": k,
            "seq": (d + 1) * 1_000_000 + np.arange(len(k), dtype=np.int64),
            "op": np.where(rng.random(len(k)) < 0.1, "D", "U").astype(object),
            "bal": _cents(rng.uniform(-999.99, 9999.99, len(k))),
        })
        change = rng.random(len(keys)) < 0.05
        seg = seg.copy()
        seg[change] = [segments[i] for i in rng.integers(0, len(segments), int(change.sum()))]
        bal = np.where(change, _cents(bal * 1.01), bal)
        drop["snapshots"] = pa.table({
            "c_custkey": keys,
            "c_mktsegment": seg,
            "c_acctbal": bal,
            "snap_date": [f"2024-01-{d + 2:02d}"] * len(keys),
        })
        out.append({
            name: permuted(tbl, seed, d + 1, salt)
            for salt, (name, tbl) in enumerate(sorted(drop.items()))
        })
    return static, out
