"""Seeded benchmark inputs.

Seed 0 is the sf0.01 test data exactly as shipped (the files under
``perfbench/data`` are byte copies of it), so seed-0 numbers line up with the
ones quoted in ROADMAP.md. Seed s > 0 moves every key and foreign-key column
listed in ``tools/make_sf1.SHIFTS`` by a seed-derived offset and rolls every
embedding by s components. Like make_sf1, it moves a foreign key by the same
offset as the key it references, so joins between them survive.

make_sf1 shifts keys by ``replica * STRIDE``, which leaves the 0-based key
ranges behind. Several queries depend on those ranges (the flagship joins
``entity_id % n_docs`` to ``doc_id``; ``impute_fcki_capped`` keeps
``row_id <= 2000``), so a plain shift would turn them into empty results.
Here the shift wraps inside the key's range ``[0, D)`` instead, where D is
one more than the largest value of the referenced key column in the shipped
data: the same keys exist at every seed, but which row carries which key, and so every
hash bucket, tie-break, null mask and doc-to-entity mapping, changes with
the seed. Row counts and value distributions stay equal across seeds.

A workload's directory holds real rows only for the tables the workload
reads; every other table the oracle gate opens is written with zero rows,
so the gate builds no fit-twin oracle from data the workload never touches.
Directories are cached per (seed, workload) under the checkout's cache
directory; the program only ever reads a generated directory.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
SCALE = "sf0.01"        # the timed and verified scale
WARMUP_SCALE = "sf0.001"  # set-up warmup only, always seed 0

# schemas of the gate's tables that are not shipped under data/ (no
# benchmarked query reads them)
_EMPTY = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", pa.timestamp("us")),
                         ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", pa.timestamp("us"))]),
}


# foreign-key column -> (table, column) of the key it references; every other
# column of make_sf1.SHIFTS is a key of its own
REFERENCES = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
}


def _shift(seed: int, table: str, col: str) -> tuple[int, int]:
    """(offset, domain) of a key column: those of the key it references, so a
    key and its foreign keys move together. The offset is a non-zero shift in
    [1, domain) fixed by (seed, referenced table, referenced column)."""
    table, col = REFERENCES.get(col, (table, col))
    domain = int(pq.read_table(DATA / SCALE / f"{table}.parquet",
                               columns=[col])[col].to_numpy().max()) + 1
    key = [seed] + [ord(c) for c in f"{table}.{col}"]
    return int(np.random.default_rng(key).integers(1, domain)), domain


def _reseed(table: str, t: pa.Table, seed: int, shifts: dict) -> pa.Table:
    for col in shifts.get(table, []):
        offset, domain = _shift(seed, table, col)
        moved = (t[col].to_numpy() + offset) % domain
        t = t.set_column(t.schema.get_field_index(col), t.schema.field(col),
                         pa.array(moved, type=t.schema.field(col).type))
    if table == "embeddings":
        emb = t["embedding"].combine_chunks()
        dim = len(emb[0])
        flat = emb.values.to_numpy(zero_copy_only=False).reshape(len(emb), dim)
        rolled = np.roll(flat, seed % dim, axis=1).reshape(-1)
        arr = pa.ListArray.from_arrays(emb.offsets, pa.array(rolled, emb.type.value_type))
        t = t.set_column(t.schema.get_field_index("embedding"),
                         t.schema.field("embedding"), arr)
    return t


def materialize(seed: int, cache: Path, label: str,
                tables: list[str]) -> tuple[Path, Path]:
    """Write (once) and return (sf_dir, warmup_dir) for ``seed``; only
    ``tables`` carry rows in sf_dir."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    root = cache / "inputs"
    sf_dir = root / f"seed{seed}" / label / SCALE
    warm_dir = root / "warmup" / WARMUP_SCALE
    for d, build in ((sf_dir, lambda tmp: _build(seed, tables, tmp)),
                     (warm_dir, lambda tmp: _copy(DATA / WARMUP_SCALE, tmp))):
        if (d / "_SUCCESS").exists():
            continue
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        (tmp / "_SUCCESS").touch()
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return sf_dir, warm_dir


def _copy(src: Path, dst: Path) -> None:
    for f in sorted(src.glob("*.parquet")):
        shutil.copyfile(f, dst / f.name)


def _build(seed: int, tables: list[str], dst: Path) -> None:
    from tools.make_sf1 import SHIFTS

    for f in sorted((DATA / SCALE).glob("*.parquet")):
        if f.stem not in tables:
            pq.write_table(pq.read_schema(f).empty_table(), dst / f.name)
        elif seed == 0:
            shutil.copyfile(f, dst / f.name)
        else:
            t = _reseed(f.stem, pq.read_table(f), seed, SHIFTS)
            pq.write_table(t, dst / f.name, compression="snappy")
    for name, schema in _EMPTY.items():
        pq.write_table(schema.empty_table(), dst / f"{name}.parquet")


def row_counts(sf_dir: Path) -> dict[str, int]:
    return {f.stem: pq.ParquetFile(f).metadata.num_rows
            for f in sorted(sf_dir.glob("*.parquet"))}

