"""Seeded benchmark inputs. The same seed writes byte-identical parquet.

- ``ml1m_world``: the planted ml-1m-shaped generator of the test suite
  (``tests/ml1m_scale_fixture.gen_world``) at the benchmark's cardinality,
  written as the raw ``ratings`` / ``movies`` / ``users`` tables.
- ``registry_tables``: the ten registry tables shipped in ``perfbench/data``
  with every key domain relabeled by one seeded bijection, applied in every
  table that carries the key. Each domain is a dense id range, and the
  bijection is a permutation of it, so ids stay inside INT range and row
  counts, key cardinalities and join fan-outs are unchanged; choices made by
  hashing ids (samples, eval sets, LSH buckets, PQ pivots) do change.
  Nothing is replicated: verbatim copies would turn the LSH buckets
  quadratic and measure the copies, not the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# ml-1m shape at a size whose cold offline pass fits the run budget: 600
# users x 500 items x 40 ratings (24k ratings) keeps ml-1m's per-user history
# length class while driver-side fixed costs stay the dominant share, as they
# are for the full 604k-rating world.
ML1M_USERS = 600
ML1M_ITEMS = 500
ML1M_PER_USER = 40

# key domain -> the (table, column) pairs that carry it
KEY_DOMAINS = {
    "user": [("events", "user_id")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
}
REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def ml1m_world(seed: int, out_dir: str) -> dict[str, str]:
    """Write the seeded ratings/movies/users tables; -> name -> path."""
    from tests import ml1m_scale_fixture as fx

    saved = fx.N_USERS, fx.N_ITEMS, fx.N_PER_USER
    fx.N_USERS, fx.N_ITEMS, fx.N_PER_USER = ML1M_USERS, ML1M_ITEMS, ML1M_PER_USER
    try:
        ratings, movies, users = fx.gen_world(seed)
    finally:
        fx.N_USERS, fx.N_ITEMS, fx.N_PER_USER = saved
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, pdf in (("ratings", ratings), ("movies", movies), ("users", users)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(pa.Table.from_pandas(pdf, preserve_index=False), paths[name])
    return paths


def relabel_maps(seed: int, base_dir: str = DATA_DIR) -> dict[str, np.ndarray]:
    """Domain -> permutation array: old id ``i`` becomes ``perm[i]``."""
    rng = np.random.default_rng(seed)
    maps = {}
    for domain, cols in KEY_DOMAINS.items():
        hi = max(
            pq.read_table(os.path.join(base_dir, f"{t}.parquet"), columns=[c])
            .column(c).to_numpy().max()
            for t, c in cols
        )
        maps[domain] = rng.permutation(int(hi) + 1)
    return maps


def registry_tables(seed: int, out_dir: str, base_dir: str = DATA_DIR) -> str:
    """Write the relabeled registry tables into ``out_dir``; -> out_dir."""
    maps = relabel_maps(seed, base_dir)
    by_table: dict[str, list[tuple[str, np.ndarray]]] = {}
    for domain, cols in KEY_DOMAINS.items():
        for t, c in cols:
            by_table.setdefault(t, []).append((c, maps[domain]))
    os.makedirs(out_dir, exist_ok=True)
    for t in REGISTRY_TABLES:
        table = pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
        for c, perm in by_table.get(t, []):
            i = table.schema.get_field_index(c)
            col = table.column(c)
            new = pa.array(perm[col.to_numpy()], type=col.type)
            table = table.set_column(i, table.field(i), new)
        _write(table, os.path.join(out_dir, f"{t}.parquet"))
    return out_dir
