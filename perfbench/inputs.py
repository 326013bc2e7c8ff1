"""Seeded input generators. Everything the program reads comes from here.

The same seed gives byte-identical files (`tree_digest` checks that). No
Spark is needed: the files are written with pyarrow before any session
starts, so input generation is never part of a timed region.
"""
from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from process_nwb_spark.synth import generate_synthetic_data

ECOG_RATE = 3200.0


@dataclass(frozen=True)
class EcogShape:
    recordings: int
    channels: int
    seconds: float


def write_ecog(path: str, shape: EcogShape, seed: int) -> list[np.ndarray]:
    """Long-format (series_id, channel, sample_idx, value) parquet, one file
    per recording, as a folder of recordings lands on disk. Returns the dense
    (n_time, n_channels) blocks for the output check."""
    os.makedirs(path)
    blocks = []
    for r in range(shape.recordings):
        X = generate_synthetic_data(shape.seconds, shape.channels, ECOG_RATE,
                                    seed=seed * 1000 + r)
        n, c = X.shape
        pq.write_table(pa.table({
            "series_id": pa.array([f"rec_{r:03d}"] * (n * c)),
            "channel": np.repeat(np.arange(c, dtype=np.int32), n),
            "sample_idx": np.tile(np.arange(n, dtype=np.int64), c),
            "value": X.T.ravel(),
        }), os.path.join(path, f"part-{r:05d}.parquet"))
        blocks.append(X)
    return blocks


# ---------------------------------------------------------------- relational
# Same schemas and value domains as the TPC-H-ish tables the registry faces
# are written against (region nation customer supplier part orders lineitem
# events documents embeddings), drawn from one seeded generator.

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil",
              "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a the data spark query join hash row scan batch column customer "
          "filter small slow merge order vector line table agg value key "
          "stream window part group big sort fast").split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_DAY_US = 86_400 * 1_000_000


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(lo_d, hi_d + 1, n) * _DAY_US,
                    pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(100, int(50_000 * sf)), max(100, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, max(50, n_ev // 66), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centroids = rng.standard_normal((10, 64))
    vecs = 0.1 * centroids[labels] + rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            vecs.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": labels})
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random word sequences over a small vocabulary; one document in twenty
    is a near-duplicate (another document's text plus " dup"), so the dedup
    and similarity faces have real pairs to find."""
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 101)))
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def write_relational(path: str, seed: int, sf: float) -> None:
    os.makedirs(path)
    for name, table in relational_tables(seed, sf).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))


def tree_digest(path: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
