"""Seeded generator for the benchmark's input tables.

Writes the ten tables the package reads (``sources.TABLES``) as parquet
files, one per table, in the same schema and value ranges as the
project's synthetic test data: a TPC-H-like star schema (region, nation,
customer, supplier, part, orders, lineitem), an ``events`` stream table,
a ``documents`` corpus with ~5 % planted near-duplicates and an
``embeddings`` table of unit vectors.

Scaling follows the replica recipe the repo's scale-stress harness
uses, so the workload's shape stays fixed while its size grows:

- facts (orders, lineitem, events) and customer are tiled ``olap``
  times with consistent key offsets, so every fact-to-fact and
  fact-to-customer join stays inside its replica; part, supplier,
  nation and region stay fixed;
- documents are tiled ``docs`` times, each replica mapped through its
  own letter and digit permutation (a bijection, so planted duplicates
  stay duplicates within a replica and none appear across replicas);
  embeddings are tiled with a per-replica coordinate rotation.

The permutations and rotations are drawn from the seed, so one seed
always yields byte-identical inputs and two seeds yield different ones.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ID_SPAN = 10_000_000
ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer order group "
    "big query stream filter vector"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.55, 0.15, 0.1, 0.1, 0.1]


# Scale factor of one replica of the star schema and events (sf0.01 has
# 15 000 orders), and of one corpus replica (150 documents, 60 vectors).
BASE_SF = 0.01
DOCS_SF = 0.003


@dataclass(frozen=True)
class Scale:
    """Replica counts of the fact (``olap``) and corpus (``docs``)
    families, and the number of landing files ``events`` is split into."""

    olap: int = 1
    docs: int = 1
    stream_files: int = 1


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _permutation(chars: str, seed: int, r: int) -> str:
    """Per-replica bijection on ``chars``; replica 0 is the identity."""
    if r == 0:
        return chars
    return "".join(
        sorted(chars, key=lambda c: hashlib.md5(f"{seed}:{r}:{c}".encode()).hexdigest())
    )


def _base(seed: int) -> dict[str, dict]:
    """One replica of every table, as column dicts of numpy arrays."""
    sf, docs_sf = BASE_SF, DOCS_SF
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, n_ev * 3 // 200)
    n_docs = int(50_000 * docs_sf)
    n_emb = int(20_000 * docs_sf)

    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS, dtype=object),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{k:09d}" for k in ck], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(np.array(SEGMENTS, dtype=object), n_cust),
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": np.array([f"Supplier#{k:09d}" for k in sk], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.choice(np.array(PART_ADJ, dtype=object), n_part)
    noun = rng.choice(np.array(PART_NOUN, dtype=object), n_part)
    t["part"] = {
        "p_partkey": pk,
        "p_name": adj + " " + noun,
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": rng.choice(np.array(PART_TYPES, dtype=object), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }
    o0, o1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    day = 86_400_000_000
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": o0 + rng.integers(0, (o1 - o0) // day + 1, n_ord) * day,
        "o_orderpriority": rng.choice(np.array(PRIORITIES, dtype=object), n_ord),
    }
    s0, s1 = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n_line),
        "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n_line),
        "l_shipdate": s0 + rng.integers(0, (s1 - s0) // day + 1, n_line) * day,
    }
    e0 = _day_us(2024, 1, 1)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": e0 + np.sort(rng.integers(0, 30 * day, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(np.array(EVENT_TYPES, dtype=object), n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object),
    }
    vocab = np.array(VOCAB, dtype=object)
    # Planted near-duplicates copy an original, never another copy, so
    # every duplicate group is a star of depth one whatever the seed and
    # the dedup loops run the same number of rounds.
    texts, originals = [], []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.05:  # planted near-duplicate of an original
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        elif i > 10 and u < 0.06:  # same, one word swapped
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    text = np.array(texts, dtype=object)
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(np.array(LANGS, dtype=object), n_docs, p=LANG_P),
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n_docs)], dtype=object),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    emb = rng.standard_normal((n_emb, DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": emb.astype(np.float32),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return t


OLAP_OFFSETS = {
    "events": ("event_id", "user_id"),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey",),
    "customer": ("c_custkey",),
}


def _tile(cols: dict, replicas: int, offset_cols) -> dict:
    out = {}
    for name, arr in cols.items():
        parts = [arr + r * ID_SPAN if name in offset_cols else arr for r in range(replicas)]
        out[name] = np.concatenate(parts)
    return out


def _translate(texts, table: dict[int, int]):
    return np.array([s.translate(table) for s in texts], dtype=object)


def _replicate_docs(docs: dict, emb: dict, seed: int, replicas: int):
    doc_parts, emb_parts = [], []
    for r in range(replicas):
        table = str.maketrans(
            ALPHA + ALPHA.upper() + DIGITS,
            _permutation(ALPHA, seed, r)
            + _permutation(ALPHA, seed, r).upper()
            + _permutation(DIGITS, seed, r),
        )
        d = dict(docs)
        d["doc_id"] = docs["doc_id"] + r * ID_SPAN
        d["text"] = _translate(docs["text"], table) if r else docs["text"]
        doc_parts.append(d)
        e = dict(emb)
        e["vec_id"] = emb["vec_id"] + r * ID_SPAN
        e["embedding"] = np.roll(emb["embedding"], -(r % DIM), axis=1)
        emb_parts.append(e)
    cat = lambda parts: {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    return cat(doc_parts), cat(emb_parts)


_TS_COLS = {"o_orderdate", "l_shipdate", "ts"}


def _arrow(cols: dict) -> pa.Table:
    arrays = {}
    for name, arr in cols.items():
        if name in _TS_COLS:
            arrays[name] = pa.array(arr, type=pa.timestamp("us"))
        elif name == "embedding":
            flat = pa.array(arr.reshape(-1), type=pa.float32())
            offsets = pa.array(np.arange(0, arr.size + 1, arr.shape[1], dtype=np.int32))
            arrays[name] = pa.ListArray.from_arrays(offsets, flat)
        elif arr.dtype == object:
            arrays[name] = pa.array(arr, type=pa.string())
        else:
            arrays[name] = pa.array(arr)
    return pa.table(arrays)


def generate(out_dir: str, seed: int, scale: Scale) -> dict[str, str]:
    """Write every table under ``out_dir`` and return each table's
    fingerprint (md5 of its arrow IPC bytes). ``events`` is written as
    a directory of ``scale.stream_files`` landing files when that is
    above one, so a file-stream source sees one batch per file."""
    tables = _base(seed)
    for name, offs in OLAP_OFFSETS.items():
        tables[name] = _tile(tables[name], scale.olap, offs)
    tables["documents"], tables["embeddings"] = _replicate_docs(
        tables["documents"], tables["embeddings"], seed, scale.docs
    )
    os.makedirs(out_dir, exist_ok=True)
    prints = {}
    for name in TABLES:
        tbl = _arrow(tables[name])
        prints[name] = fingerprint(tbl)
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "events" and scale.stream_files > 1:
            os.makedirs(path, exist_ok=True)
            step = -(-tbl.num_rows // scale.stream_files)
            for i in range(scale.stream_files):
                pq.write_table(
                    tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
                )
        else:
            pq.write_table(tbl, path)
    return prints


def fingerprint(tbl: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as writer:
        writer.write_table(tbl)
    return hashlib.md5(sink.getvalue().to_pybytes()).hexdigest()


def row_counts(out_dir: str) -> dict[str, int]:
    return {
        t: pq.ParquetDataset(os.path.join(out_dir, f"{t}.parquet")).read(columns=[]).num_rows
        for t in TABLES
    }
