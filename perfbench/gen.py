"""Seeded input generator for the benchmark.

Writes the engine's ten tables (the schemas of ``catalog.TABLE_SCHEMAS``,
with the physical parquet types the engine's test tiers use) as
``<out>/<table>.parquet/part-<copy>.parquet``: one file per copy, so
every multi-copy table is a multi-file scan.

One copy has the shape of the sf0.01 tier (60 k lineitem, 15 k orders,
10 k events, 500 documents, 500 embeddings) and its column
distributions: independent uniform columns for the star schema,
Poisson event arrivals over January 2024, documents of 10-99 words
drawn from a 30-word vocabulary of which 5 % repeat an earlier
document with " dup" appended, and random unit vectors.

Copy ``k`` re-keys every id into its own id slot (a seeded
permutation of the copies: slot ``s`` starts at ``s`` times the
per-copy row count), so
foreign keys match within a copy (``l_orderkey`` -> ``o_orderkey`` ->
``c_custkey``; ``doc_id`` = ``vec_id``; ``user_id`` is a customer key).
Each copy draws its text from its own vocabulary (the base words with
a copy suffix; "a" and "the" are shared) and its vectors from its own
stream, so near-duplicates stay inside a copy and pair outputs grow
linearly with the number of copies. ``region`` and ``nation`` are
shared, one file each.

The seed changes every generated value, the id slots, the vocabulary
suffixes and the row order of ``lineitem``; it never changes a row
count. The same
seed and copy count give byte-identical files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated rows change for a given seed
VERSION = 2

#: rows of one copy (the sf0.01 tier's shape)
COPY_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
USERS_PER_COPY = 150
EMBED_DIM = 64

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BASE_WORDS = ["agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge",
              "order", "part", "query", "row", "scan", "slow", "small",
              "sort", "spark", "stream", "table", "value", "vector",
              "window"]
SHARED_WORDS = ["a", "the"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_S = pa.string()
_I32 = pa.int32()
_I64 = pa.int64()
_F64 = pa.float64()
_TS = pa.timestamp("us")
SCHEMAS = {
    "region": pa.schema([("r_regionkey", _I32), ("r_name", _S)]),
    "nation": pa.schema([("n_nationkey", _I32), ("n_name", _S),
                         ("n_regionkey", _I32)]),
    "customer": pa.schema([("c_custkey", _I64), ("c_name", _S),
                           ("c_nationkey", _I32), ("c_acctbal", _F64),
                           ("c_mktsegment", _S)]),
    "supplier": pa.schema([("s_suppkey", _I64), ("s_name", _S),
                           ("s_nationkey", _I32), ("s_acctbal", _F64)]),
    "part": pa.schema([("p_partkey", _I64), ("p_name", _S), ("p_brand", _S),
                       ("p_type", _S), ("p_size", _I32),
                       ("p_retailprice", _F64)]),
    "orders": pa.schema([("o_orderkey", _I64), ("o_custkey", _I64),
                         ("o_orderstatus", _S), ("o_totalprice", _F64),
                         ("o_orderdate", _TS), ("o_orderpriority", _S)]),
    "lineitem": pa.schema([("l_orderkey", _I64), ("l_partkey", _I64),
                           ("l_suppkey", _I64), ("l_linenumber", _I32),
                           ("l_quantity", _F64), ("l_extendedprice", _F64),
                           ("l_discount", _F64), ("l_tax", _F64),
                           ("l_returnflag", _S), ("l_linestatus", _S),
                           ("l_shipdate", _TS)]),
    "events": pa.schema([("event_id", _I64), ("ts", _TS), ("user_id", _I64),
                         ("event_type", _S), ("value", _F64),
                         ("props", _S)]),
    "documents": pa.schema([("doc_id", _I64), ("text", _S), ("lang", _S),
                            ("source", _S), ("n_chars", _I64)]),
    "embeddings": pa.schema([("vec_id", _I64),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", _I32)]),
}

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def input_dir(root: str, seed: int, copies: int) -> str:
    """Directory for one (generator version, copy count, seed): a path
    never shared by two different inputs, because the engine caches
    fixtures derived from the documents table by input path."""
    return os.path.join(root, f"v{VERSION}-x{copies}-seed{seed}")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: int, span: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + (first + rng.integers(0, span, n)) * _DAY_US


def _relabel(seed: int, copies: int) -> tuple[list[int], list[str]]:
    """Per copy: its id slot and a distinct two-letter vocabulary suffix."""
    rng = np.random.default_rng([VERSION, seed])
    slots = [int(s) for s in rng.permutation(copies)]
    codes = rng.permutation(26 * 26)[:copies]
    return slots, [chr(ord("a") + int(c) // 26) + chr(ord("a") + int(c) % 26) for c in codes]


def _texts(rng: np.random.Generator, n: int, suffix: str) -> list[str]:
    vocab = np.asarray([w + suffix for w in BASE_WORDS] + SHARED_WORDS, dtype=object)
    n_words = rng.integers(10, 100, n)
    is_dup = rng.random(n) < 0.05
    texts: list[str] = []
    for i in range(n):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words[i])]))
    return texts


def _copy_tables(rng: np.random.Generator, k: int, suffix: str) -> dict[str, dict]:
    """Columns of the copy in id slot ``k`` (ids already offset)."""
    R = COPY_ROWS
    cust0, supp0, part0 = k * R["customer"], k * R["supplier"], k * R["part"]
    ord0 = k * R["orders"]
    out: dict[str, dict] = {}

    n = R["customer"]
    ck = cust0 + np.arange(n)
    out["customer"] = {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n), "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)}

    n = R["supplier"]
    sk = supp0 + np.arange(n)
    out["supplier"] = {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n), "s_acctbal": _money(rng, -999.99, 9999.99, n)}

    n = R["part"]
    pk = part0 + np.arange(n)
    out["part"] = {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n), _pick(rng, PART_NOUN, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n), "p_size": rng.integers(1, 51, n),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)}

    n = R["orders"]
    out["orders"] = {
        "o_orderkey": ord0 + np.arange(n),
        "o_custkey": cust0 + rng.integers(0, R["customer"], n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, 0, 2404, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)}

    n = R["lineitem"]
    order = rng.permutation(n)
    li = {
        "l_orderkey": ord0 + rng.integers(0, R["orders"], n),
        "l_partkey": part0 + rng.integers(0, R["part"], n),
        "l_suppkey": supp0 + rng.integers(0, R["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, 1, 2499, n)}
    out["lineitem"] = {c: v[order] for c, v in li.items()}

    n = R["events"]
    gaps = rng.exponential(30 * _DAY_US / n, n)
    out["events"] = {
        "event_id": k * n + np.arange(n),
        "ts": _EPOCH_2024 + np.cumsum(gaps).astype(np.int64),
        "user_id": cust0 + rng.integers(0, USERS_PER_COPY, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]}

    n = R["documents"]
    doc0 = k * n
    texts = _texts(rng, n, suffix)
    ids = doc0 + np.arange(n)
    out["documents"] = {
        "doc_id": ids, "text": texts, "lang": rng.choice(LANGS, n, p=LANG_P).astype(object),
        "source": [f"src{i % 20}" for i in ids], "n_chars": [len(t) for t in texts]}

    n = R["embeddings"]
    vec = rng.standard_normal((n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": doc0 + np.arange(n),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.astype(np.float32).ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n)}
    return out


def _write(path: str, name: str, cols: dict) -> None:
    schema = SCHEMAS[name]
    arrays = [pa.array(cols[f.name], type=f.type) if not isinstance(cols[f.name], pa.Array)
              else cols[f.name] for f in schema]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


def generate(root: str, seed: int, copies: int) -> str:
    """Write the inputs for ``seed`` and ``copies`` under ``root`` and
    return their directory. Existing complete output is reused."""
    out = input_dir(root, seed, copies)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for t in TABLES:
        os.makedirs(os.path.join(tmp, f"{t}.parquet"))
    _write(os.path.join(tmp, "region.parquet", "part-00000.parquet"), "region",
           {"r_regionkey": range(5), "r_name": REGIONS})
    _write(os.path.join(tmp, "nation.parquet", "part-00000.parquet"), "nation",
           {"n_nationkey": range(25), "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]})
    streams = np.random.SeedSequence([VERSION, seed]).spawn(copies)
    for k, (stream, slot, suffix) in enumerate(zip(streams, *_relabel(seed, copies))):
        for name, cols in _copy_tables(np.random.default_rng(stream), slot, suffix).items():
            _write(os.path.join(tmp, f"{name}.parquet", f"part-{k:05d}.parquet"), name, cols)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
