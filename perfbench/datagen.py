"""Seeded input generation for the benchmark workloads.

Every input a workload hands to the engine is made here from ``--seed``:
the TPC-H-shaped tables (the column set and value distributions of the
engine's sf-scaled test fixtures), the document and embedding tables the
pipeline operators read, the CSV batches the ingest workload loads, and
the per-client request streams of the serving workload.  The same seed
and scale always give byte-identical parquet files.

Tables are built with NumPy and written with pyarrow, so generation
costs no Spark job and is timed apart from set-up.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# rows per unit of scale factor (sf 0.1 = the engine's bench fixture size)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64

# Key domains shifted per replica copy, and the table that owns each
# domain's key range: copy i adds i * (max_key + 1) to every column of a
# domain, so join fan-outs and selectivities stay exact while per-group
# volumes scale by the copy count (the engine's replicate_tpch rule).
SCALED_KEYS = {
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
}
KEY_OWNER = {
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
}

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype("int64")


def _days(rng, lo_days: int, n_days: int, n: int) -> np.ndarray:
    d = _EPOCH_1995 + lo_days + rng.integers(0, n_days, n)
    return d.astype("int64") * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """One TPC-H-shaped population at scale ``sf`` (keys from 0)."""
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _names("Customer", ck),
            "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
            "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
        }
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _names("Supplier", sk),
            "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    adj = rng.integers(0, len(P_ADJ), len(pk))
    noun = rng.integers(0, len(P_NOUN), len(pk))
    pname = [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(pname),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], len(pk)),
            "p_type": _pick(rng, P_TYPES, len(pk)),
            "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, len(ck), len(ok)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], len(ok)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, len(ok)),
            "o_orderdate": _ts(_days(rng, 0, 2405, len(ok))),
            "o_orderpriority": _pick(rng, PRIORITIES, len(ok)),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, len(ok), m),
            "l_partkey": rng.integers(0, len(pk), m),
            "l_suppkey": rng.integers(0, len(sk), m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _ts(_days(rng, 1, 2499, m)),
        }
    )
    return out


def replicate(tables: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """N key-shifted copies of each scaling table (nation/region fixed)."""
    if copies == 1:
        return dict(tables)
    base = {
        key: int(pc.max(tables[owner][key]).as_py()) + 1
        for key, owner in KEY_OWNER.items()
    }
    out = {name: t for name, t in tables.items() if name not in SCALED_KEYS}
    for name, keys in SCALED_KEYS.items():
        t = tables[name]
        parts = []
        for i in range(copies):
            c = t
            for col, domain in keys.items():
                idx = c.schema.get_field_index(col)
                shifted = pc.add(c[col], pa.scalar(i * base[domain], pa.int64()))
                c = c.set_column(idx, col, shifted)
            parts.append(c)
        out[name] = pa.concat_tables(parts)
    return out


def documents(rng: np.random.Generator, sf: float) -> pa.Table:
    """Word-soup corpus; 5% of documents repeat an earlier one plus a
    trailing token, so the near-duplicate operators find pairs."""
    n = max(20, int(round(ROWS_PER_SF["documents"] * sf)))
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens.tolist()]
    for i in np.flatnonzero(rng.random(n) < 0.05).tolist():
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    """Unit-norm float32 vectors around 10 weak cluster centres."""
    n = max(20, int(round(ROWS_PER_SF["embeddings"] * sf)))
    label = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.standard_normal((10, EMB_DIM)) * 0.5
    x = centres[label] + rng.standard_normal((n, EMB_DIM)) * 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": label,
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str, files: int = 1) -> None:
    """One ``<name>.parquet`` per table; a table over 200k rows is split
    into ``files`` part files so scans get that many parallel tasks."""
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if files <= 1 or t.num_rows < 200_000:
            pq.write_table(t, path)
            continue
        os.makedirs(path)
        step = -(-t.num_rows // files)
        for i in range(files):
            pq.write_table(
                t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
            )


def dataset(
    root: str,
    seed: int,
    sf: float,
    copies: int = 1,
    files: int = 1,
    doc_sf: float | None = None,
) -> str:
    """Generate (or reuse) the seed's dataset directory and return it.

    TPC-H tables are at scale ``sf`` times ``copies``, the document and
    embedding tables at ``doc_sf`` (default ``sf``; 0 leaves them out).  The directory is
    keyed by all of these; a complete one carries a ``_DONE`` marker, so
    an interrupted build is redone."""
    doc_sf = sf if doc_sf is None else doc_sf
    key = f"s{seed}-sf{sf:g}-x{copies}-f{files}-d{doc_sf:g}"
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    tables = replicate(tpch_tables(rng, sf), copies)
    if doc_sf > 0:
        tables["documents"] = documents(rng, doc_sf)
        tables["embeddings"] = embeddings(rng, doc_sf)
    write_tables(tables, out, files)
    with open(os.path.join(out, "_DONE"), "w") as f:
        json.dump({"seed": seed, "sf": sf, "copies": copies, "doc_sf": doc_sf}, f)
    return out


def parquet_glob(sf_dir: str, name: str) -> str:
    """DuckDB path for a table written by write_tables."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
