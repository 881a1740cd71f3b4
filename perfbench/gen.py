"""Seeded input generator for the benchmark.

Writes the fixture tables the workloads read (the repo's TPC-H-ish star
schema plus ``documents`` and ``embeddings``) with the same table names,
column names and column types as the repo's test fixtures, so the
registered queries and their DuckDB oracles run unchanged. Everything is
drawn from ``numpy.random.default_rng(seed)``: the same seed gives
byte-identical files; another seed gives other rows, another fact-table
row order and file split, other injected duplicates and another search
word sequence.

The inputs of the two workloads in ``BENCHMARK.json`` have the shape of
the repo's sf0.1 fixture: ``part`` has 20,000 rows whose names are one
of 64 "<adjective> <noun>" pairs from the same 8 x 8 words (about 310
rows a name), so a Search word matches the same 8-16 names there and
here; the streamed ``documents`` are about 300 characters long and
arrive 250 to a micro-batch. The other tables are a tenth of sf0.1 or
less, so the unlisted batch workloads fit a run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 20000
N_ORDERS = 15000
N_DOCS = 2000
N_VECS = 600
EMB_DIM = 64
N_LABELS = 10
# share of documents rewritten as a near-duplicate of an earlier one
NEAR_DUP_SHARE = 0.05
# one exact-duplicate group larger than the LSH bucket cap (256)
BIG_DUP_GROUP = 260
# one group of identical embedding vectors
SAME_VEC_GROUP = 12
# stream_ingest replays the corpus as this many parquet files, each
# within STREAM_JITTER of N_DOCS / STREAM_FILES documents
STREAM_FILES = 8
STREAM_JITTER = 0.1
STREAM_MTIME0 = 1_700_000_000

PART_ADJ = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
PART_NOUN = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")

DAY0 = np.datetime64("1995-01-01", "us")
N_DAYS = 2400  # 1995-01-01 .. mid 2001, like the repo fixtures


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return DAY0 + rng.integers(0, N_DAYS, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def search_words(seed: int, n: int = 64) -> list[str]:
    """Seeded Search words: 2-5 char substrings of the part-name
    vocabulary, so hit rates run from one word's rows to nearly all."""
    rng = np.random.default_rng([seed, 1])
    vocab = PART_ADJ + PART_NOUN
    out = []
    for _ in range(n):
        w = vocab[rng.integers(len(vocab))]
        k = int(rng.integers(2, min(5, len(w)) + 1))
        i = int(rng.integers(0, len(w) - k + 1))
        out.append(w[i : i + k])
    return out


def _tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), N_PART)
    noun = rng.integers(0, len(PART_NOUN), N_PART)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(N_PART, dtype="int64"),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"), N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype("int64"),
            "o_orderstatus": rng.choice(("O", "F", "P"), N_ORDERS),
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _days(rng, N_ORDERS),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(N_ORDERS, dtype="int64"), lines),
            "l_partkey": rng.integers(0, N_PART, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype("int64"),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("N", "R", "A"), n_li),
            "l_linestatus": rng.choice(("O", "F"), n_li),
            "l_shipdate": _days(rng, n_li),
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(N_DOCS)]
    # near duplicates: an earlier document with one token appended or
    # one token replaced, so shingle sets overlap almost fully
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    for i in rng.choice(np.arange(1, N_DOCS), n_near, replace=False):
        toks = texts[int(rng.integers(0, i))].split(" ")
        if rng.random() < 0.5:
            toks.append("dup")
        else:
            toks[int(rng.integers(len(toks)))] = str(vocab[rng.integers(len(vocab))])
        texts[i] = " ".join(toks)
    # one exact-duplicate group larger than the LSH bucket cap
    src = int(rng.integers(0, N_DOCS))
    for i in rng.choice(np.setdiff1d(np.arange(N_DOCS), [src]), BIG_DUP_GROUP - 1, replace=False):
        texts[i] = texts[src]
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    x = rng.standard_normal((N_VECS, EMB_DIM)).astype("float32")
    same = rng.choice(N_VECS, SAME_VEC_GROUP, replace=False)
    x[same] = x[same[0]]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(N_VECS, dtype="int64"),
            "embedding": list(x),
            "label": rng.integers(0, N_LABELS, N_VECS).astype("int32"),
        }
    )


def _split_points(rng: np.random.Generator, n: int, parts: int) -> list[int]:
    cuts = np.sort(rng.choice(np.arange(1, n), parts - 1, replace=False))
    return [0, *cuts.tolist(), n]


def _write(df: pd.DataFrame, path: str) -> None:
    schema = pa.Schema.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        schema = schema.set(schema.get_field_index("embedding"), pa.field("embedding", pa.list_(pa.float32())))
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def generate(seed: int, out_dir: str) -> dict:
    """Write every table under ``out_dir`` and return
    ``{"tables": {name: {"rows", "bytes", "files"}}, "stream_dir"}``.

    ``orders`` and ``lineitem`` are written in a seeded row order as
    seeded splits of a directory named ``<table>.parquet`` (Spark reads
    the directory as one table). ``documents`` is also written, in
    doc_id order, as ``STREAM_FILES`` files under ``stream/`` for the
    streaming replay.
    """
    rng = np.random.default_rng([seed, 2])
    tables = _tables(seed)
    os.makedirs(out_dir)
    info: dict[str, dict] = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in ("orders", "lineitem"):
            os.makedirs(path, exist_ok=True)
            df = df.iloc[rng.permutation(len(df))]
            cuts = _split_points(rng, len(df), int(rng.integers(3, 9)))
            files = [os.path.join(path, f"part-{i:03d}.parquet") for i in range(len(cuts) - 1)]
            for f, lo, hi in zip(files, cuts, cuts[1:]):
                _write(df.iloc[lo:hi], f)
        else:
            files = [path]
            _write(df, path)
        info[name] = {
            "rows": len(df),
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files),
        }
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(stream_dir)
    docs = tables["documents"][["doc_id", "text"]]
    per = len(docs) / STREAM_FILES
    shift = rng.uniform(-STREAM_JITTER / 2, STREAM_JITTER / 2, STREAM_FILES - 1) * per
    cuts = [0, *np.round(np.arange(1, STREAM_FILES) * per + shift).astype(int).tolist(), len(docs)]
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        path = os.path.join(stream_dir, f"batch-{i:03d}.parquet")
        _write(docs.iloc[lo:hi], path)
        # the file source admits files oldest first: pin the arrival order
        os.utime(path, (STREAM_MTIME0 + i, STREAM_MTIME0 + i))
    return {"tables": info, "stream_dir": stream_dir}
