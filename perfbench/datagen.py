"""Seeded input generation for the benchmark.

Every table is a pure function of (seed, sizes): the same seed writes the
same bytes. The relational and text tables follow the shape of the
engine's reference test tables (same names, columns, parquet types and
value domains: pyarrow-written, `timestamp[us]` without a zone, so Spark
reads them as TIMESTAMP_NTZ exactly as it reads the reference tables).
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sizes at sf0.1
SF01 = dict(customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000, documents=5000, embeddings=2000)

VOCAB = np.array(["query", "row", "stream", "the", "spark", "line", "small",
                  "fast", "group", "customer", "batch", "sort", "value",
                  "hash", "filter", "big", "data", "part", "column", "order",
                  "scan", "a", "slow", "agg", "key", "window", "table",
                  "merge", "vector", "join"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                     "BUILDING"])
ADJ = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
NOUN = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "valve",
                 "spring"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                   "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _write(df: pd.DataFrame, path: str, schema: pa.Schema = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def documents(rng, n: int) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary: 10-99 words, 5%
    tagged with a trailing `dup` token, and a few exact copies."""
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[words[pos:pos + k]]))
        pos += k
    tagged = rng.random(n) < 0.05
    texts = [t + " dup" if d else t for t, d in zip(texts, tagged)]
    # exact duplicates: one copy per 625 documents
    for i in range(624, n, 625):
        texts[i] = texts[i - 311]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    """Random unit vectors with a uniform 10-way label."""
    v = rng.standard_normal((n, dim)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def events(rng, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(40.0, n).clip(0, 560.21), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def write_tables(out: str, seed: int, scale: float = 1.0) -> None:
    """All ten tables at `scale` × sf0.1 into `out`/<table>.parquet."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in SF01.items()}
    p = lambda t: os.path.join(out, t + ".parquet")

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), p("region"))
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({
        "n_nationkey": nk,
        "n_name": ["NATION_%d" % i for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32),
    }), p("nation"))

    c = n["customer"]
    _write(pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, c),
    }), p("customer"))

    s = n["supplier"]
    _write(pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    }), p("supplier"))

    pk = np.arange(n["part"], dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(ADJ, len(pk)), " "),
                              rng.choice(NOUN, len(pk))),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(pk)).astype(str)),
        "p_type": rng.choice(PTYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    }), p("part"))

    o = n["orders"]
    _write(pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _days(rng, o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, o),
    }), p("orders"))

    li = n["lineitem"]
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), li),
        "l_linestatus": rng.choice(np.array(["O", "F"]), li),
        "l_shipdate": _days(rng, li, "1995-01-02", 2498),
    }), p("lineitem"))

    _write(events(rng, n["events"]), p("events"))
    _write(documents(rng, n["documents"]), p("documents"))
    _write(embeddings(rng, n["embeddings"]), p("embeddings"), EMB_SCHEMA)


def write_corpus(out: str, seed: int, docs: int, vecs: int, mult: int) -> None:
    """A ×`mult` corpus: `docs` base documents and `vecs` base embeddings,
    each replicated with ids shifted by r·10^7. Replica r > 0 of a document
    gets a leading `replica<r>` token and replica r of an embedding moves
    its first dimension by r·0.001, so every base row becomes a clique of
    `mult` near-duplicates."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    base_d = documents(rng, docs)
    base_e = embeddings(rng, vecs)
    shift = 10_000_000
    ds, es = [], []
    for r in range(mult):
        d = base_d.copy()
        d["doc_id"] = d["doc_id"] + r * shift
        if r:
            d["text"] = ("replica%d " % r) + d["text"]
        d["n_chars"] = d["text"].str.len().astype(np.int64)
        ds.append(d)
        e = base_e.copy()
        e["vec_id"] = e["vec_id"] + r * shift
        if r:
            e["embedding"] = [np.concatenate(
                [np.float32([x[0] + np.float32(r * 0.001)]), x[1:]])
                for x in e["embedding"]]
        es.append(e)
    _write(pd.concat(ds, ignore_index=True), os.path.join(out, "documents.parquet"))
    _write(pd.concat(es, ignore_index=True), os.path.join(out, "embeddings.parquet"),
           EMB_SCHEMA)



# grid layout shared with GridWorkload.scala: node axes, first timestep,
# cadence and the analytic fields (linear in every coordinate, so a
# multilinear interpolator reproduces them up to rounding)
GRID_LON = np.arange(0.0, 361.0, 10.0)
GRID_LAT = np.arange(-80.0, 81.0, 10.0)
GRID_H = np.arange(250000.0, 400001.0, 5000.0)
GRID_T0 = 1712620800  # 2024-04-09T00:00:00Z
GRID_CADENCE = 600


def grid_fields(t, lon, lat, h):
    return {"T[K]": 180.0 + 1e-6 * t + 0.05 * lon + 0.1 * lat + 1e-4 * h,
            "n[1/cm^3]": 1e4 + 2.0 * lon - 3.0 * lat + 0.01 * h + 1e-5 * t}


def write_grid(out: str, n_files: int) -> None:
    """`n_files` consecutive timesteps, one `<yyyy-MM-ddTHH:mm:ss>.parquet`
    directory each (one part file: Hadoop's local file system cannot open
    a file whose own name holds a colon) with the full (lon, lat, h) node
    grid."""
    os.makedirs(out, exist_ok=True)
    lon, lat, h = np.meshgrid(GRID_LON, GRID_LAT, GRID_H, indexing="ij")
    lon, lat, h = lon.ravel(), lat.ravel(), h.ravel()
    for i in range(n_files):
        t = GRID_T0 + i * GRID_CADENCE
        cols = {"lon": lon, "lat": lat, "h": h}
        cols.update(grid_fields(float(t), lon, lat, h))
        name = pd.Timestamp(t, unit="s").strftime("%Y-%m-%dT%H:%M:%S")
        os.makedirs(os.path.join(out, name + ".parquet"))
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet", "part-0.parquet"))
