"""Seeded generator for the benchmark's input tables.

Writes the star schema the program's registry queries read
(``region nation customer supplier part orders lineitem documents
embeddings events``, one parquet file each) with the same column names
and physical types as the project's test data.  The same ``seed`` and
``sf`` always give byte-identical tables.

The rows of the star schema are the same for every seed; the seed only
shuffles their order.  How much work a query does depends on the data
(how many near-duplicate documents MinHash pairs up, for one), so rows
drawn per seed would make one seed's queries slower than another's.

``orders`` is generated with ``o_orderdate`` rising with ``o_orderkey``
(orders get increasing keys over time), so a lake clustered on the key is
also clustered on the date and both kinds of predicate can prune files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
ORDER_SPAN_DAYS = 2400
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
COLORS = np.array(["red", "blue", "green", "small", "large", "steel", "brass"])
THINGS = np.array(["widget", "bolt", "ring", "gear", "valve", "pipe"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"])
WORDS = np.array(
    "a the row scan slow fast table value part hash merge batch spark line "
    "sort window key agg order data column join small customer query big "
    "stream group filter vector index lake commit file page cache plan "
    "shard tree node edge".split()
)
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
EVENT_TYPES = np.array(["view", "click", "cart", "buy"])
EMBED_DIM = 64
STAR_SCHEMA_SEED = 20_200_901
N_LABELS = 10


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name), so adding a table or
    an op kind never shifts the values another one draws."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode()[:8], "little")])


def cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices with exactly two decimals, so a NUMERIC(p,2) sink stores them
    without rounding and sums compare exactly in integer cents."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def orders_frame(
    seed: int, keys: np.ndarray, n_customers: int, stream: str
) -> pd.DataFrame:
    """Order rows for the given keys.  Dates follow the key (see module
    docstring); every other column is drawn from ``stream``."""
    rng = rng_for(seed, stream)
    n = len(keys)
    day = (keys.astype(np.int64) * 7) // 3 % ORDER_SPAN_DAYS
    jitter = rng.integers(0, 3, n)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, max(n_customers, 1), n).astype(np.int64),
            "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
            "o_totalprice": cents(rng, 1000, 500000, n),
            "o_orderdate": EPOCH + (day + jitter).astype("timedelta64[D]"),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }
    )


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    tbl = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(tbl, path)


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table for scale factor ``sf`` under ``out_dir``, rows
    in an order drawn from ``seed``.  Returns the row count of each table."""
    rows_seed = seed
    seed = STAR_SCHEMA_SEED
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_orders = max(int(1_500_000 * sf), 500)
    n_docs = 500
    n_vecs = 500
    n_events = max(int(1_000_000 * sf), 1000)

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    rng = rng_for(seed, "customer")
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(rng, -999, 9999, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    rng = rng_for(seed, "supplier")
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": cents(rng, -999, 9999, n_supp),
        }
    )
    rng = rng_for(seed, "part")
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(COLORS[rng.integers(0, len(COLORS), n_part)], " "),
                THINGS[rng.integers(0, len(THINGS), n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": cents(rng, 900, 2000, n_part),
        }
    )
    orders = orders_frame(seed, np.arange(n_orders), n_cust, "orders")

    rng = rng_for(seed, "lineitem")
    lines_per_order = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(orders["o_orderkey"].to_numpy(), lines_per_order)
    n_li = len(l_orderkey)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_linenumber = (np.arange(n_li) - np.repeat(starts, lines_per_order) + 1).astype(np.int32)
    odate = np.repeat(orders["o_orderdate"].to_numpy(), lines_per_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    linestatus = np.array(["F", "O"])[rng.integers(0, 2, n_li)]
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * cents(rng, 900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": linestatus,
            "l_shipdate": odate + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
        }
    )

    rng = rng_for(seed, "documents")
    lengths = rng.integers(20, 80, n_docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # plant exact duplicates and shared spans so the dedup operators find work
    for i in range(0, n_docs, 17):
        texts[i] = texts[(i * 7 + 3) % n_docs]
    for i in range(5, n_docs, 23):
        src = texts[(i * 11 + 1) % n_docs].split()
        texts[i] = " ".join(src[: len(src) // 2] + texts[i].split()[len(src) // 2 :])
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    rng = rng_for(seed, "embeddings")
    labels = rng.integers(0, N_LABELS, n_vecs)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )

    rng = rng_for(seed, "events")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": EPOCH
            + np.sort(rng.integers(0, 30 * 86_400, n_events)).astype("timedelta64[s]"),
            "user_id": rng.integers(0, max(n_events // 20, 1), n_events).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 4, n_events)],
            "value": cents(rng, 0, 500, n_events),
            "props": np.char.add("{\"k\":", np.char.add(rng.integers(0, 9, n_events).astype(str), "}")),
        }
    )

    frames = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "documents": documents, "events": events,
    }
    counts = {}
    for name, df in frames.items():
        for col in df.columns:
            if df[col].dtype.kind == "M":
                df[col] = df[col].astype("datetime64[us]")
            elif df[col].dtype.kind == "U":
                df[col] = df[col].astype(object)
        schema = pa.Schema.from_pandas(df, preserve_index=False)
        schema = pa.schema(
            [pa.field(f.name, pa.timestamp("us")) if str(f.type).startswith("timestamp")
             else f for f in schema]
        )
        order = rng_for(rows_seed, f"order.{name}").permutation(len(df))
        _write(df.iloc[order], os.path.join(out_dir, f"{name}.parquet"), schema)
        counts[name] = len(df)
    order = rng_for(rows_seed, "order.embeddings").permutation(n_vecs)
    pq.write_table(embeddings.take(order), os.path.join(out_dir, "embeddings.parquet"))
    counts["embeddings"] = n_vecs
    return counts
