"""Seeded input generators. Every input the benchmark feeds the engine is
made here from ``numpy.random.default_rng(seed)``, so one seed gives
byte-identical files; generation time is never part of a metric.

- ``star_schema``: the TPC-H-style tables plus ``events``, ``documents`` and
  ``embeddings`` that the registry queries read, in the layout and value
  domains of the engine's test data (``<dir>/<table>.parquet``).
- ``retail_sales``: the paper's two sales channels, resampled from the
  committed reference sample (FIXTURES F1/F2: its dirty-row share and mix,
  its two days) with F5 all-string typing and a Zipf-skewed ``product_id``
  fitted to that sample: the "online" channel as parquet partitioned by
  ``sale_date``, the "in_store" channel as one CSV file.
- ``ingest_batches``: micro-batch document files drawn with replacement
  from the generated ``documents``, so some texts repeat within a batch
  and against earlier batches; the expected ingest funnel of every batch
  is returned with them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
P_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot"]
P_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000
FILE_EPOCH_S = 1_704_067_200  # 2024-01-01, the micro-batch files' mtime


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; one in twenty is a near-duplicate of an
    earlier document (two words swapped out, then `` dup`` appended), the
    share of such documents in the engine's test data."""
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            words = texts[int(rng.integers(len(texts)))].split()
            for j in rng.integers(len(words), size=2):
                words[j] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=k)))
    return texts


def star_schema(out_dir: str, rng: np.random.Generator, n_orders: int, n_docs: int) -> dict[str, int]:
    """Write the ten query tables; return ``{table: rows}``. ``n_orders``
    sets the relational scale (about four lines per order), ``n_docs`` the
    corpus size (documents and embeddings alike)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_orders * 2 // 15, 20)
    n_supp = max(n_orders // 150, 5)
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, f"{out_dir}/{name}.parquet")
        rows[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(5, size=n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(rng.integers(7, size=n_part), rng.integers(8, size=n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    odate = EPOCH_1995 + rng.integers(0, 2404, size=n_orders) * DAY_US
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(n_cust, size=n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(3, size=n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(5, size=n_orders)],
    })
    lines_per = rng.integers(1, 8, size=n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    partkey = rng.integers(n_part, size=n_li)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(n_supp, size=n_li),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(20, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(3, size=n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(2, size=n_li)],
        "l_shipdate": odate[okey] + rng.integers(1, 122, size=n_li) * DAY_US,
    })
    n_ev = n_orders * 2 // 3
    n_users = max(n_ev // 66, 5)
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, size=n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(n_users, size=n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(5, size=n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(100, size=n_ev)],
    })
    texts = _docs(rng, n_docs)
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(len(LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(10, size=n_docs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows


# The committed reference sample (FIXTURES F2; the engine's
# sources/retail_seed.py): per channel ten valid rows, five on each of two
# days, and five dirty rows on the second day -- zero, negative and null
# quantity, negative and null amount. ``(product_id, quantity,
# sale_amount, day)``.
REFERENCE_ROWS = {
    "online": [
        (101, 3, 60.0, 0), (102, 2, 45.0, 0), (103, 1, 30.0, 0), (104, 2, 40.0, 0), (105, 1, 22.5, 0),
        (101, 4, 120.0, 1), (102, 2, 55.0, 1), (103, 3, 75.0, 1), (105, 1, 20.0, 1), (106, 2, 55.0, 1),
        (101, 0, 10.0, 1), (102, -1, 20.0, 1), (103, 2, -5.0, 1), (104, None, 30.0, 1), (105, 2, None, 1),
    ],
    "in_store": [
        (101, 2, 40.0, 0), (102, 1, 25.0, 0), (103, 3, 75.0, 0), (101, 1, 20.0, 0), (102, 2, 50.0, 0),
        (104, 5, 125.0, 1), (105, 1, 35.5, 1), (101, 3, 60.0, 1), (102, 2, 50.0, 1), (106, 4, 80.0, 1),
        (103, 0, 30.0, 1), (104, -1, 25.0, 1), (105, None, 45.0, 1), (106, 2, -15.0, 1), (101, 3, None, 1),
    ],
}


def reference_zipf() -> tuple[np.ndarray, np.ndarray]:
    """Product keys of the reference sample and a Zipf distribution over
    them, truncated to those keys and renormalised: keys ranked by their
    row count in the sample, exponent the least-squares slope of log count
    over log rank (about 0.42)."""
    keys, counts = np.unique([r[0] for rows in REFERENCE_ROWS.values() for r in rows], return_counts=True)
    order = np.argsort(-counts, kind="stable")
    ranks = np.arange(1, len(keys) + 1)
    s = -np.polyfit(np.log(ranks), np.log(counts[order]), 1)[0]
    p = ranks ** -s
    return keys[order], p / p.sum()


def _channel(rng: np.random.Generator, n: int, channel: str, days: list[str]) -> dict:
    """``n`` rows of one channel as strings (F5, null as pandas' ``"nan"``):
    each row's quantity, amount and day are those of a reference row of the
    channel drawn uniformly, so the dirty share (one in three), the mix of
    dirt kinds and the day split are the sample's; ``product_id`` is drawn
    from :func:`reference_zipf`. ``sale_id`` restarts at 1 in each channel,
    colliding across channels as in F1."""
    ref = REFERENCE_ROWS[channel]
    pick = rng.integers(len(ref), size=n)
    keys, p = reference_zipf()
    product = keys[rng.choice(len(keys), size=n, p=p)]

    def text(v):
        return "nan" if v is None else str(v)

    cols = [[text(r[i]) for r in ref] for i in (1, 2)]
    return {
        "sale_id": [str(i) for i in range(1, n + 1)],
        "product_id": [str(k) for k in product],
        "quantity": [cols[0][i] for i in pick],
        "sale_amount": [cols[1][i] for i in pick],
        "sale_date": [days[ref[i][3]] for i in pick],
    }


def retail_sales(out_dir: str, rng: np.random.Generator, n_rows: int) -> dict:
    """Write ``online/`` (parquet, one directory per ``sale_date``) and
    ``in_store.csv``; half the rows each, over the reference's two days.
    Returns paths, row and byte counts, and the list of days."""
    days = [(dt.date(2024, 3, 1) + dt.timedelta(days=i)).isoformat() for i in range(2)]
    online = _channel(rng, n_rows // 2, "online", days)
    store = _channel(rng, n_rows - n_rows // 2, "in_store", days)
    online_dir = os.path.join(out_dir, "online")
    csv_path = os.path.join(out_dir, "in_store.csv")
    n_bytes = 0
    t = pa.table({**online, "source": ["online"] * len(online["sale_id"])})
    order = np.argsort(np.array(online["sale_date"]), kind="stable")
    t = t.take(pa.array(order))
    for day in days:
        part = t.filter(pc.equal(t["sale_date"], day)).drop_columns(["sale_date"])
        os.makedirs(os.path.join(online_dir, f"sale_date={day}"), exist_ok=True)
        n_bytes += _write(part, os.path.join(online_dir, f"sale_date={day}", "part-0.parquet"))
    pacsv.write_csv(pa.table({**store, "source": ["in_store"] * len(store["sale_id"])}), csv_path)
    n_bytes += os.path.getsize(csv_path)
    return {"online": online_dir, "in_store": csv_path, "rows": n_rows, "bytes": n_bytes, "days": days}


def ingest_batches(out_dir: str, rng: np.random.Generator, docs_path: str, n_batches: int, batch_size: int) -> dict:
    """Write ``n_batches`` parquet files of ``(doc_id, text)``, one per
    micro-batch, in lexical (= arrival, = modification time) order. Each batch draws its texts
    uniformly with replacement from the documents at ``docs_path``, so a
    text can repeat within a batch and against earlier batches; the shares
    of both follow from the draw. Returns the files, each batch's expected
    funnel ``(n_batch, n_within_dup, n_hist_dup, n_accepted)`` and the
    overall repeat shares."""
    os.makedirs(out_dir, exist_ok=True)
    pool = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
    seen: set[str] = set()
    funnels = []
    n_bytes = 0
    for b in range(n_batches):
        texts = [pool[i] for i in rng.integers(len(pool), size=batch_size)]
        unique = set(texts)
        novel = unique - seen
        seen |= novel
        ids = np.arange(b * batch_size, (b + 1) * batch_size, dtype=np.int64)
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        n_bytes += _write(pa.table({"doc_id": ids, "text": texts}), path)
        # the stream takes files in modification-time order, at millisecond
        # resolution and in directory order on a tie, so each file gets its
        # own second
        os.utime(path, (FILE_EPOCH_S + b, FILE_EPOCH_S + b))
        funnels.append((batch_size, batch_size - len(unique), len(unique) - len(novel), len(novel)))
    rows = n_batches * batch_size
    return {
        "dir": out_dir,
        "funnels": funnels,
        "rows": rows,
        "bytes": n_bytes,
        "within_dup_share": sum(f[1] for f in funnels) / rows,
        "hist_dup_share": sum(f[2] for f in funnels) / rows,
    }
