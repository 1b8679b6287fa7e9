"""Seeded input generator for the benchmark.

Everything a run reads is made here from ``--seed``: the TPC-H-shaped
source tables (same schemas and value ranges as the engine's test
corpus, written as multi-file parquet directories), the versioned
``raw_*`` / ``landing_*`` sources of the dbt-style project, and the
incremental batches that land between project runs. The same seed
gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: int, rng, size) -> np.ndarray:
    """Midnight timestamps (µs) uniformly over ``n_days`` from ``start``."""
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(table: pa.Table, path: str, files: int) -> None:
    """One parquet directory of ``files`` part files (row-range split)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    files = max(1, min(files, n))
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _money(rng, lo: float, hi: float, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten corpus tables at scale ``sf`` (sf=1 ~ 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(15, int(15_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _EPOCH + (ts + 1_704_067_200 * 1_000_000).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for _ in range(n_docs):
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)]))
    # ~5% near-duplicates (and a few exact ones) so the dedup family
    # has clusters to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        src = texts[int(rng.integers(0, n_docs))]
        texts[i] = src if rng.random() < 0.2 else src + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_corpus(seed: int, sf: float, out_dir: str, files: int = 2) -> str:
    """Write the corpus tables as ``<out_dir>/<table>.parquet/`` dirs;
    the big tables are split into ``files`` part files."""
    big = {"orders", "lineitem", "events", "documents"}
    for name, table in corpus_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"),
               files if name in big else 1)
    return out_dir


# --------------------------------------------------------------------
# project sources: versioned raw tables + landing batches
# --------------------------------------------------------------------
PROJECT_SOURCES = ("customers", "orders", "lineitem", "events")
_T0 = dt.datetime(2024, 1, 1)


class ProjectData:
    """Versioned sources of the dbt-style project.

    ``raw_<src>`` holds every version ever landed (append-only, one
    part file per batch); ``landing_<src>`` holds only the latest
    batch. Batch 0 is the initial load; every later batch changes ~1%
    of existing customer/order keys (a new ``updated_at``) and adds ~1%
    new keys, with the line items and events of the new orders.
    A batch never carries two versions of one key.
    """

    def __init__(self, seed: int, sf: float, root: str, files: int = 4):
        self.rng = np.random.default_rng(seed + 7919)
        self.root = root
        self.files = files
        base = corpus_tables(seed, sf)
        self.nation = base["nation"]
        self.region = base["region"]
        c, o = base["customer"], base["orders"]
        self.n_cust, self.n_ord = c.num_rows, o.num_rows
        self.n_line = base["lineitem"].num_rows
        self.n_event = base["events"].num_rows
        self.batch = 0
        self.batch_rows: dict[str, int] = {}
        zero = np.full(c.num_rows, np.datetime64(_T0, "us"))
        self._land({
            "customers": c.append_column("updated_at", pa.array(zero)),
            "orders": o.append_column(
                "updated_at", pa.array(np.full(o.num_rows, np.datetime64(_T0, "us")))),
            "lineitem": base["lineitem"].append_column(
                "l_lineid", pa.array(np.arange(self.n_line, dtype=np.int64))),
            "events": base["events"],
        })

    def path(self, kind: str, src: str) -> str:
        return os.path.join(self.root, f"{kind}_{src}")

    def _land(self, tables: dict[str, pa.Table]) -> None:
        for src, table in tables.items():
            self.batch_rows[src] = table.num_rows
            raw = self.path("raw", src)
            os.makedirs(raw, exist_ok=True)
            if self.batch == 0:
                _write(table, raw, self.files)
            else:
                pq.write_table(table, os.path.join(raw, f"batch-{self.batch:05d}.parquet"))
            landing = self.path("landing", src)
            if os.path.isdir(landing):
                for f in os.listdir(landing):
                    os.remove(os.path.join(landing, f))
            _write(table, landing, self.files if self.batch == 0 else 1)

    def land_next(self) -> None:
        """Land one seeded batch: ~1% changed and ~1% new keys."""
        self.batch += 1
        rng = self.rng
        ts = np.datetime64(_T0 + dt.timedelta(hours=self.batch), "us")
        k_c = max(2, self.n_cust // 100)
        changed_c = rng.choice(self.n_cust, k_c, replace=False)
        new_c = np.arange(self.n_cust, self.n_cust + k_c)
        self.n_cust += k_c
        cust_keys = np.concatenate([changed_c, new_c]).astype(np.int64)
        n = len(cust_keys)
        customers = pa.table({
            "c_custkey": cust_keys,
            "c_name": [f"Customer#{k:09d}" for k in cust_keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
            "updated_at": np.full(n, ts),
        })
        k_o = max(2, self.n_ord // 100)
        changed_o = rng.choice(self.n_ord, k_o, replace=False)
        new_o = np.arange(self.n_ord, self.n_ord + k_o)
        self.n_ord += k_o
        ord_keys = np.concatenate([changed_o, new_o]).astype(np.int64)
        n = len(ord_keys)
        orders = pa.table({
            "o_orderkey": ord_keys,
            "o_custkey": rng.integers(0, self.n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500_000, n),
            "o_orderdate": _days("1995-01-01", 2404, rng, n),
            "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n)],
            "updated_at": np.full(n, ts),
        })
        n = 4 * k_o
        lineitem = pa.table({
            "l_orderkey": rng.choice(new_o, n).astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days("1995-01-02", 2498, rng, n),
            "l_lineid": np.arange(self.n_line, self.n_line + n, dtype=np.int64),
        })
        self.n_line += n
        n = max(10, self.n_event // 100)
        events = pa.table({
            "event_id": np.arange(self.n_event, self.n_event + n, dtype=np.int64),
            "ts": np.full(n, np.datetime64("2024-01-31", "us"))
            + np.sort(rng.integers(0, _DAY_US, n)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, self.n_cust // 10), n).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
        self.n_event += n
        self._land({"customers": customers, "orders": orders,
                    "lineitem": lineitem, "events": events})

    def static_tables(self) -> dict[str, pa.Table]:
        return {"nation": self.nation, "region": self.region}
