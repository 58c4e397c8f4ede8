"""Seeded input generators for the benchmark workloads.

Everything the engine reads in a benchmark run is written here from the
run's seed: the same seed gives byte-identical inputs.  Each generator
also returns the ground truth it planted, so the workload can check the
engine's output against a model computed from the inputs alone.

- :func:`write_tpch` — the ten star-schema tables the registry queries
  read (region … embeddings), with the column names, types and value
  shapes of the engine's sf0.01 test tables.
- :class:`Medallion` — workshop-shaped raw files: stores/users CSV,
  products JSON and monthly sales JSON with nested line items, with
  planted duplicates, invalid store ids and type-mismatched fields, plus
  change batches (renames, inserts, deletes) for the users dimension.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000

# row counts of the engine's sf0.01 test tables (lineitem ≈ 4 lines/order)
TPCH_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _us(date: str) -> int:
    return int(dt.datetime.fromisoformat(date).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    days = (_us(hi) - _us(lo)) // DAY_US
    return _us(lo) + rng.integers(0, days, n) * DAY_US


def _write(path: str, cols: dict, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.table(cols, schema=schema), path)


def lineitem(rng, n_orders: int, n_parts: int, n_supps: int) -> dict:
    """Lineitem columns, 1–7 lines per order, so (l_orderkey,
    l_linenumber) is a unique key."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n = len(okey)
    return {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supps, n),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04").astype("datetime64[us]"),
    }


def write_tpch(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the ten registry tables under ``out_dir``; ``scale`` 1.0 is
    sf0.01-sized (lineitem ≈ 60k rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(10, int(v * scale)) for k, v in TPCH_ROWS.items()}
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(p("nation"), {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    c = n["customer"]
    _write(p("customer"), {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    _write(p("supplier"), {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    })
    pt = n["part"]
    adj = ["large", "hot", "blue", "old", "small", "red", "new", "cold"]
    noun = ["ring", "bolt", "plate", "gear", "anvil", "widget", "rod", "pipe"]
    _write(p("part"), {
        "p_partkey": np.arange(pt, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (pt, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pt)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], pt),
        "p_size": rng.integers(1, 51, pt).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(pt) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    _write(p("orders"), {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, o), 2),
        "o_orderdate": _dates(rng, o, "1995-01-01", "2001-08-02").astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    _write(p("lineitem"), lineitem(rng, o, pt, s), LINEITEM_SCHEMA)
    e = n["events"]
    # distinct, increasing microsecond timestamps over 30 days
    ts = _us("2024-01-01") + np.sort(rng.choice(30 * DAY_US, e, replace=False))
    _write(p("events"), {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, e),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], e),
        "value": np.round(np.minimum(rng.exponential(60, e), 499.99) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, d)]
    for i in rng.choice(d, max(1, d // 20), replace=False):  # planted near-duplicates
        texts[i] = texts[(i + 1) % d] + " dup"
    _write(p("documents"), {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, m)
    vec = 0.15 * centers[label] + rng.normal(0, 0.125, (m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return out_dir


# --------------------------------------------------------------- medallion

_CITIES = {"SYD": "AUS", "MEL": "AUS", "BNE": "AUS", "AKL": "NZL", "WLG": "NZL",
           "SIN": "SGP", "TYO": "JPN", "OSA": "JPN"}


def _utc(ts: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc)


class Medallion:
    """Workshop-shaped landing data for the DLT workload.

    Monthly sales files carry, per month, a seeded share of:
    - re-sent duplicates of earlier sales (same ``SaleID``, later
      ``exported_ts``, state CANCELED) — dedup-latest must keep the resend;
    - invalid store ids (``Location`` not 5 characters) — dropped;
    - ``ts`` as a date string instead of epoch seconds — rescued into
      ``_rescued_data`` and repaired;
    - ``CustomerID`` as a string — rescued and quarantined.
    The last three sets are disjoint; ``truth`` counts all four per file.

    The users dimension changes between months: :meth:`user_changes`
    writes a batch of renames and new users (to MERGE) and picks users to
    delete, all drawn from the most recent tenth of user ids, so a table
    Z-ordered by id has files no batch touches; ``user_versions`` is the
    model of every table version."""

    SALES_PER_MONTH = 300
    USERS = 5_000
    RENAMES, NEW_USERS, DELETED_USERS = 60, 20, 3

    def __init__(self, root: str, seed: int, scale: float = 1.0):
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.seed = seed
        self.sales_per_month = max(60, int(self.SALES_PER_MONTH * scale))
        rng = np.random.default_rng([seed, 2])
        cities = list(_CITIES)
        self.stores = [(f"{cities[i % 8]}{i // 8 + 1:02d}", _CITIES[cities[i % 8]]) for i in range(24)]
        self.users = {u: f"User {u:05d}" for u in range(1, max(100, int(self.USERS * scale)) + 1)}
        self.user_versions = [dict(self.users)]  # dim_users, by table version
        self.user_batches: list[dict] = []  # planted mix, per change batch
        self.products = {
            f"p{i:03d}": int(rng.integers(150, 2500)) for i in range(120)
        }
        self.months: list[list[dict]] = []  # landed records, per file
        self.truth: list[dict] = []  # planted counts, per file
        self._sent: list[dict] = []  # clean sales, candidates for resend
        os.makedirs(self.landing, exist_ok=True)

    def write_dimensions(self) -> dict[str, str]:
        paths = {k: os.path.join(self.root, f) for k, f in
                 [("stores", "stores.csv"), ("users", "users.csv"), ("products", "products.json")]}
        with open(paths["stores"], "w") as f:
            f.write("id,name,country_code\n")
            f.writelines(f"{sid},Store {sid},{cc}\n" for sid, cc in self.stores)
        with open(paths["users"], "w") as f:
            f.write("user_id,name\n")
            f.writelines(f"{u},{n}\n" for u, n in self.users.items())
        with open(paths["products"], "w") as f:
            f.writelines(json.dumps({"product_id": p, "name": f"Product {p}", "price_cents": c}) + "\n"
                         for p, c in self.products.items())
        return paths

    def user_changes(self) -> tuple[str, list[int]]:
        """Next users change batch: (CSV of upserts, ids to delete).
        Applies it to the model as two table versions (MERGE, DELETE) and
        records its update/insert/delete mix in ``user_batches``."""
        t = len(self.months)
        rng = np.random.default_rng([self.seed, 4, t])
        ids = np.array(sorted(self.users))
        recent = ids[ids >= np.quantile(ids, 0.9)]

        renamed = [int(u) for u in rng.choice(recent, min(self.RENAMES, len(recent) // 2), replace=False)]
        upserts = {u: f"{self.users[u]} r{t}" for u in renamed}
        first_new = int(ids.max()) + 1
        upserts.update({u: f"User {u:05d}" for u in range(first_new, first_new + self.NEW_USERS)})
        deleted = sorted(int(u) for u in rng.choice(
            np.setdiff1d(recent, renamed), self.DELETED_USERS, replace=False))
        self.users.update(upserts)
        self.user_versions.append(dict(self.users))
        for u in deleted:
            del self.users[u]
        self.user_versions.append(dict(self.users))
        path = os.path.join(self.root, f"user_changes_{t:03d}.csv")
        with open(path, "w") as f:
            f.write("user_id,name\n")
            f.writelines(f"{u},{n}\n" for u, n in upserts.items())
        self.user_batches.append(
            {"updates": len(renamed), "inserts": self.NEW_USERS, "deletes": len(deleted)})
        return path, deleted

    def add_version(self) -> None:
        """A table version that changes no rows (OPTIMIZE)."""
        self.user_versions.append(dict(self.users))

    def land_month(self) -> str:
        """Write the next month's sales file; returns its path."""
        m = len(self.months)
        rng = np.random.default_rng([self.seed, 3, m])
        year, month = 2023 + m // 12, m % 12 + 1
        t0 = int(dt.datetime(year, month, 1, tzinfo=dt.timezone.utc).timestamp())
        pids, users = list(self.products), sorted(self.users)
        recs = []
        truth = {"records": 0, "dropped": 0, "quarantined": 0, "rescued": 0, "resent": 0}
        for i in range(self.sales_per_month):
            ts = t0 + int(rng.integers(0, 27 * 86_400))
            items = [{"id": pids[int(rng.integers(len(pids)))], "qty": int(rng.integers(1, 5))}
                     for _ in range(int(rng.integers(1, 5)))]
            for it in items:
                it["cost_cents"] = self.products[it["id"]]
            rec = {
                "SaleID": f"s{m:03d}-{i:04d}", "ts": ts, "exported_ts": ts + 3600,
                "CustomerID": users[int(rng.integers(len(users)))],
                "Location": self.stores[int(rng.integers(len(self.stores)))][0],
                "OrderSource": "ONLINE" if rng.random() < 0.5 else "INSTORE",
                "STATE": "COMPLETED", "SaleItems": json.dumps(items),
            }
            roll = rng.random()
            if roll < 0.03:
                rec["Location"] = rec["Location"][:3]
                truth["dropped"] += 1
            elif roll < 0.05:
                rec["ts"] = _utc(ts).strftime("%Y-%m-%d %H:%M:%S")
                truth["rescued"] += 1
                self._sent.append(rec)
            elif roll < 0.06:
                rec["CustomerID"] = f"C-{rec['CustomerID']}"
                truth["rescued"] += 1
                truth["quarantined"] += 1
            else:
                self._sent.append(rec)
            recs.append(rec)
        # resend ~3% of earlier clean sales as cancellations (latest wins)
        for j in rng.choice(len(self._sent), self.sales_per_month // 30, replace=False):
            orig = self._sent[int(j)]
            truth["rescued"] += isinstance(orig["ts"], str)
            truth["resent"] += 1
            # exported after every original of this month: strictly latest
            recs.append(dict(orig, STATE="CANCELED", exported_ts=t0 + 28 * 86_400 + int(j)))
        truth["records"] = len(recs)
        path = os.path.join(self.landing, f"sales_{year}_{month:02d}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in recs)
        self.months.append(recs)
        self.truth.append(truth)
        return path

    def model(self, months: int, users: dict[int, str]):
        """Expected tables once the first ``months`` files are processed
        with dimension ``users``: gold (country, month) → (n_sales,
        revenue_cents), gold store → top-3 [(customer, name, spend_cents)],
        and the deduplicated sale count."""
        latest: dict[str, tuple] = {}
        for m, recs in enumerate(self.months[:months]):
            for r in recs:
                if len(r["Location"]) != 5 or isinstance(r["CustomerID"], str):
                    continue
                ts = r["ts"]
                if isinstance(ts, str):
                    ts = int(dt.datetime.fromisoformat(ts).replace(tzinfo=dt.timezone.utc).timestamp())
                key = (r["exported_ts"], m)  # later export, then later file, wins
                if r["SaleID"] not in latest or key >= latest[r["SaleID"]][0]:
                    latest[r["SaleID"]] = (key, dict(r, ts=ts))
        country = dict(self.stores)
        by_month: dict[tuple, list] = {}
        spend: dict[str, dict[int, int]] = {}
        for _, r in latest.values():
            if r["STATE"] != "COMPLETED":
                continue
            total = sum(it["qty"] * it["cost_cents"] for it in json.loads(r["SaleItems"]))
            agg = by_month.setdefault((country[r["Location"]], _utc(r["ts"]).strftime("%Y-%m")), [0, 0])
            agg[0] += 1
            agg[1] += total
            if r["CustomerID"] in users:
                per = spend.setdefault(r["Location"], {})
                per[r["CustomerID"]] = per.get(r["CustomerID"], 0) + total
        top = {
            store: [(c, users[c], v) for c, v in sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))[:3]]
            for store, per in spend.items()
        }
        return {k: tuple(v) for k, v in by_month.items()}, top, len(latest)
