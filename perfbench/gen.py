"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow: the same seed gives byte-identical
corpora, request streams and tables, and nothing touches Spark.

- ``store_corpus``/``search_requests``: a Gaussian-mixture feature corpus
  (so IVF cells mean something) with JSON labels whose optional paths are
  sometimes absent, ~5 % already-expired TTL rows, and a search stream
  that cycles through every search kind in seeded order.
- ``WriteStream``: upsert batches (new, changed, byte-identical and
  short-TTL rows) with maintenance and searches at fixed places in a
  round, kept in step with the generator's own model of the store.
- ``analytics_tables``: TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` tables in the registry's column layout.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
EXPIRED_AT = dt.datetime(2000, 1, 1)  # long past: the row is dead on arrival
FUTURE_AT = dt.datetime(2200, 1, 1)  # TTL row that stays live
# mixture components overlap (unit-normal centers, unit spread), so an IVF
# probe of a few cells misses some true neighbours
SPREAD = 0.8

# datum columns in FeatureStore's layout (veri_spark.store.DATUM_SCHEMA);
# the store null-pads the dim/size columns it does not receive
DATUM_ARROW = pa.schema(
    [
        ("feature", pa.list_(pa.float32())),
        ("group_label", pa.string()),
        ("label", pa.string()),
        ("version", pa.int64()),
        ("expire_at", pa.timestamp("us", tz="UTC")),  # Spark TIMESTAMP, not _NTZ
    ]
)


def write_datums(path: str, rows: dict) -> str:
    """Write datum columns (``feature`` as an (n, DIM) float32 array) to one
    parquet file and return its path."""
    cols = dict(rows)
    feats = np.asarray(cols.pop("feature"), dtype=np.float32)
    flat = pa.array(feats.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, feats.size + 1, DIM, dtype=np.int32))
    arrays = [pa.ListArray.from_arrays(offsets, flat)]
    for field in list(DATUM_ARROW)[1:]:
        arrays.append(pa.array(cols[field.name], type=field.type))
    pq.write_table(pa.Table.from_arrays(arrays, schema=DATUM_ARROW), path)
    return path


# ---------------------------------------------------------------------------
# store
# ---------------------------------------------------------------------------


def _mixture(rng: np.random.Generator, n: int, centers: np.ndarray, spread: float):
    comp = rng.integers(0, len(centers), n)
    x = centers[comp] + spread * rng.standard_normal((n, centers.shape[1]))
    return x.astype(np.float32), comp


def _label(row_id: int, version: int, tag: int | None = None) -> str:
    """Durable rows carry ``k``; about half carry the optional ``tag``."""
    d = {"k": row_id, "v": version}
    if tag is not None:
        d["tag"] = tag
    return json.dumps(d)


class StoreModel:
    """The generator's own model of the store dataset: live rows by row id
    (feature, group label, label, version, expiry). Rows that are dead on
    arrival or short-lived are never in it: they must be invisible to
    searches and gone after ``expire_now``."""

    def __init__(self) -> None:
        self.durable: dict[int, dict] = {}
        # every durable row's feature by row id, deleted rows included: a
        # damped index may still serve a row's older label or a deleted row
        self.features: dict[int, np.ndarray] = {}

    def add(self, row_id: int, row: dict) -> None:
        self.durable[row_id] = row
        self.features[row_id] = row["feature"]

    def arrays(self):
        """``(features, labels, groups)`` of the live rows, in row-id order."""
        ids = sorted(self.durable)
        rows = [self.durable[i] for i in ids]
        feats = np.stack([r["feature"] for r in rows])
        return feats, [r["label"] for r in rows], [r["group"] for r in rows]


def store_corpus(seed: int, n_rows: int, n_clusters: int = 24):
    """The bulk-load corpus as datum columns, its model, and the mixture
    centers. ``tag`` sits on about half the labels (the filtered search),
    ``vip`` on about a fifth of the group labels; 5 % of the rows are
    already expired and 5 % carry a far-future TTL."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.standard_normal((n_clusters, DIM))
    feats, comp = _mixture(rng, n_rows, centers, SPREAD)
    has_tag = rng.random(n_rows) < 0.5
    vip = rng.random(n_rows) < 0.2
    ttl = rng.random(n_rows)
    model = StoreModel()
    rows = {"feature": feats, "label": [], "group_label": [], "version": [0] * n_rows,
            "expire_at": []}
    for i in range(n_rows):
        label = _label(i, 0, int(comp[i]) if has_tag[i] else None)
        group = json.dumps({"g": int(comp[i]) % 8, "vip": 1} if vip[i] else {"g": int(comp[i]) % 8})
        expire = EXPIRED_AT if ttl[i] < 0.05 else FUTURE_AT if ttl[i] < 0.10 else None
        rows["label"].append(label)
        rows["group_label"].append(group)
        rows["expire_at"].append(expire)
        if expire is not EXPIRED_AT:
            model.add(i, {"feature": feats[i], "group": group, "label": label,
                          "version": 0, "expire": expire})
    return rows, model, centers


# one round of searches, in seeded order: a coverage mix, not measured
# traffic. Every kind once; ``cached`` twice, a miss that fills the result
# cache and then a hit.
SEARCH_ROUND = {
    "exact": 1,
    "cosine": 1,
    "filtered": 1,
    "grouped": 1,
    "context": 1,
    "approx": 1,
    "batch": 1,
    "cached": 2,
}


def _near(rng: np.random.Generator, centers: np.ndarray) -> list[float]:
    """A query drawn from the mixture, a little wider than the corpus."""
    c = centers[rng.integers(0, len(centers))]
    return [float(v) for v in c + 1.5 * SPREAD * rng.standard_normal(len(c))]


def search_requests(seed: int, centers: np.ndarray, n_rounds: int, stream: int = 2) -> list[dict]:
    """A seeded list of search requests: ``{"kind", "queries", "context"}``;
    ``stream`` selects an independent request stream for the same seed. All
    ``cached`` requests of a stream repeat one query."""
    rng = np.random.default_rng([seed, stream])
    repeated = _near(rng, centers)
    kinds = [k for k, n in SEARCH_ROUND.items() for _ in range(n)]
    out: list[dict] = []
    for _ in range(n_rounds):
        for j in rng.permutation(len(kinds)):
            kind = kinds[j]
            if kind == "cached":
                queries = [repeated]
            elif kind == "batch":
                queries = [_near(rng, centers) for _ in range(8)]
            else:
                queries = [_near(rng, centers)]
            context = [_near(rng, centers)] if kind == "context" else []
            out.append({"kind": kind, "queries": queries, "context": context})
    return out


# one round of writes, a coverage mix like SEARCH_ROUND. The first
# approximate search follows a refresh (served from the persisted index),
# the second follows a write (the stale-index fallback); the short-TTL rows
# of the second upsert have lapsed by the time ``expire`` runs.
WRITE_ROUND = (
    "upsert", "refresh", "approx",
    "upsert", "search", "approx",
    "expire", "delete",
)
BATCH_MIX = {"new": 0.5, "changed": 0.25, "same": 0.15, "ttl": 0.10}


class WriteStream:
    """Seeded write-op stream over a :class:`StoreModel`. ``next()`` returns
    the next op dict and applies its effect to the model, so the model always
    describes the store after every op handed out so far."""

    def __init__(self, seed: int, model: StoreModel, centers: np.ndarray,
                 batch_rows: int, delete_rows: int = 20):
        self.rng = np.random.default_rng([seed, 4])
        self.model = model
        self.centers = centers
        self.batch_rows = batch_rows
        self.delete_rows = delete_rows
        self.next_id = max(model.durable, default=-1) + 1
        self.i = 0
        self.last_written: int | None = None

    def _new_feature(self) -> np.ndarray:
        c = self.centers[self.rng.integers(0, len(self.centers))]
        return (c + SPREAD * self.rng.standard_normal(DIM)).astype(np.float32)

    def _pick(self, n: int) -> list[int]:
        ids = np.fromiter(self.model.durable, dtype=np.int64)
        return [int(x) for x in self.rng.choice(ids, size=min(n, len(ids)), replace=False)]

    def _upsert(self) -> dict:
        counts = {k: int(round(v * self.batch_rows)) for k, v in BATCH_MIX.items()}
        rows = {"feature": [], "label": [], "group_label": [], "version": [], "expire_at": [],
                "ttl": []}

        def add(d, ttl=False):
            rows["feature"].append(d["feature"])
            rows["group_label"].append(d["group"])
            rows["label"].append(d["label"])
            rows["version"].append(d["version"])
            rows["expire_at"].append(d["expire"])
            rows["ttl"].append(ttl)

        picked = self._pick(counts["changed"] + counts["same"])
        for rid in picked[counts["changed"]:]:  # byte-identical re-sends
            add(self.model.durable[rid])
        for rid in picked[: counts["changed"]]:
            d = self.model.durable[rid]
            d["version"] += 1
            tag = json.loads(d["label"]).get("tag")
            d["label"] = _label(rid, d["version"], tag)
            add(d)
            self.last_written = rid
        for _ in range(counts["new"]):
            rid = self.next_id
            self.next_id += 1
            d = {"feature": self._new_feature(), "group": json.dumps({"g": int(self.rng.integers(0, 8))}),
                 "label": _label(rid, 0), "version": 0, "expire": None}
            self.model.add(rid, d)
            add(d)
            self.last_written = rid
        for _ in range(counts["ttl"]):
            rid = self.next_id
            self.next_id += 1
            # short-lived rows carry no "k": filtered searches never see them
            add({"feature": self._new_feature(), "group": json.dumps({"g": 9}),
                 "label": json.dumps({"t": rid}), "version": 0, "expire": None}, ttl=True)
        rows["feature"] = np.stack(rows["feature"])
        return {"op": "upsert", "rows": rows}

    def peek(self) -> str:
        """The kind of the op ``next()`` would hand out."""
        return WRITE_ROUND[self.i % len(WRITE_ROUND)]

    def next(self) -> dict:
        kind = self.peek()
        self.i += 1
        if kind == "upsert":
            return self._upsert()
        if kind == "delete":
            victims = self._pick(self.delete_rows)
            labels = [self.model.durable.pop(rid)["label"] for rid in victims]
            return {"op": "delete", "labels": labels}
        if kind in ("search", "approx"):
            # query = the feature of the latest write: the top hit must be
            # that row at distance 0, with its newest label
            rid = self.last_written
            if rid is None or rid not in self.model.durable:
                rid = self._pick(1)[0]
            feat = self.model.durable[rid]["feature"]
            return {"op": kind, "query": [float(v) for v in feat]}
        return {"op": kind}


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

ANALYTICS_SEED = 42  # the tables are fixed; the run seed permutes query order
_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()


def _ts(rng, n, start: dt.datetime, days: int, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = np.sort(rng.integers(0, days * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.array(base + off, type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(out_dir: str, scale: float) -> dict[str, int]:
    """Write the ten registry tables to ``out_dir`` (fixed seed; ``scale`` 1.0
    is sf0.1-sized) and return their row counts."""
    rng = np.random.default_rng(ANALYTICS_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_line, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc, n_emb = max(int(5000 * scale), 200), max(int(2000 * scale), 200)
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    adjs = "red new hot blue large small green old".split()
    nouns = "bolt anvil ring rod plate gear nut pipe".split()

    def ints(lo, hi, n, dtype=pa.int64()):
        return pa.array(rng.integers(lo, hi, n), type=dtype)

    def choice(opts, n):
        return pa.array([opts[i] for i in rng.integers(0, len(opts), n)], type=pa.string())

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": ints(0, 25, n_cust, pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": choice(segs, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": ints(0, 25, n_supp, pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), type=pa.int64()),
            "p_name": pa.array(
                [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": choice([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": ints(1, 51, n_part, pa.int32()),
            "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n_part)]),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), type=pa.int64()),
            "o_custkey": ints(0, n_cust, n_ord),
            "o_orderstatus": choice(["O", "F", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000)),
            "o_orderdate": _ts(rng, n_ord, dt.datetime(1995, 1, 1), 2404, True),
            "o_orderpriority": choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": ints(0, n_ord, n_line),
            "l_partkey": ints(0, n_part, n_line),
            "l_suppkey": ints(0, n_supp, n_line),
            "l_linenumber": ints(1, 8, n_line, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": choice(["N", "R", "A"], n_line),
            "l_linestatus": choice(["F", "O"], n_line),
            "l_shipdate": _ts(rng, n_line, dt.datetime(1995, 1, 2), 2498, True),
        },
        "events": {
            "event_id": pa.array(range(n_ev), type=pa.int64()),
            "ts": _ts(rng, n_ev, dt.datetime(2024, 1, 1), 30, False),
            "user_id": ints(0, 1500, n_ev),
            "event_type": choice(["signup", "purchase", "view", "click", "error"], n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.04:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            [["en", "en", "en", "zh", "es", "fr", "de"][j] for j in rng.integers(0, 7, n_doc)]
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }
    centers = rng.standard_normal((10, DIM))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + 1.2 * rng.standard_normal((n_emb, DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, emb.size + 1, DIM, dtype=np.int32))
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_emb), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1))),
        "label": pa.array(labels, type=pa.int32()),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
