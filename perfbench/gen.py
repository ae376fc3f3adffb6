"""Seeded input generators for the benchmark workloads.

Every generator takes the run's ``--seed`` and nothing else that varies,
so the same seed yields byte-identical inputs and a different seed yields
different ones (``tests/test_helpers.py`` pins both). The engine only ever
sees what these functions return: parquet files written into the run's
work root, rows served over HTTP, or DataFrames built from plain rows.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# report_reads: a TPC-H-shaped star schema plus events / documents, with the
# column set and value domains of the engine's reference test tables.
# --------------------------------------------------------------------------

REPORT_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Row counts per table. Small enough that one query finishes in well under a
#: second once warm on four cores, large enough that every operator shuffles.
REPORT_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "filter stream group big"
).split()
_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01
_EPOCH_2024_MS = 1_704_067_200_000  # 2024-01-01


def _ms_to_ts(ms: np.ndarray, unit: str = "ms") -> pa.Array:
    if unit == "ns":
        return pa.array(ms.astype("int64") * 1_000_000, pa.timestamp("ns"))
    return pa.array(ms.astype("int64"), pa.timestamp("ms"))


#: The report corpus draws from a wider vocabulary than the service docs, so
#: unrelated documents rarely share band keys and the planted near-copies
#: are what the near-duplicate operators find.
_REPORT_VOCAB = _WORDS + [f"w{i}" for i in range(400)]


def _doc_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(10, 90))
    return " ".join(_REPORT_VOCAB[int(i)] for i in rng.integers(0, len(_REPORT_VOCAB), n))


def report_tables(seed: int) -> dict[str, pa.Table]:
    """The report_reads input tables for ``seed`` (pure function)."""
    rng = np.random.default_rng([seed, 1])
    n = REPORT_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        # every nation gets the same number of suppliers, so the one-nation
        # queries (tpch_q21) always have suppliers to report
        "s_nationkey": pa.array(rng.permutation(np.arange(n["supplier"]) % 25), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old", "tiny"])
    noun = np.array(["ring", "widget", "anvil", "gear", "bolt", "plate", "spring", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    nord = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    order_ms = _EPOCH_1995_MS + rng.integers(0, 2400, nord) * _DAY_MS
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(nord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], nord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, nord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, nord), 2),
        "o_orderdate": _ms_to_ts(order_ms),
        "o_orderpriority": prio[rng.integers(0, 5, nord)],
    })
    nli = n["lineitem"]
    qty = rng.integers(1, 51, nli).astype("float64")
    l_order = rng.integers(0, nord, nli)
    # ships 1-90 days after its order (the TPC-H relation), so about a third
    # of the lines of an order are late by tpch_q21's 60-day rule
    ship_ms = order_ms[l_order] + rng.integers(1, 91, nli) * _DAY_MS
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nli), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nli), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nli), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nli), 2),
        "l_discount": np.round(rng.integers(0, 11, nli) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nli) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nli)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nli)],
        "l_shipdate": _ms_to_ts(ship_ms),
    })
    nev = n["events"]
    ev_ms = np.sort(_EPOCH_2024_MS + rng.integers(0, 30 * _DAY_MS, nev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(nev), pa.int64()),
        "ts": _ms_to_ts(ev_ms, "ns"),
        "user_id": pa.array(rng.integers(0, 150, nev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, nev)],
        "value": np.round(rng.uniform(0.01, 490.0, nev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, nev)],
    })
    ndoc = n["documents"]
    texts = [_doc_text(rng) for _ in range(ndoc)]
    # every 10th document is a near-copy of an earlier one, so the
    # near-duplicate operators have pairs to find
    for i in range(10, ndoc, 10):
        texts[i] = texts[int(rng.integers(0, i))] + " " + _WORDS[i % len(_WORDS)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(ndoc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, ndoc)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, ndoc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nemb = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nemb)
    emb = (centers[labels] + rng.normal(0.0, 0.6, (nemb, 64))).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nemb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_report_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the report_reads tables as ``<out_dir>/<name>.parquet``;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in report_tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# --------------------------------------------------------------------------
# etl_ticks: multi-tenant Callio call-log and customer records.
# --------------------------------------------------------------------------

TENANTS = ("PK", "HN")
OVERLAP_MS = 180_000
TICK_MS = 600_000
#: The backlog spans 20 hours, so the cold load reads one day slice.
BACKLOG_MS = 20 * 3_600_000
#: Call-log rows per tenant in the backlog (customers: a third of it), and
#: per entity and tenant in each tick's delta: new rows, updates of earlier
#: ids and late rows inside the overlap window.
BACKLOG_ROWS = 1500
NEW_PER_TICK = 24
UPDATES_PER_TICK = 8
LATE_PER_TICK = 4
_MIN_MS = 60_000

#: Payload fields served per entity, in API order (``_id``/``tenant``/``ts_ms``
#: lead every row). Their types are the fetch schema in workloads/etl_ticks.py.
ENTITY_FIELDS = {
    "call_log": ("_id", "tenant", "ts_ms", "from_user", "to_number",
                 "direction", "duration", "bill_duration"),
    "customer": ("_id", "tenant", "ts_ms", "name", "phone", "status",
                 "assigned_user"),
}
_STATUSES = ("có nhu cầu", "không nhu cầu", "thuê bao", "bận", "Kết bạn Zalo")


class CallioFeed:
    """The upstream Callio API's record history for one run.

    ``initial()`` is the backlog the cold full load reads; each ``delta()``
    advances the clock by one tick and emits, per entity and tenant, new
    rows, updates of earlier ids (newer ``ts_ms``, changed payload) and late
    rows: new ids stamped inside the overlap window below the tenant's
    newest delivered event time. Every emitted version is kept in
    ``history`` so the oracle can recompute newest-per-key on its own."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"callio:{seed}")
        self.clock_ms = _EPOCH_2024_MS + 7 * _DAY_MS
        self.history: dict[str, list[dict]] = {e: [] for e in ENTITY_FIELDS}
        self.latest: dict[str, dict[tuple[str, str], dict]] = {
            e: {} for e in ENTITY_FIELDS}
        self.max_ts: dict[tuple[str, str], int] = {}
        self._next_id = 0

    def _row(self, entity: str, tenant: str, ts_ms: int, _id: str | None = None) -> dict:
        r = self.rng
        if _id is None:
            self._next_id += 1
            _id = f"{entity[:2]}{self._next_id:08d}"
        if entity == "call_log":
            dur = r.randint(0, 900)
            row = {"from_user": r.randint(1, 60),
                   "to_number": f"09{r.randint(0, 99_999_999):08d}",
                   "direction": r.choice(("inbound", "outbound")),
                   "duration": dur, "bill_duration": max(0, dur - r.randint(0, 40))}
        else:
            row = {"name": f"KH {r.randint(0, 10**6)}",
                   "phone": f"09{r.randint(0, 99_999_999):08d}",
                   "status": r.choice(_STATUSES),
                   "assigned_user": r.randint(1, 60)}
        return {"_id": _id, "tenant": tenant, "ts_ms": int(ts_ms), **row}

    def _emit(self, entity: str, row: dict) -> dict:
        self.history[entity].append(row)
        key = (row["tenant"], row["_id"])
        prev = self.latest[entity].get(key)
        if prev is None or row["ts_ms"] > prev["ts_ms"]:
            self.latest[entity][key] = row
        mk = (entity, row["tenant"])
        self.max_ts[mk] = max(self.max_ts.get(mk, 0), row["ts_ms"])
        return row

    def initial(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {e: [] for e in ENTITY_FIELDS}
        lo = self.clock_ms - BACKLOG_MS
        for entity in ENTITY_FIELDS:
            for tenant in TENANTS:
                n = BACKLOG_ROWS if entity == "call_log" else BACKLOG_ROWS // 3
                for ts in sorted(self.rng.randint(lo, self.clock_ms) for _ in range(n)):
                    out[entity].append(self._emit(entity, self._row(entity, tenant, ts)))
        return out

    def delta(self) -> dict[str, list[dict]]:
        prev_clock = self.clock_ms
        self.clock_ms += TICK_MS
        out: dict[str, list[dict]] = {e: [] for e in ENTITY_FIELDS}
        for entity in ENTITY_FIELDS:
            for tenant in TENANTS:
                ck = self.max_ts[(entity, tenant)]
                # updates first: their ids are drawn from rows that exist now
                ids = sorted(k[1] for k in self.latest[entity] if k[0] == tenant)
                for _id in self.rng.sample(ids, UPDATES_PER_TICK):
                    ts = self.rng.randint(prev_clock + 1, self.clock_ms)
                    out[entity].append(self._emit(entity, self._row(entity, tenant, ts, _id)))
                for _ in range(NEW_PER_TICK):
                    ts = self.rng.randint(prev_clock + 1, self.clock_ms)
                    out[entity].append(self._emit(entity, self._row(entity, tenant, ts)))
                for _ in range(LATE_PER_TICK):
                    ts = ck - self.rng.randint(_MIN_MS // 60, OVERLAP_MS - _MIN_MS)
                    out[entity].append(self._emit(entity, self._row(entity, tenant, ts)))
        return out


# --------------------------------------------------------------------------
# index_service: vectors around a fixed quantizer, and a document corpus.
# --------------------------------------------------------------------------

VEC_DIM = 16
N_CELLS = 8
#: Bootstrap sizes, and per tick: vector inserts, in-place updates, deletes
#: and new documents.
N_VECTORS = 1500
N_DOCS = 300
VEC_INSERTS = 20
VEC_UPDATES = 10
VEC_DELETES = 6
NEW_DOCS = 10


class IndexFeed:
    """Vectors drawn around ``N_CELLS`` fixed centroids plus a document
    corpus; ``delta()`` emits one tick's vector inserts, in-place updates
    (every other one re-drawn around another centroid, i.e. a move across
    cells) and deletes, plus a batch of new documents. ``vectors`` / ``docs``
    always hold the live state the oracle compares against."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"index:{seed}")
        self.centroids = [
            [self.rng.gauss(0.0, 1.0) for _ in range(VEC_DIM)] for _ in range(N_CELLS)]
        self.vectors: dict[int, list[float]] = {}
        self.cell_of: dict[int, int] = {}
        self.docs: dict[int, str] = {}
        self._next_vec = 0
        for _ in range(N_VECTORS):
            self._put(self._new_vec_id(), self.rng.randrange(N_CELLS))
        for _ in range(N_DOCS):
            self._new_doc()

    def _new_vec_id(self) -> int:
        self._next_vec += 1
        return self._next_vec

    def _new_doc(self) -> tuple[int, str]:
        k = len(self.docs) + 1
        self.docs[k] = " ".join(
            self.rng.choice(_WORDS) for _ in range(self.rng.randint(8, 40)))
        return k, self.docs[k]

    def _put(self, k: int, cell: int) -> tuple[int, list[float]]:
        self.cell_of[k] = cell
        self.vectors[k] = self._vec(cell)
        return k, self.vectors[k]

    def _vec(self, cell: int) -> list[float]:
        # float32-exact values: the table stores array<float>
        return [float(np.float32(c + self.rng.gauss(0.0, 0.35)))
                for c in self.centroids[cell]]

    def delta(self) -> dict:
        ids = sorted(self.vectors)
        upd_ids = self.rng.sample(ids, VEC_UPDATES)
        del_ids = sorted(self.rng.sample(sorted(set(ids) - set(upd_ids)), VEC_DELETES))
        upserts = [
            self._put(k, (self.cell_of[k] + (i % 2) * self.rng.randrange(1, N_CELLS))
                      % N_CELLS)
            for i, k in enumerate(upd_ids)
        ] + [self._put(self._new_vec_id(), self.rng.randrange(N_CELLS))
             for _ in range(VEC_INSERTS)]
        for k in del_ids:
            del self.vectors[k], self.cell_of[k]
        docs = [self._new_doc() for _ in range(NEW_DOCS)]
        return {"upserts": upserts, "deletes": del_ids, "docs": docs}

    def query_vector(self) -> list[float]:
        return self._vec(self.rng.randrange(N_CELLS))
