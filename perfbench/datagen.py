"""Seeded input generators for the benchmark workloads.

Everything the engine reads is produced here from one integer seed: the
catalog tables the query catalog expects and the change-feed files the
streaming pipeline tails.  The feed generator also keeps its own model
of the source table, so the output check never shares code with the
engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# catalog tables (the schema of the engine's ``TABLES``)
# ---------------------------------------------------------------------------

_WORDS = (
    "query row stream the batch sort value hash filter big data dup spark "
    "line small fast group customer part column order scan a slow agg key "
    "window table merge vector join"
).split()
_LANGS = np.array(["en", "es", "zh", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_ADJ = "small new blue old red large hot cold".split()
_NOUN = "ring gear widget gizmo bolt plate rod anvil".split()
_PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(start: str, end: str, n: int, rng, day_grain: bool) -> pa.Array:
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, n)
    if day_grain:
        day = 86_400_000_000
        v = v - v % day
    return pa.array(v, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_catalog(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf`` (1.0 ≈ 6M lineitems);
    returns the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(100, min(2000, int(50_000 * sf)))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    def chars(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": chars("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": chars("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng, True),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n_line),
            "l_shipdate": _ts("1995-01-02", "2001-11-04", n_line, rng, True),
        }),
    }
    ev_ts = np.sort(
        rng.integers(
            np.datetime64("2024-01-01", "us").astype(np.int64),
            np.datetime64("2024-01-31", "us").astype(np.int64),
            n_ev,
        )
    )
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(40.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_docs):
        n_chars = int(rng.integers(48, 554))
        words = rng.choice(_WORDS, n_chars // 3)
        texts.append(" ".join(words)[:n_chars].rstrip())
    # a few exact duplicates, as near-dup and exact-dup operators expect
    for i in range(0, n_docs - 1, 97):
        texts[i + 1] = texts[i]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# change feed (the engine's FEED_DDL schema) + the source-table model
# ---------------------------------------------------------------------------

OP_INSERT, OP_DELETE, OP_UPDATE, OP_COMMIT, OP_ROLLBACK = 1, 2, 3, 7, 36
_STATUSES = ("O", "F", "P")
FEED_SCHEMA = pa.schema([
    ("scn", pa.int64()), ("ssn", pa.int64()), ("rba", pa.string()),
    ("xid", pa.string()), ("op", pa.int32()), ("rollback", pa.bool_()),
    ("owner", pa.string()), ("table_name", pa.string()), ("row_id", pa.string()),
    ("pk", pa.int64()), ("totalprice", pa.float64()), ("status", pa.string()),
    ("before_totalprice", pa.float64()), ("before_status", pa.string()),
    ("con_id", pa.int32()), ("changed_cols", pa.string()),
])


@dataclass
class SourceModel:
    """The generator's own model of the source table: pk → (price,
    status) of every live row."""

    rows: dict[int, tuple[float, str]] = field(default_factory=dict)
    scn: int = 1000
    txn: int = 0


def _stmt(scn, ssn, xid, op, pk, price, status, before, rollback=False):
    bp, bs = before if before else (None, None)
    return {
        "scn": scn, "ssn": ssn, "rba": f"0x{scn:08x}.{ssn:04x}", "xid": xid,
        "op": op, "rollback": rollback, "owner": "SCOTT", "table_name": "ORDERS",
        "row_id": None if pk is None else f"AAAR{pk:014d}", "pk": pk, "totalprice": price,
        "status": status, "before_totalprice": bp, "before_status": bs,
        "con_id": 3,
        "changed_cols": None if op == OP_COMMIT or op == OP_ROLLBACK else "TOTALPRICE,STATUS",
    }


def _control(scn, xid, op):
    rec = _stmt(scn, 0, xid, op, None, None, None, None)
    rec.update(owner=None, table_name=None, row_id=None)
    return rec


def write_feed_file(path: str, recs: list[dict]) -> None:
    """Write one feed file atomically: the file source never lists a
    half-written file, because names starting with '.' are hidden."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(pa.Table.from_pylist(recs, schema=FEED_SCHEMA), tmp)
    os.rename(tmp, path)


# The change mix of ``oracdc_spark.feed.FeedSpec``, the engine's own model
# of a redo stream, copied so that a later change to the engine's feed does
# not change the benchmark's input: per new order an UPDATE with
# probability 1/update_mod and a DELETE with 1/delete_mod; a
# partial-rollback marker on 1/partial_rb_mod of the updates; a whole
# ROLLBACK for 1 of txn_ctl_mod transactions.  FeedSpec also leaves 1 of
# txn_ctl_mod transactions open for ever; here every transaction ends
# inside its file, so that the replica can be checked at the end.
UPDATE_MOD = 3
DELETE_MOD = 7
PARTIAL_RB_MOD = 13
TXN_CTL_MOD = 25
# Which live order a later change hits: YCSB's "latest" request
# distribution (Cooper et al., SoCC 2010, workload D), Zipfian over
# recency with its default constant 0.99, so most changes hit the newest
# orders.
ZIPF_THETA = 0.99


class OltpGenerator:
    """Order-entry traffic over a replica that grows.  A transaction is one
    FeedSpec order: the INSERT of a new order, and at FeedSpec's rates an
    UPDATE and a DELETE, in that redo order; here the UPDATE and the
    DELETE hit live orders drawn by recency, so they change rows the
    replica already holds."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.model = SourceModel()
        self.next_pk = 0
        self.live: list[int] = []
        self._cum = np.zeros(0)

    def snapshot(self, n_rows: int) -> list[dict]:
        """One committed bulk-insert transaction (the replica bootstrap)."""
        return self._txn([("i", None)] * n_rows)

    def _latest(self) -> int:
        """A live key, rank r from the newest with P ∝ 1 / r^ZIPF_THETA."""
        n = len(self.live)
        if len(self._cum) < n:
            self._cum = np.cumsum(1.0 / np.arange(1, 2 * n + 1) ** ZIPF_THETA)
        r = int(np.searchsorted(self._cum[:n], self.rng.random() * self._cum[n - 1],
                                side="right"))
        return self.live[-1 - min(r, n - 1)]

    def next_file(self) -> list[dict]:
        """One transaction, ending inside the file."""
        plan = [("i", None)]
        if self.live and self.rng.random() < 1 / UPDATE_MOD:
            plan.append(("u", self._latest()))
        if self.live and self.rng.random() < 1 / DELETE_MOD:
            pk = self._latest()
            if all(pk != k for _, k in plan):  # one change per order per transaction
                plan.append(("d", pk))
        return self._txn(plan, rollback=self.rng.random() < 1 / TXN_CTL_MOD)

    def _txn(self, plan, rollback: bool = False) -> list[dict]:
        """The statements of ``plan`` and the control record; the model
        takes the changes that survive."""
        m = self.model
        m.txn += 1
        xid = f"{m.txn:08X}.{len(plan):04X}"
        out, apply = [], []
        for ssn, (kind, pk) in enumerate(plan):
            m.scn += 1
            if kind == "i":
                pk = self.next_pk
                self.next_pk += 1
                val = (float(self.rng.integers(100_000, 50_000_000)) / 100, "O")
                out.append(_stmt(m.scn, ssn, xid, OP_INSERT, pk, *val, None))
            elif kind == "u":
                val = (float(self.rng.integers(100_000, 50_000_000)) / 100,
                       _STATUSES[int(self.rng.integers(0, 3))])
                out.append(_stmt(m.scn, ssn, xid, OP_UPDATE, pk, *val, m.rows[pk]))
                if self.rng.random() < 1 / PARTIAL_RB_MOD:
                    # a marker at the same (row_id, scn), later in redo
                    # order, cancels the update
                    out.append(dict(out[-1], ssn=len(plan) + ssn, rollback=True))
                    continue
            else:
                val = None
                out.append(_stmt(m.scn, ssn, xid, OP_DELETE, pk, None, None, m.rows[pk]))
            apply.append((pk, val))
        m.scn += 1
        out.append(_control(m.scn, xid, OP_ROLLBACK if rollback else OP_COMMIT))
        if not rollback:
            for pk, val in apply:
                if val is None:
                    del m.rows[pk]
                    self.live.remove(pk)
                else:
                    if pk not in m.rows:
                        self.live.append(pk)
                    m.rows[pk] = val
        return out
