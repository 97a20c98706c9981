"""Seeded input generators. The same seed gives byte-identical inputs.

- :func:`cdc_plan` — the keyed Postgres table and the change
  transactions the CDC writer commits (zipf-skewed updates of existing
  keys plus inserts of new ones);
- :func:`write_events` — an ``events.parquet`` with the fixture's
  schema (``timestamp[us]``, zipf user skew, five event types);
- :func:`write_tables` — every fixture table (TPC-H-like star schema,
  events, documents, embeddings) with the fixture's schemas;
- :func:`permute_tables` — a copy of a table directory with every
  table's rows permuted, so the work is fixed while the row order
  follows the run seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixture tables in the order the package's catalog lists them.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent, reproducible generator per (seed, purpose); any
    integer seed, negative ones included, maps to its own stream."""
    return np.random.Generator(np.random.PCG64([int(seed) % 2**64, stream]))


def zipf_probs(n: int, s: float) -> np.ndarray:
    """Probabilities of ranks 1..n under a zipf law with exponent s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# -- CDC ---------------------------------------------------------------------

CDC_TABLE = "cdc_bench"
CDC_SCHEMA = "id bigint, v double, txn bigint, note string"
CDC_UPDATE_SHARE = 0.8  # the rest of each transaction's changes are inserts
CDC_ZIPF_S = 1.1  # key skew of the updates


@dataclass(frozen=True)
class Change:
    op: str  # 'u' update of an existing key, 'i' insert of a new key
    id: int
    v: float
    note: str


@dataclass(frozen=True)
class CdcPlan:
    """Seed rows and the writer's transactions: ``txns[k]`` is
    transaction number ``k + 1`` and sets ``txn = k + 1`` on every row
    it writes (transaction 0 is the seed load). The first ``n_open``
    are the small open-loop ones, the rest the bulk ones."""

    seed: int
    seed_rows: int
    n_open: int
    txns: tuple[tuple[Change, ...], ...]

    def seed_csv(self) -> str:
        rng = _rng(self.seed, 1)
        v = rng.integers(0, 1 << 20, self.seed_rows) / 1024.0
        return "".join(
            f"{i},{v[i - 1]!r},0,seed-{i}\n" for i in range(1, self.seed_rows + 1)
        )


def cdc_plan(seed: int, seed_rows: int, txns: int, changes_per_txn: int,
             bulk_txns: int, bulk_changes: int) -> CdcPlan:
    """Build the writer's transactions. Updates pick existing keys by a
    zipf law over a seed-shuffled key ranking; a key is written at most
    once per transaction so each transaction's effect is unambiguous."""
    rng = _rng(seed, 2)
    ranking = rng.permutation(seed_rows) + 1
    probs = zipf_probs(seed_rows, CDC_ZIPF_S)
    next_id = seed_rows + 1
    out_txns = []
    for k in range(txns + bulk_txns):
        n_changes = changes_per_txn if k < txns else bulk_changes
        n_upd = int(round(n_changes * CDC_UPDATE_SHARE))
        picks = ranking[rng.choice(seed_rows, size=n_upd, p=probs)]
        vals = rng.integers(0, 1 << 20, n_changes) / 1024.0
        changes: dict[int, Change] = {}
        for j, key in enumerate(picks):
            changes[int(key)] = Change("u", int(key), float(vals[j]), f"u{k + 1}-{j}")
        for j in range(n_upd, n_changes):
            changes[next_id] = Change("i", next_id, float(vals[j]), f"i{k + 1}-{j}")
            next_id += 1
        out_txns.append(tuple(changes.values()))
    return CdcPlan(seed, seed_rows, txns, tuple(out_txns))


def txn_sql(txn_no: int, changes: tuple[Change, ...]) -> str:
    """One transaction that applies ``changes`` and prints its xid in
    the ``xmin::text::bigint`` domain before committing."""
    t = CDC_TABLE
    ups = [c for c in changes if c.op == "u"]
    ins = [c for c in changes if c.op == "i"]
    parts = ["BEGIN;"]
    if ups:
        vals = ",".join(f"({c.id},{c.v!r}::float8,'{c.note}')" for c in ups)
        parts.append(
            f"UPDATE {t} SET v = u.v, txn = {txn_no}, note = u.note "
            f"FROM (VALUES {vals}) AS u(id, v, note) WHERE {t}.id = u.id;"
        )
    if ins:
        vals = ",".join(f"({c.id},{c.v!r},{txn_no},'{c.note}')" for c in ins)
        parts.append(f"INSERT INTO {t} VALUES {vals};")
    parts.append("SELECT txid_current() % 4294967296;")
    parts.append("COMMIT;")
    return "\n".join(parts)


# -- events ------------------------------------------------------------------


def events_table(n: int, seed: int, users: int = 2000,
                 zipf_s: float = 0.9) -> pa.Table:
    """``n`` events over 29 days from 2024-01-01, ids in time order.
    User skew: zipf over a seed-shuffled ranking of ``users`` ids."""
    rng = _rng(seed, 3)
    ts = np.sort(rng.integers(0, 29 * _DAY_US, n)) + _EPOCH_2024_US
    ranking = rng.permutation(users)
    user = ranking[rng.choice(users, size=n, p=zipf_probs(users, zipf_s))]
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2) + 0.01
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {i}}}' for i in k], pa.string()),
    })


def write_events(path: str, n: int, seed: int, **kw) -> None:
    _write(events_table(n, seed, **kw), path)


# -- the star schema and corpus tables ---------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("small", "large", "red", "blue", "green", "steel", "brass",
             "polished", "burnished", "tiny", "heavy", "light", "shiny")
_PART_NOUN = ("ring", "widget", "bolt", "anvil", "gear")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan select slow small sort "
          "spark stream table the value vector window").split()
_LANGS = ("en", "en", "en", "en", "en", "es", "de", "zh", "fr")
_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01 00:00:00 UTC in ms


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Every fixture table at ``scale`` (1.0 = sf0.01 row counts)."""
    rng = _rng(seed, 4)
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_doc, n_emb = max(50, int(500 * scale)), max(50, int(500 * scale))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(
            [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(retail),
    })
    odate = _EPOCH_1995_MS + rng.integers(0, 2404, n_ord) * _DAY_MS
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": pa.array(
            [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            odate[l_order] + rng.integers(1, 122, n_li) * _DAY_MS,
            pa.timestamp("ms")),
    })
    out["events"] = events_table(int(10000 * scale), seed, users=150)
    docs: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of one of the first ten documents: a few
            # words swapped
            words = docs[int(rng.integers(0, 10))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB),
                                                      int(rng.integers(8, 100)))]
        docs.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_tables(directory: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table to ``<directory>/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(directory, exist_ok=True)
    counts = {}
    for name, t in tables(scale, seed).items():
        _write(t, os.path.join(directory, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def permute_tables(src: str, dst: str, seed: int) -> None:
    """Copy every table of ``src`` to ``dst`` with its rows in a
    seed-determined order (each table gets its own permutation)."""
    os.makedirs(dst, exist_ok=True)
    for i, name in enumerate(TABLES):
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        order = _rng(seed, 100 + i).permutation(t.num_rows)
        _write(t.take(pa.array(order)), os.path.join(dst, f"{name}.parquet"))
