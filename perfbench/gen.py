"""Seeded input generator for the benchmark workloads.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables that the registered queries read, with the column
names, types and value ranges of the repository's test data, and the
change/document waves of the streaming workload.

Determinism contract:

- the same ``seed`` gives byte-identical tables (``content_hash``);
- a different seed gives the same row counts, the same foreign-key fan-out
  histogram and the same near-duplicate group sizes. The *structure*
  (which child row points at which parent row, which document copies
  which) comes from a fixed generator; the seed only permutes each key
  space (a key shift that keeps keys dense, so predicates such as
  ``vec_id < 5`` or ``c_custkey % 7 = 0`` keep their selectivity) and
  draws the non-key values.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_WORD = "dup"  # appended to a copied text: the near-duplicate marker
EMB_DIM = 64
N_LABELS = 10

DAY_US = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - EPOCH).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 50),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "users": max(int(15_000 * sf), 50),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def generate_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    n = _sizes(sf)
    st = np.random.default_rng(STRUCTURE_SEED)  # fan-out and dup structure
    rng = np.random.default_rng([seed, 1])  # values
    perm = {
        k: np.random.default_rng([seed, 2, i]).permutation(n[k])
        for i, k in enumerate(("customer", "supplier", "part", "orders", "users"))
    }

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))

    nc = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, nc)),
    }))
    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }))
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": _pick(names, rng.integers(0, len(names), npart)),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, npart)),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)),
    }))

    no = n["orders"]
    o_cust = perm["customer"][st.integers(0, nc, no)]
    o_key = perm["orders"]  # row i is the order with structure index i
    order_rows = np.argsort(o_key)
    day0, day1 = _us(1995, 1, 1) // DAY_US, _us(2001, 8, 1) // DAY_US
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(o_key[order_rows], pa.int64()),
        "o_custkey": pa.array(o_cust[order_rows], pa.int64()),
        "o_orderstatus": _pick(STATUSES, rng.integers(0, 3, no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(rng.integers(day0, day1 + 1, no) * DAY_US),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, no)),
    }))

    nl = n["lineitem"]
    s0, s1 = _us(1995, 1, 2) // DAY_US, _us(2001, 11, 4) // DAY_US
    flag = rng.integers(0, 3, nl)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(o_key[st.integers(0, no, nl)], pa.int64()),
        "l_partkey": pa.array(perm["part"][st.integers(0, npart, nl)], pa.int64()),
        "l_suppkey": pa.array(perm["supplier"][st.integers(0, ns, nl)], pa.int64()),
        "l_linenumber": pa.array(st.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], flag),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, nl)),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, nl) * DAY_US),
    }))

    ne = n["events"]
    t0 = _us(2024, 1, 1)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(perm["users"][st.integers(0, n["users"], ne)], pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }))

    _write(out_dir, "documents", _documents(st, rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(st, rng, n["embeddings"]))
    return {
        "region": 5, "nation": 25, **{k: v for k, v in n.items() if k != "users"}
    }


def _texts(st: np.random.Generator, rng: np.random.Generator, nd: int) -> list[str]:
    """Random word bags of 10-100 words; 5% of the documents are a copy
    of another document with DUP_WORD appended (fixed group structure)."""
    lengths = st.integers(10, 101, nd)
    is_dup = st.random(nd) < 0.05
    originals = np.flatnonzero(~is_dup)
    source = originals[st.integers(0, len(originals), nd)]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    return [
        texts[source[i]] + " " + DUP_WORD if is_dup[i] else texts[i]
        for i in range(nd)
    ]


def _documents(st: np.random.Generator, rng: np.random.Generator, nd: int) -> pa.Table:
    texts = _texts(st, rng, nd)
    ids = np.arange(nd)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(LANGS, rng.choice(5, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(st: np.random.Generator, rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors around one centre per label, so ANN probes have
    structure to find."""
    labels = st.integers(0, N_LABELS, nv)
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    v = centres[labels] + rng.normal(0.0, 1.5, (nv, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------------------
# streaming workload: a CDC snapshot plus waves of changes and documents
# ---------------------------------------------------------------------------

CDC_SCHEMA = "user_id long, seq long, op string, bal long, tier string"
DOC_SCHEMA = "doc_id long, text string"
TIERS = ["bronze", "silver", "gold"]
FRESH_SEQ0 = 1_000_000
REDELIVERY_WAVES = 1


def generate_stream(
    seed: int, n_keys: int, n_waves: int, changes_per_wave: int, docs_per_wave: int
) -> dict:
    """The streaming topic, built in memory.

    Returns ``snapshot`` (rows of user_id, bal, tier) and ``waves``. Each
    wave holds a list of change rows (user_id, seq, op, bal, tier),
    ``min_seq`` (its lowest fresh sequence number), a {doc_id: text} map
    of documents (wave 0 builds the initial corpus; later waves add new
    documents and update existing ones), and the doc ids deleted after the
    wave (even waves).

    Changes carry ~5% deletes and ~10% redelivered or stale rows, drawn
    from the previous REDELIVERY_WAVES waves only: once a wave is that
    old, nothing at or below its sequence numbers arrives again, which is
    the watermark tombstone GC may use. Fresh changes take even sequence
    numbers; a stale row is a change (k, s) of a previous wave re-sent as
    (k, s - 1) with another payload, so no two different changes of one
    key share a sequence number. A deleted document never re-arrives.
    """
    st = np.random.default_rng([STRUCTURE_SEED, 7])
    rng = np.random.default_rng([seed, 3])
    keys = np.random.default_rng([seed, 4]).permutation(n_keys * 2)
    snapshot = [
        (int(k), int(b), TIERS[t])
        for k, b, t in zip(
            keys[:n_keys], rng.integers(0, 10_000, n_keys), rng.integers(0, 3, n_keys)
        )
    ]
    words = np.asarray(WORDS, dtype=object)

    def text() -> str:
        return " ".join(words[rng.integers(0, len(WORDS), int(st.integers(8, 40)))])

    def change(k: int, seq: int, op: str) -> tuple:
        return (int(k), seq, op, int(rng.integers(0, 10_000)), TIERS[int(rng.integers(0, 3))])

    alive: list[int] = []
    next_doc = 0
    seq = FRESH_SEQ0
    waves: list[dict] = []
    for w in range(n_waves):
        recent = [c for wv in waves[-REDELIVERY_WAVES:] for c in wv["fresh"]]
        n_fresh = int(changes_per_wave * 0.9) if recent else changes_per_wave
        fresh = []
        # a quarter of the key space beyond the snapshot: inserts of new keys
        for i in st.integers(0, n_keys + n_keys // 4, n_fresh):
            seq += 2
            fresh.append(change(keys[i], seq, "D" if st.random() < 0.05 else "U"))
        late = []
        bases = st.choice(len(recent), changes_per_wave - n_fresh, replace=False) if recent else []
        for b in bases:
            k, s = recent[int(b)][:2]
            late.append(recent[int(b)] if st.random() < 0.5 else change(k, s - 1, "U"))
        n_new = docs_per_wave // 2 if alive else docs_per_wave * 2
        upd = st.choice(len(alive), docs_per_wave - n_new, replace=False) if alive else []
        docs = {alive[int(i)]: text() for i in upd}
        docs.update({next_doc + i: text() for i in range(n_new)})
        alive.extend(range(next_doc, next_doc + n_new))
        next_doc += n_new
        deletes: list[int] = []
        if w % 2 == 0:
            gone = set(st.choice(len(alive), docs_per_wave // 4, replace=False).tolist())
            deletes = sorted(alive[i] for i in gone)
            alive = [d for i, d in enumerate(alive) if i not in gone]
        waves.append({
            "fresh": fresh, "changes": fresh + late, "min_seq": fresh[0][1],
            "docs": docs, "delete_docs": deletes,
        })
    return {"snapshot": snapshot, "waves": waves}


def content_hash(out_dir: str) -> str:
    """sha256 over every file under ``out_dir`` (names and bytes)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

