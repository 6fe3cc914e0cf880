"""Seeded single-process input generators for the four workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. Generation never touches Spark,
so it is excluded from every timed metric by construction. Each
generator returns the in-memory records the correctness oracles fold
over; the writers return each input's row count and bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _zipf_index(rng: np.random.Generator, n: int, size: int,
                s: float = 1.1) -> np.ndarray:
    """Zipf-skewed indices in [0, n): rank r drawn with weight 1/(r+1)^s,
    then scattered through a seeded permutation so hot keys are not
    simply the smallest ids."""
    w = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=size, p=w / w.sum())
    return rng.permutation(n)[ranks]


# ---------------------------------------------------------------------------
# etl_playbook: JSON-lines order feed
# ---------------------------------------------------------------------------

CHANNELS = ["web", "store", "app", "phone"]
STATUSES = ["new", "shipped", "cancelled", "returned"]
REGIONS = ["north", "south", "east", "west"]
EPOCH_LO = 1_672_531_200   # 2023-01-01T00:00:00Z
EPOCH_HI = 1_735_689_600   # 2025-01-01T00:00:00Z


def order_feed(seed: int, n: int, n_customers: int) -> list[dict]:
    """``n`` order records: Zipf-skewed customer keys, 0-3 nested items,
    ~1% malformed ``amount`` strings (``mustToFloat`` errors), padded
    region strings (``trim``), lower-case customer keys
    (``toUpperCase``)."""
    rng = np.random.default_rng(seed)
    cust = _zipf_index(rng, n_customers, n)
    channel = rng.integers(0, len(CHANNELS), n)
    status = rng.choice(len(STATUSES), n, p=[0.55, 0.3, 0.1, 0.05])
    priority = rng.integers(1, 6, n)
    ts = rng.integers(EPOCH_LO, EPOCH_HI, n)
    cents = rng.integers(100, 5_000_000, n)
    bad = rng.random(n) < 0.01
    region = rng.integers(0, len(REGIONS), n)
    pad = rng.integers(0, 3, n)
    n_items = rng.integers(0, 4, n)
    skus = rng.integers(0, 5000, (n, 3))
    qtys = rng.integers(1, 20, (n, 3))
    bad_forms = ["N/A", "12..5", "", "1,299.00"]
    out = []
    for i in range(n):
        amount = (bad_forms[i % len(bad_forms)] if bad[i]
                  else f"{cents[i] // 100}.{cents[i] % 100:02d}")
        k = int(n_items[i])
        out.append({
            "id": i + 1,
            "cust": f"c{int(cust[i]):06d}",
            "channel": CHANNELS[channel[i]],
            "status": STATUSES[status[i]],
            "priority": int(priority[i]),
            "ts": int(ts[i]),
            "amount": amount,
            "region": " " * int(pad[i]) + REGIONS[region[i]] + " " * int(pad[i]),
            "items": [{"sku": f"s{int(skus[i, j]):05d}", "qty": int(qtys[i, j])}
                      for j in range(k)],
        })
    return out


def write_order_feed(records: list[dict], path: str) -> dict:
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    return {"rows": len(records), "bytes": os.path.getsize(path)}


# ---------------------------------------------------------------------------
# warehouse_sql: TPC-H-shaped tables + an event log
# ---------------------------------------------------------------------------

NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["almond", "azure", "blush", "widget", "chiffon", "coral",
              "frosted", "ivory", "lace", "metallic", "navy", "plum"]
EVENT_TYPES = ["view", "click", "purchase", "scroll"]


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000,
                    type=pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = int(dt.datetime.fromisoformat(lo).replace(
        tzinfo=dt.timezone.utc).timestamp()) // 86400
    b = int(dt.datetime.fromisoformat(hi).replace(
        tzinfo=dt.timezone.utc).timestamp()) // 86400
    return rng.integers(a, b, n) * 86400


def warehouse_tables(seed: int, n_orders: int, out_dir: str) -> dict:
    """Write region, nation, customer, supplier, part, orders, lineitem
    and events parquet files (the column sets the catalog queries read)
    under ``out_dir``; 1-7 lines per order, so some orders pass Q18's
    ``sum(l_quantity) > 150``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, n_orders // 10)
    n_supp = max(20, n_orders // 150)
    n_part = max(100, n_orders // 8)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGION_NAMES})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})
    ck = np.arange(1, n_cust + 1)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    sk = np.arange(1, n_supp + 1)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    pk = np.arange(1, n_part + 1)
    w = rng.integers(0, len(PART_WORDS), (n_part, 3))
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [" ".join(PART_WORDS[j] for j in row) for row in w],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": [f"TYPE{t}" for t in rng.integers(0, 20, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)})
    ok = np.arange(1, n_orders + 1) * 4   # sparse keys like TPC-H
    odate = _days(rng, "1992-01-01", "1998-08-01", n_orders)
    n_lines = rng.integers(1, 8, n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 400_000, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [f"{i}-PRIO" for i in rng.integers(1, 6, n_orders)]})
    total = int(n_lines.sum())
    l_ok = np.repeat(ok, n_lines)
    l_od = np.repeat(odate, n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    tables["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(1, n_part + 1, total),
        "l_suppkey": rng.integers(1, n_supp + 1, total),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, total).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, total), 2),
        "l_discount": rng.integers(0, 11, total) / 100.0,
        "l_tax": rng.integers(0, 9, total) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, total)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, total)],
        "l_shipdate": _ts(l_od + rng.integers(1, 122, total) * 86400)})
    n_ev = n_orders
    users = max(20, n_ev // 40)
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    tables["events"] = pa.table({
        "event_id": np.arange(1, n_ev + 1),
        "ts": _ts(t0 + rng.integers(0, 14 * 86400, n_ev)),
        "user_id": rng.integers(1, users + 1, n_ev),
        "event_type": [EVENT_TYPES[i] for i in
                       rng.choice(4, n_ev, p=[0.5, 0.3, 0.1, 0.1])],
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    inputs = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        inputs[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return inputs


# ---------------------------------------------------------------------------
# cdc_upsert: initial load + out-of-order I/U/D change batches
# ---------------------------------------------------------------------------

CDC_SCHEMA = pa.schema([("id", pa.int64()), ("seq", pa.int64()),
                        ("op", pa.string()), ("val", pa.int64()),
                        ("tag", pa.string())])


def cdc_batches(seed: int, n_keys: int, batch_rows: int,
                n_batches: int) -> list[list[tuple]]:
    """Batch 0 inserts keys 1..n_keys; each later batch holds
    ``batch_rows`` changes: updates skewed to hot keys (so a key is
    often changed several times in one batch), ~10% deletes and ~10%
    inserts of new keys. ``seq`` grows across batches and every batch's
    rows are shuffled, so in-batch arrival order disagrees with seq.
    Rows are (id, seq, op, val, tag)."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    seq = 0
    first = []
    for k in range(1, n_keys + 1):
        seq += 1
        first.append((k, seq, "I", rng.randrange(1_000_000), f"t{k % 97}"))
    rng.shuffle(first)
    batches = [first]
    next_key = n_keys + 1
    for _ in range(n_batches):
        hot = _zipf_index(nrng, n_keys, batch_rows, s=0.9) + 1
        rows = []
        for i in range(batch_rows):
            seq += 1
            u = rng.random()
            if u < 0.10:
                rows.append((next_key, seq, "I", rng.randrange(1_000_000),
                             f"t{next_key % 97}"))
                next_key += 1
            elif u < 0.20:
                rows.append((int(hot[i]), seq, "D", None, None))
            else:
                rows.append((int(hot[i]), seq, "U", rng.randrange(1_000_000),
                             f"t{rng.randrange(97)}"))
        rng.shuffle(rows)
        batches.append(rows)
    return batches


def write_cdc_batches(batches: list[list[tuple]], out_dir: str) -> list[dict]:
    os.makedirs(out_dir, exist_ok=True)
    inputs = []
    for b, rows in enumerate(batches):
        path = os.path.join(out_dir, f"batch_{b:04d}.parquet")
        cols = list(zip(*rows))
        pq.write_table(pa.table([pa.array(c, t.type) for c, t in
                                 zip(cols, CDC_SCHEMA)], schema=CDC_SCHEMA), path)
        inputs.append({"rows": len(rows), "bytes": os.path.getsize(path)})
    return inputs


# ---------------------------------------------------------------------------
# llm_ingest: document batches with planted exact copies and near dups
# ---------------------------------------------------------------------------

def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def llm_batches(seed: int, batch_docs: int, n_batches: int,
                exact_share: float = 0.08, near_share: float = 0.08) -> dict:
    """``n_batches`` batches of ``batch_docs`` documents. Fresh documents
    are seeded word sequences (60-140 words over a 5k-word vocabulary).
    A share of each batch is EXACT copies of earlier fresh documents
    (same batch or earlier batches) re-rendered with different case and
    whitespace — the fingerprint normalizes both, so every one must be
    dropped — and a share is NEAR dups (a few words replaced).

    Returns {"batches": [[(doc_id, text)]], "exact_copies": {doc_id:
    original_id}, "bases": [fresh doc ids]}."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 5000)
    next_id = 1
    fresh: list[tuple[int, list[str]]] = []
    batches, exact = [], {}
    for _ in range(n_batches):
        rows = []
        n_exact = int(batch_docs * exact_share)
        n_near = int(batch_docs * near_share)
        n_fresh = batch_docs - n_exact - n_near
        start = len(fresh)
        for _ in range(n_fresh):
            words = [rng.choice(vocab) for _ in range(rng.randint(60, 140))]
            fresh.append((next_id, words))
            rows.append((next_id, " ".join(words)))
            next_id += 1
        for _ in range(n_exact):
            oid, words = fresh[rng.randrange(len(fresh))]
            text = "  ".join(w.upper() if rng.random() < 0.2 else w
                             for w in words) + " \n"
            exact[next_id] = oid
            rows.append((next_id, text))
            next_id += 1
        for _ in range(n_near):
            oid, words = fresh[rng.randrange(start, len(fresh))]
            edited = list(words)
            for _ in range(max(1, len(edited) // 40)):
                edited[rng.randrange(len(edited))] = rng.choice(vocab)
            rows.append((next_id, " ".join(edited)))
            next_id += 1
        rng.shuffle(rows)
        batches.append(rows)
    return {"batches": batches, "exact_copies": exact,
            "bases": [i for i, _ in fresh], "next_id": next_id}


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_docs(rows: list[tuple], path: str) -> dict:
    ids, texts = zip(*rows) if rows else ((), ())
    pq.write_table(pa.table([pa.array(ids, pa.int64()),
                             pa.array(texts, pa.string())],
                            schema=DOC_SCHEMA), path)
    return {"rows": len(rows), "bytes": os.path.getsize(path)}

