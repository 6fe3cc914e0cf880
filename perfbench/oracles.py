"""Pure-Python reference results the benchmark checks every op against.

Nothing here imports Spark or the engine: each oracle folds the
generated records the way the reference tool's semantics define the
result, and ``multiset_digest`` renders rows into an order-insensitive
hash so engine output read back from disk can be compared cheaply.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import hashlib
import os
import re

# ---------------------------------------------------------------------------
# shared
# ---------------------------------------------------------------------------


def row_hash(row) -> int:
    return int.from_bytes(hashlib.blake2b(repr(tuple(row)).encode(),
                                          digest_size=16).digest(), "big")


def multiset_digest(rows) -> int:
    """Order-insensitive digest of tuples that can also be updated one
    row at a time (add or subtract ``row_hash``)."""
    return sum(map(row_hash, rows)) % 2**128


# ---------------------------------------------------------------------------
# etl_playbook: the six stages, record at a time
# ---------------------------------------------------------------------------

FILTER = "priority >= 2 && status != 'cancelled'"


def playbook(feed: str, out_dir: str) -> dict:
    """The benchmark playbook: filter, a 7-rule mapping chain, flatten
    with includeParent, dedup max per customer, skip-mode error file,
    parquet load."""
    return {
        "source": {"type": "json", "file": feed,
                   "options": {"multiLine": False}},
        "filter": FILTER,
        "mappings": [
            {"source": "id", "target": "order_id"},
            {"source": "cust", "target": "customer",
             "transform": "toUpperCase"},
            {"source": "amount", "target": "amount_usd",
             "transform": "mustToFloat"},
            {"source": "ts", "target": "day", "transform": "epochToDate"},
            {"source": "region", "target": "region", "transform": "trim"},
            {"source": "cust", "target": "sig", "transform": "hash",
             "params": {"algorithm": "sha256", "fields": ["cust", "id"]}},
            {"source": "items", "target": "items"},
        ],
        "flattening": {"sourceField": "items", "targetField": "item",
                       "includeParent": True},
        "dedup": {"keys": ["customer"], "strategy": "max",
                  "strategyField": "amount_usd"},
        "errorHandling": {"mode": "skip",
                          "errorFile": os.path.join(out_dir, "errors")},
        "destination": {"type": "parquet",
                        "file": os.path.join(out_dir, "orders")},
    }


def _must_float(s: str) -> float | None:
    s = s.strip()
    if not s:
        return None
    try:
        return float(s)
    except ValueError:
        return None


def etl_fold(records: list[dict]) -> dict:
    """Reference order of the stages (the tool's per-record loops):
    filter the source records; map each survivor, and send a record
    whose mapping fails to the error file ONCE, unflattened; flatten
    the mapped records; keep each customer's max-amount row, ties to
    the earliest record and then the earliest item."""
    best: dict[str, tuple] = {}
    error_ids = []
    for seq, r in enumerate(records):
        if not (r["priority"] >= 2 and r["status"] != "cancelled"):
            continue
        amount = _must_float(r["amount"])
        if amount is None:
            error_ids.append(r["id"])
            continue
        customer = r["cust"].upper()
        day = dt.datetime.fromtimestamp(r["ts"], dt.timezone.utc) \
            .strftime("%Y-%m-%d")
        sig = hashlib.sha256(f"{r['cust']}||{r['id']}".encode()).hexdigest()
        for pos, it in enumerate(r["items"]):
            rank = (-amount, seq, pos)
            cur = best.get(customer)
            if cur is None or rank < cur[0]:
                best[customer] = (rank, (r["id"], customer, amount, day,
                                         r["region"].strip(" "), sig,
                                         it["qty"], it["sku"]))
    rows = [v[1] for v in best.values()]
    return {"rows_out": len(rows), "rows_error": len(error_ids),
            "error_ids": sorted(error_ids), "digest": multiset_digest(rows)}


def etl_observed(out_dir: str) -> dict:
    """Read one op's parquet output and error file back (pyarrow + csv,
    no Spark) into the shape ``etl_fold`` returns."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "orders"))
    cols = t.to_pydict()
    rows = [(o, c, a, d, r, s, it["qty"], it["sku"]) for o, c, a, d, r, s, it
            in zip(cols["order_id"], cols["customer"], cols["amount_usd"],
                   cols["day"], cols["region"], cols["sig"], cols["item"])]
    error_ids = []
    for path in sorted(glob.glob(os.path.join(out_dir, "errors", "*.csv"))):
        with open(path, newline="", encoding="utf-8") as f:
            for rec in csv.DictReader(f):
                error_ids.append(int(rec["id"]))
    return {"rows_out": len(rows), "rows_error": len(error_ids),
            "error_ids": sorted(error_ids), "digest": multiset_digest(rows)}


def etl_mismatches(expected: dict, observed: dict) -> list[str]:
    return [f"{k}: expected {expected[k]!r:.80}, got {observed[k]!r:.80}"
            for k in ("rows_out", "digest", "rows_error", "error_ids")
            if expected[k] != observed[k]]


# ---------------------------------------------------------------------------
# cdc_upsert: dict fold of the change batches
# ---------------------------------------------------------------------------


class CdcFold:
    """Dict fold of the change batches: per key the highest seq of a
    batch wins, a winning delete removes the key, later batches win over
    earlier ones. Keeps the multiset digest of the (id, val, tag) rows
    of the current version up to date one change at a time."""

    def __init__(self):
        self.state: dict[int, tuple] = {}
        self.digest = 0

    def apply(self, rows: list[tuple]) -> int:
        """Fold one batch in; returns the digest of the (id, change_type)
        rows ``snapshot_diff`` reports between the two versions."""
        latest: dict[int, tuple] = {}
        for row in rows:
            cur = latest.get(row[0])
            if cur is None or row[1] > cur[1]:
                latest[row[0]] = row
        diff = 0
        for k, (_, _, op, val, tag) in latest.items():
            old = self.state.pop(k, None)
            if old is not None:
                self.digest -= row_hash((k,) + old)
            if op == "D":
                diff += row_hash((k, "delete")) if old is not None else 0
                continue
            new = (val, tag)
            self.state[k] = new
            self.digest += row_hash((k,) + new)
            if old is None:
                diff += row_hash((k, "insert"))
            elif old != new:
                diff += row_hash((k, "update"))
        self.digest %= 2**128
        return diff % 2**128


# ---------------------------------------------------------------------------
# llm_ingest
# ---------------------------------------------------------------------------

_WS = re.compile(r"\s+")


def fingerprint(text: str) -> str:
    """The gate's exact-dup key: md5 over lower-cased, space-trimmed,
    whitespace-collapsed text."""
    return hashlib.md5(_WS.sub(" ", text.strip(" ").lower()).encode()).hexdigest()


def landed_problems(landed: dict[int, str], must_drop: list[int]) -> list[str]:
    """Problems in a landed corpus {doc_id: text}: two landed docs with
    one fingerprint, or a doc that had to be dropped but landed."""
    problems = []
    seen: dict[str, int] = {}
    for doc_id, text in landed.items():
        fp = fingerprint(text)
        if fp in seen:
            problems.append(f"docs {seen[fp]} and {doc_id} share fingerprint {fp}")
        seen[fp] = doc_id
    leaked = sorted(set(must_drop) & set(landed))
    if leaked:
        problems.append(f"{len(leaked)} exact copies landed, e.g. {leaked[:5]}")
    return problems


# ---------------------------------------------------------------------------
# warehouse_sql: DuckDB over the same parquet files
# ---------------------------------------------------------------------------


def load_check_oracle(root: str):
    """The repository's own oracle canonicalizer (scripts/check_oracle.py),
    loaded by path so the benchmark hashes exactly as the catalog gate."""
    import importlib.util

    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_bench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_expected(co, data_dir: str, queries: dict[str, str]) -> dict:
    """{query: (row count, digest)} of each ORACLE SQL on DuckDB, hashed
    with the check_oracle module ``co``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(f)[:-len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
        out = {}
        for q, sql in queries.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[q] = (len(rows), co.frame_hash(co.frame_lines(cols, rows)))
        return out
    finally:
        con.close()
