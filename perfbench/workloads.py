"""The four benchmark workloads.

Each workload is a closed loop with one client. ``generate`` writes the
seeded inputs and computes the oracle results (untimed, no Spark).
``op`` runs one operation through the engine's public API, times only
the engine calls (``timed``), then checks the output against the
oracle outside the timed region. ``wrap`` installs the tracer's spans
on the public functions the workload reaches, and ``layer_metrics``
turns the harvested spans of a traced run into per-layer metrics.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
import oracles


@dataclass
class Op:
    latency_s: float
    units: int
    problems: list[str] = field(default_factory=list)
    reads_s: list[float] = field(default_factory=list)
    bytes_in: int = 0          # generated input bytes this op consumed
    bytes_written: int = 0     # bytes of files this op created
    label: str = ""            # what the op ran, for the per-label report


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's _SUCCESS and .crc
    markers count as bytes but not as data files."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += not f.startswith(("_", "."))
    return total, files


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def subtree(tracer, span) -> list:
    """``span`` and all its descendants."""
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(c for c in tracer.spans if c.parent == s.id)
    return out


def tree_runtime(tracer, span, key: str) -> float:
    return sum(s.runtime[key] for s in subtree(tracer, span))


def named(tracer, name: str) -> list:
    return [s for s in tracer.spans if s.name == name]


def per_op_sum(tracer, name: str) -> list[float]:
    """Per traced op, the summed duration of the spans called ``name``."""
    per_op: dict[int, float] = {}
    for s in named(tracer, name):
        per_op[s.op] = per_op.get(s.op, 0.0) + s.duration
    return list(per_op.values())


class Workload:
    name = ""
    unit = ""
    warmup_ops = 1   # untimed ops after the cold op
    round_len = 1    # the warm phase ends on a multiple of this many ops

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.inputs: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    @contextmanager
    def timed(self, span: str = "op"):
        """Time the engine calls of one op (or read) and, when tracing,
        record them as one span whose children are the layer calls."""
        box = {}
        with self.tracer.span(span):
            t0 = time.perf_counter()
            yield box
            box["s"] = time.perf_counter() - t0

    def wrap(self) -> None:
        raise NotImplementedError

    def exhausted(self, i: int) -> bool:
        """True when op ``i`` has no generated input left."""
        return False

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def finish(self) -> list[Op]:
        """End-of-run operations (vacuum, compaction); returns checked
        ops that count as attempted but are not latency samples."""
        return []

    def layer_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# etl_playbook
# ---------------------------------------------------------------------------


class EtlPlaybook(Workload):
    """One op = one full playbook run (load_config + run_pipeline) into a
    fresh output directory."""

    name, unit = "etl_playbook", "rows"
    N_RECORDS = 20_000
    N_CUSTOMERS = 4_000

    def generate(self) -> None:
        records = gen.order_feed(self.seed, self.N_RECORDS, self.N_CUSTOMERS)
        self.feed = os.path.join(self.work, "feed.jsonl")
        self.inputs = {"feed": gen.write_order_feed(records, self.feed)}
        self.expected = oracles.etl_fold(records)
        self.last_metrics: dict = {}
        self.files_out = 0

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        from etl_tool_spark.plans import config, pipeline

        self.config, self.pipeline = config, pipeline

    def wrap(self) -> None:
        w, p = self.tracer.wrap, self.pipeline
        w(self.config, "load_config", "plans.load_config")
        w(p, "run_pipeline", "plans.run_pipeline")
        w(p, "build_pipeline", "plans.build_pipeline")
        w(p, "read_source", "sources.read_source")
        w(p, "apply_filter_with_errors", "operators.filter")
        w(p, "apply_mappings", "operators.mapping")
        w(p, "flatten", "operators.flatten")
        w(p, "dedup", "operators.dedup")
        w(p, "write_sink", "sinks.write_sink")
        w(p, "write_error_file", "sinks.write_error_file")

    def op(self, i: int) -> Op:
        out = os.path.join(self.work, f"op{i:04d}")
        with self.timed() as t:
            cfg = self.config.load_config(oracles.playbook(self.feed, out))
            res = self.pipeline.run_pipeline(self.spark, cfg)
        self.last_metrics = dict(res.metrics or {})
        observed = oracles.etl_observed(out)
        problems = oracles.etl_mismatches(self.expected, observed)
        if self.last_metrics.get("rows_out") != observed["rows_out"]:
            problems.append("rows_out observation disagrees with the output")
        written, self.files_out = tree_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return Op(t["s"], self.N_RECORDS, problems,
                  bytes_in=self.inputs["feed"]["bytes"], bytes_written=written)

    def layer_metrics(self) -> dict:
        tr = self.tracer
        scan, map_task, dedup_task, shuffle, spill, filt, flat, write = \
            [], [], [], [], [], [], [], []
        for op_span in named(tr, "op"):
            spans = subtree(tr, op_span)
            scan.append(sum(s.runtime["input_bytes"] for s in spans))
            spill.append(sum(s.runtime["spill_bytes"] for s in spans))
            write.append(sum(s.duration for s in spans
                             if s.name.startswith("sinks.")))
            sink = [s for s in spans if s.name == "sinks.write_sink"]
            stages = [st for s in sink for st in s.stages]
            # the map stage scans, filters, maps and flattens up to the
            # dedup exchange; the reduce stage ranks and writes
            map_task.append(sum(st["task_s"] for st in stages
                                if not st["shuffle_read_bytes"]))
            dedup_task.append(sum(st["task_s"] for st in stages
                                  if st["shuffle_read_bytes"]))
            shuffle.append(sum(st["shuffle_write_bytes"] for st in stages))
            rows = [x["rows"] for s in sink for x in s.sql]
            filt.append(max([r.get("filter_below_generate", 0) for r in rows],
                            default=0))
            flat.append(max([max(r.get("Generate", [0])) for r in rows],
                            default=0))
        feed_bytes = self.inputs["feed"]["bytes"]
        return {
            "plans.load_config_s": median(per_op_sum(tr, "plans.load_config")),
            "plans.build_pipeline_s": median(per_op_sum(tr, "plans.build_pipeline")),
            "plans.run_pipeline_s": median(per_op_sum(tr, "plans.run_pipeline")),
            "sources.read_s": median(per_op_sum(tr, "sources.read_source")),
            "sources.scan_bytes": median(scan),
            "sources.scan_amp": median(scan) / feed_bytes,
            "operators.map_task_s": median(map_task),
            "operators.dedup.task_s": median(dedup_task),
            "operators.dedup.shuffle_bytes": median(shuffle),
            "operators.spill_bytes": median(spill),
            "operators.rows_in": self.N_RECORDS,
            "operators.rows_filtered": median(filt),
            "operators.rows_flattened": median(flat),
            "operators.rows_out": self.last_metrics.get("rows_out", 0),
            "operators.rows_error": self.last_metrics.get("rows_error", 0),
            "sinks.write_s": median(write),
            "sinks.files_out": self.files_out,
        }


# ---------------------------------------------------------------------------
# warehouse_sql
# ---------------------------------------------------------------------------


class WarehouseSql(Workload):
    """One op = one catalog query, built with SPARK[q] and materialized
    with collect() (a count would let Catalyst prune the aggregates).
    Each warm round runs the eight queries in a seeded order."""

    name, unit = "warehouse_sql", "queries"
    N_ORDERS = 20_000
    QUERIES = ["q1_pricing_summary", "q3_shipping_priority",
               "q5_local_supplier_volume", "q9_product_profit",
               "q18_large_orders", "window_topn_per_group", "join_asof",
               "events_sessionize"]
    # the cold op, the rest of its round and one more round: on a 4-core
    # host the second round still runs ~15% slower than the third, and
    # the JIT keeps shaving a few percent per round after that
    warmup_ops = 2 * len(QUERIES) - 1
    round_len = len(QUERIES)        # whole rounds: every query equally often

    def generate(self) -> None:
        self.data = os.path.join(self.work, "tables")
        self.inputs = gen.warehouse_tables(self.seed, self.N_ORDERS, self.data)
        # the cold op and the warm-up run the first round in catalog
        # order, so cold_op_s always times the same query
        rng = random.Random(self.seed)
        self.order = list(self.QUERIES)
        for _ in range(100):
            rnd = list(self.QUERIES)
            rng.shuffle(rnd)
            self.order.extend(rnd)

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        from etl_tool_spark import catalog

        self.catalog = catalog
        self.co = oracles.load_check_oracle(self.root)
        self.expected = oracles.duckdb_expected(
            self.co, self.data, {q: catalog.ORACLE[q] for q in self.QUERIES})

    def wrap(self) -> None:
        from etl_tool_spark.operators import relational

        self.tracer.wrap(relational, "asof_join", "operators.relational.asof_join")

    def op(self, i: int) -> Op:
        q = self.order[i % len(self.order)]
        with self.timed() as t:
            with self.tracer.span("catalog.build"):
                df = self.catalog.SPARK[q](self.spark, self.data)
            with self.tracer.span("catalog.collect"):
                rows = df.collect()
        n, want = self.expected[q]
        got = self.co.frame_hash(self.co.frame_lines(df.columns, rows))
        problems = [] if (len(rows), got) == (n, want) else [
            f"{q}: {len(rows)} rows hash {got[:12]}, oracle {n} rows hash {want[:12]}"]
        return Op(t["s"], 1, problems, label=q)

    def layer_metrics(self) -> dict:
        coll = named(self.tracer, "catalog.collect")
        return {
            "catalog.plan_s": median(s.duration for s in named(self.tracer, "catalog.build")),
            "catalog.exec_s": median(s.duration for s in coll),
            "catalog.task_s": median(s.runtime["task_s"] for s in coll),
            "catalog.shuffle_bytes": median(s.runtime["shuffle_write_bytes"] for s in coll),
            "catalog.exchanges": median(sum(x["exchanges"] for x in s.sql) for s in coll),
            "catalog.broadcasts": median(sum(x["broadcasts"] for x in s.sql) for s in coll),
        }


# ---------------------------------------------------------------------------
# cdc_upsert
# ---------------------------------------------------------------------------


class CdcUpsert(Workload):
    """Op 0 is the initial load; every later op folds one change batch in
    with merge_cdc_batch (one versioned manifest commit). After each
    merge the latest version is read back, and after every
    ``TRAVEL_EVERY``-th merge also the previous version and the diff of
    the two; those reads are timed as read samples and checked against
    the dict fold."""

    name, unit = "cdc_upsert", "changes"
    N_KEYS = 100_000
    BATCH_ROWS = 10_000
    # merges 2-9 take about the same time; from about the tenth on each
    # merge runs slower than the last (3-4 s by the sixteenth against
    # ~2.2 s), so the warm phase stops after at most ten merges
    MAX_BATCHES = 11
    TRAVEL_EVERY = 4

    def generate(self) -> None:
        batches = gen.cdc_batches(self.seed, self.N_KEYS, self.BATCH_ROWS,
                                  self.MAX_BATCHES)
        self.dir = os.path.join(self.work, "changes")
        self.snap = os.path.join(self.work, "snapshot")
        self.batch_info = gen.write_cdc_batches(batches, self.dir)
        self.inputs = {"batches": len(batches),
                       "rows": sum(x["rows"] for x in self.batch_info),
                       "bytes": sum(x["bytes"] for x in self.batch_info)}
        # version n is the state after batch n-1
        self.version_digest, self.diff_digest = [None], [None]
        fold = oracles.CdcFold()
        for rows in batches:
            self.diff_digest.append(fold.apply(rows))
            self.version_digest.append(fold.digest)
        self.merge_stats: dict[int, dict] = {}
        self.vacuum_s = 0.0

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        from etl_tool_spark.streaming import cdc

        self.cdc = cdc

    def wrap(self) -> None:
        for fn in ("merge_cdc_batch", "read_snapshot", "snapshot_diff", "vacuum"):
            self.tracer.wrap(self.cdc, fn, f"cdc.{fn}")

    def _read(self, version: int | None) -> tuple[float, int]:
        with self.timed("cdc.read") as t:
            pdf = self.cdc.read_snapshot(self.spark, self.snap, version=version) \
                .select("id", "val", "tag").toPandas()
        rows = zip(pdf["id"].tolist(), pdf["val"].tolist(), pdf["tag"].tolist())
        return t["s"], oracles.multiset_digest(
            (int(k), None if v != v else int(v), tag) for k, v, tag in rows)

    def exhausted(self, i: int) -> bool:
        return i >= len(self.batch_info)

    def op(self, i: int) -> Op:
        data = os.path.join(self.snap, "data")
        before = set(os.listdir(data)) if os.path.isdir(data) else set()
        with self.timed() as t:
            batch = self.spark.read.parquet(
                os.path.join(self.dir, f"batch_{i:04d}.parquet"))
            self.cdc.merge_cdc_batch(batch, self.snap, keys=["id"],
                                     n_buckets=16, batch_id=i)
        new_dirs = [os.path.join(data, d) for d in set(os.listdir(data)) - before]
        written = sum(tree_bytes(d)[0] for d in new_dirs)
        self.merge_stats[i] = {
            "bytes": written,
            "buckets": sum(len(glob.glob(os.path.join(d, "_bucket=*")))
                           for d in new_dirs)}
        version, problems, reads = i + 1, [], []
        lat, got = self._read(None)
        reads.append(lat)
        if got != self.version_digest[version]:
            problems.append(f"latest version {version} differs from the fold")
        # ops 1, 1 + TRAVEL_EVERY, ...: odd, so a traced run traces them
        if version > 1 and (i - 1) % self.TRAVEL_EVERY == 0:
            lat, got = self._read(version - 1)
            reads.append(lat)
            if got != self.version_digest[version - 1]:
                problems.append(f"time-travel version {version - 1} differs")
            with self.timed("cdc.diff"):
                diff = self.cdc.snapshot_diff(self.spark, self.snap,
                                              version - 1, version).toPandas()
            got = oracles.multiset_digest(zip(diff["id"].tolist(),
                                              diff["change_type"].tolist()))
            if got != self.diff_digest[version]:
                problems.append(f"diff {version - 1}->{version} differs")
        info = self.batch_info[i]
        return Op(t["s"], info["rows"], problems, reads_s=reads,
                  bytes_in=info["bytes"], bytes_written=written)

    def finish(self) -> list[Op]:
        latest = self.cdc.list_versions(self.spark, self.snap)[-1]
        with self.timed("cdc.vacuum_run") as t:
            self.cdc.vacuum(self.spark, self.snap, keep_last=2, min_age_s=0)
        self.vacuum_s = t["s"]
        lat, got = self._read(None)
        problems = [] if got == self.version_digest[latest] else \
            ["latest version differs from the fold after vacuum"]
        return [Op(lat, 0, problems)]

    def layer_metrics(self) -> dict:
        tr = self.tracer
        merges = named(tr, "cdc.merge_cdc_batch")
        man = self.cdc._load_manifest(
            self.spark, self.snap, self.cdc.list_versions(self.spark, self.snap)[-1])
        live = sum(tree_bytes(os.path.join(self.snap, rel, f"_bucket={b}"))[1]
                   for b, rel in man["buckets"].items())
        stats = [self.merge_stats[s.op] for s in merges if s.op in self.merge_stats]
        return {
            "cdc.merge_s": median(s.duration for s in merges),
            "cdc.jobs_per_merge": median(tree_runtime(tr, s, "jobs") for s in merges),
            "cdc.bytes_rewritten": median(x["bytes"] for x in stats),
            "cdc.buckets_rewritten": median(x["buckets"] for x in stats),
            "cdc.files_live": live,
            "cdc.read_snapshot_s": median(s.duration for s in named(tr, "cdc.read")),
            "cdc.diff_s": median(s.duration for s in named(tr, "cdc.diff")),
            "cdc.vacuum_s": self.vacuum_s,
        }


# ---------------------------------------------------------------------------
# llm_ingest
# ---------------------------------------------------------------------------


class LlmIngest(Workload):
    """One op = one document batch through land_clean_batch into the
    sharded signature store. At the end compact_store runs, then one
    batch of re-keyed copies of landed survivors, all of which must
    drop."""

    name, unit = "llm_ingest", "docs"
    BATCH_DOCS = 200
    MAX_BATCHES = 40
    REKEYED = 50

    def generate(self) -> None:
        d = gen.llm_batches(self.seed, self.BATCH_DOCS, self.MAX_BATCHES)
        self.dir = os.path.join(self.work, "batches")
        os.makedirs(self.dir, exist_ok=True)
        self.store = os.path.join(self.work, "store")
        self.landed_dir = os.path.join(self.work, "landed")
        self.batch_info = [
            gen.write_docs(b, os.path.join(self.dir, f"batch_{k:04d}.parquet"))
            for k, b in enumerate(d["batches"])]
        self.inputs = {"batches": len(self.batch_info),
                       "rows": sum(x["rows"] for x in self.batch_info),
                       "bytes": sum(x["bytes"] for x in self.batch_info)}
        self.batch_ids = [[r[0] for r in b] for b in d["batches"]]
        self.exact = d["exact_copies"]
        self.next_id = d["next_id"]
        self.survivor_ratio: list[float] = []
        self.landed: dict[int, str] = {}
        self.compact_s = 0.0

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        from etl_tool_spark.llm import store
        from etl_tool_spark.streaming import dedup

        self.gate, self.store_mod = dedup, store

    def wrap(self) -> None:
        w, g = self.tracer.wrap, self.gate
        w(g, "land_clean_batch", "ingest.land_clean_batch")
        w(g, "incremental_exact_dedup", "llm.incremental_exact_dedup")
        w(g, "incremental_minhash_pairs", "llm.incremental_minhash_pairs")
        w(g, "append_signatures", "llm.append_signatures")
        w(self.store_mod, "compact_store", "llm.store.compact_store")

    def _read_landed(self) -> dict[int, str]:
        import pyarrow.parquet as pq

        if not os.path.isdir(self.landed_dir):
            return {}
        t = pq.read_table(self.landed_dir, columns=["doc_id", "text"])
        return dict(zip(t.column("doc_id").to_pylist(),
                        t.column("text").to_pylist()))

    def _land(self, path: str, batch_id: int) -> float:
        with self.timed() as t:
            self.gate.land_clean_batch(self.spark.read.parquet(path), batch_id,
                                       self.store, self.landed_dir)
        return t["s"]

    def _disk(self) -> int:
        return tree_bytes(self.landed_dir)[0] + tree_bytes(self.store)[0]

    def exhausted(self, i: int) -> bool:
        return i >= len(self.batch_ids)

    def op(self, i: int) -> Op:
        before = self._disk()
        lat = self._land(os.path.join(self.dir, f"batch_{i:04d}.parquet"), i)
        written = self._disk() - before
        prev = len(self.landed)
        self.landed = self._read_landed()
        ids = self.batch_ids[i]
        self.survivor_ratio.append((len(self.landed) - prev) / len(ids))
        problems = oracles.landed_problems(
            self.landed, [x for x in ids if x in self.exact])
        return Op(lat, len(ids), problems, bytes_in=self.batch_info[i]["bytes"],
                  bytes_written=max(written, 0))

    def finish(self) -> list[Op]:
        with self.timed("llm.compact_run") as t:
            self.store_mod.compact_store(self.spark, self.store)
        self.compact_s = t["s"]
        rng = random.Random(self.seed + 1)
        picks = rng.sample(sorted(self.landed), min(self.REKEYED, len(self.landed)))
        rekeyed = [(self.next_id + k, self.landed[d]) for k, d in enumerate(picks)]
        path = os.path.join(self.work, "rekeyed.parquet")
        gen.write_docs(rekeyed, path)
        lat = self._land(path, len(self.batch_ids) + 1)
        problems = oracles.landed_problems(self._read_landed(),
                                           [r[0] for r in rekeyed])
        return [Op(lat, len(rekeyed), problems)]

    def layer_metrics(self) -> dict:
        tr = self.tracer
        lands = named(tr, "ingest.land_clean_batch")
        store_bytes, store_files = tree_bytes(self.store)
        return {
            "ingest.land_s": median(s.duration for s in lands),
            "ingest.jobs_per_batch": median(tree_runtime(tr, s, "jobs") for s in lands),
            "ingest.stages_per_batch": median(tree_runtime(tr, s, "stages") for s in lands),
            "ingest.survivor_ratio": median(self.survivor_ratio),
            "llm.store.files": store_files,
            "llm.store.bytes": store_bytes,
            "llm.store.probe_bytes": median(tree_runtime(tr, s, "input_bytes")
                                            for s in lands),
            "llm.store.compact_s": self.compact_s,
        }


WORKLOADS = {w.name: w for w in (EtlPlaybook, WarehouseSql, CdcUpsert, LlmIngest)}
