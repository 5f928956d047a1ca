"""The benchmark's workloads, driven only through the program's public API.

Each workload has a ``setup`` (inputs, sink layout and a fixed-count
warm-up), an ``op`` that the runner repeats for the timed window, a
``check`` of every output, and a ``layer_pass`` that a traced run makes
once after the window: the same work with each lazy layer forced on its
own inside a span, so that time and Spark jobs split by layer.  The
runner calls ``prepare`` before every timed operation.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rust_near_indexer_spark import metrics, schemas, sinks, validate
from rust_near_indexer_spark.plans import bronze, gold, silver, state

ACCOUNTS = schemas.ACCOUNTS_OF_INTEREST
TABLES = tuple(sinks.TABLE_PKS)


def collect_rows(df) -> list[tuple]:
    """Order-free, comparable rendering of a result."""
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring markers and staging."""
    n = size = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        for f in filenames:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def prepare(spark) -> None:
    """Before every pass or round: drop cached frames, so that a pass
    redoes its work instead of reading an earlier pass's cache (``run_bronze``
    persists intermediates and leaves them cached), and collect garbage on
    both sides so that cleaning up after the last pass does not land in the
    next one."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def table_print(path: str) -> tuple[int, str]:
    """(rows, digest of the sorted rows) of one sink table, read without
    the engine; ``ingest_seq`` and the partition column are left out."""
    t = pq.read_table(path).to_pydict()
    cols = sorted(c for c in t if c not in ("ingest_seq", "height_bucket"))
    rows = sorted(map(repr, zip(*(t[c] for c in cols))))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


class Workload:
    """Shared plumbing: fresh directories under the run's work dir."""

    def __init__(self, spark, data_dir: str, work: str, log):
        self.spark = spark
        self.data = data_dir
        self.work = work
        self.log = log
        self.layers: dict[str, float] = {}
        self._n = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{prefix}-{self._n:03d}")


class Backfill(Workload):
    """Closed loop of passes: each replays one seeded history with
    ``sinks.ingest_bronze`` into a fresh sink directory."""

    name = "backfill"
    gen_blocks = 2500
    warm_passes = 2  # the first is the cold pass: JIT and codegen

    def setup(self) -> float:
        """Returns the time of the first (cold) pass."""
        self.blocks = self.spark.read.parquet(os.path.join(self.data, "blocks.parquet"))
        self.passes: list[str] = []
        times = []
        for _ in range(self.warm_passes):  # checked, not timed
            prepare(self.spark)
            t0 = time.perf_counter()
            self.op()
            times.append(time.perf_counter() - t0)
        self.log(f"backfill: warm-up passes {[round(t, 2) for t in times]}")
        return times[0]

    def op(self) -> bool:
        out = self.fresh_dir("pass")
        sinks.ingest_bronze(self.spark, self.blocks, out, 1)
        self.passes.append(out)
        return True  # checked after the window, across passes

    def check(self) -> int:
        """Failed timed passes: each table's rows must equal the cold pass's,
        and the cold pass must hold the bronze invariants."""
        timed = range(self.warm_passes, len(self.passes))
        failed: set[int] = set()
        for t in TABLES:
            ref = table_print(os.path.join(self.passes[0], t))
            for i in timed:
                got = table_print(os.path.join(self.passes[i], t))
                if got != ref:
                    self.log(f"backfill: pass {i} table {t} {got} != {ref}")
                    failed.add(i)
        self.log("backfill: tables compared")
        first = {t: sinks.read_final(self.spark, os.path.join(self.passes[0], t), sinks.TABLE_PKS[t]) for t in TABLES}
        try:
            validate.assert_bronze_invariants(validate.validate_bronze(first, ACCOUNTS))
        except AssertionError as e:
            self.log(f"backfill: bronze invariants fail: {e}")
            failed.update(timed)
        return len(failed)

    def layer_pass(self, rec) -> None:
        """One real ``ingest_bronze`` pass (``bronze.pass``), then the same
        pass with ``run_bronze``'s DAG spelled out and each lazy layer forced
        on its own.  It persists what ``run_bronze`` persists and nothing
        else; forcing the projections apart from the writes adds their work
        once more, which ``trace.layer_gap_s`` reports."""
        prepare(self.spark)
        with rec.span("bronze.pass"):
            sinks.ingest_bronze(self.spark, self.blocks, self.fresh_dir("pass"), 1)
        prepare(self.spark)
        retries0 = metrics.DATABASE_INSERT_RETRIES_TOTAL.value
        with rec.span("bronze.flatten"):
            flat_txs = bronze.flatten_transactions(self.blocks)
            flat_outcomes = bronze.flatten_outcomes(self.blocks).persist()
            flat_outcomes.count()
        with rec.span("state.fixpoint"):  # eager: materializes every frontier
            mappings = state.resolve_mappings(
                state.seed_mappings(flat_txs, ACCOUNTS), state.child_edges(flat_outcomes, ACCOUNTS)
            )
        with rec.span("state.resolve"):
            readers = state.readers_from_outcomes(flat_outcomes).persist()
            resolved_rows = state.resolve(readers, mappings, ACCOUNTS).persist()
            resolved_rows.count()
            resolved_events = state.resolve(readers, mappings, ACCOUNTS, events_path=True)
        outcome_rows, receipt_rows = bronze.outcome_and_receipt_rows(
            flat_outcomes, resolved_rows, ACCOUNTS
        )
        tables = {
            "events": bronze.event_rows(flat_outcomes, resolved_events, ACCOUNTS),
            "transactions": bronze.transaction_rows(flat_txs, ACCOUNTS),
            "execution_outcomes": outcome_rows.unionByName(bronze.tx_outcome_rows(flat_txs, ACCOUNTS)),
            "receipts": receipt_rows,
        }
        with rec.span("bronze.project"):
            for df in tables.values():
                # every column computed, nothing kept or written
                df.write.format("noop").mode("overwrite").save()
        out = self.fresh_dir("layers")
        with rec.span("sinks.append"):
            for name, df in tables.items():
                sinks.with_retries(lambda d=df, p=os.path.join(out, name): sinks.append(d, p, 1))
        self.layers["sinks.appends"] = len(tables)
        self.layers["sinks.retries"] = metrics.DATABASE_INSERT_RETRIES_TOTAL.value - retries0
        self.layers["sinks.files_written"], self.layers["sinks.bytes_written"] = tree_stats(out)
        # counted after the spans, so their jobs land in none
        self.layers["state.mappings_rows"] = mappings.count()
        self.layers["bronze.rows_out"] = sum(
            self.spark.read.parquet(os.path.join(out, t)).count() for t in tables
        )
        prepare(self.spark)


class QueryMix(Workload):
    """Closed loop, one client, round-robin over four analyst operations on
    a sink laid out like a live deployment: a backfilled history, a
    replayed overlap and a tail of small appends."""

    name = "query_mix"
    gen_blocks = 800
    history_frac = 0.8  # appended as one backfill, the rest as the tail
    overlap_frac = 0.05  # the end of the history, appended again later
    warm_rounds = 3

    def setup(self) -> float:
        spark = self.spark
        blocks = spark.read.parquet(os.path.join(self.data, "blocks.parquet"))
        with open(os.path.join(self.data, "meta.json")) as f:
            meta = json.load(f)
        self.lookup = meta["lookup"]
        heights = meta["heights"]
        n = len(heights)
        h_over = heights[int(n * (self.history_frac - self.overlap_frac)) - 1]
        h_hist = heights[int(n * self.history_frac) - 1]
        # (lo, hi] height slices in append order: history, the replayed
        # overlap, then the tail
        slices = [(-1, h_hist), (h_over, h_hist), (h_hist, heights[-1])]

        from rust_near_indexer_spark.plans.pipeline import run_bronze

        self.base = self.fresh_dir("sink")
        tables = {name: df.persist() for name, df in run_bronze(blocks).items()}

        def append_slices(name: str) -> None:
            df = tables[name]
            for seq, (lo, hi) in enumerate(slices, start=1):
                part = df.where((F.col("block_height") > lo) & (F.col("block_height") <= hi))
                sinks.with_retries(
                    lambda: sinks.append(part, os.path.join(self.base, name), seq)
                )

        # one thread per table; each table's slices land in ingest_seq order
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            for fut in [pool.submit(append_slices, name) for name in tables]:
                fut.result()
        for df in tables.values():
            df.unpersist()
        self.log("query_mix: sink layout written")

        with open(os.path.join(self.data, "assets.json")) as f:
            assets = json.load(f)
        self.assets_path = self.fresh_dir("assets")
        spark.createDataFrame(assets, schemas.DEFUSE_ASSETS).write.parquet(self.assets_path)

        self.ops = {
            "gold": self.op_gold,
            "transfers": self.op_transfers,
            "validate": self.op_validate,
            "lookup": self.op_lookup,
        }
        # the warm-up rounds run at once on threads: concurrent rounds reach
        # the JIT thresholds in less wall time than sequential ones.  They
        # must agree, and their answers are the reference for the window.
        prepare(spark)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=self.warm_rounds) as pool:
            rounds = list(pool.map(lambda _: {k: fn() for k, fn in self.ops.items()},
                                   range(self.warm_rounds)))
        cold = time.perf_counter() - t0
        if any(r != rounds[0] for r in rounds):
            raise RuntimeError("query_mix: the warm-up rounds disagree")
        self.answers = rounds[0]
        self.log(f"query_mix: {self.warm_rounds} warm-up rounds in {cold:.2f} s")
        return cold

    def final(self, table: str):
        return sinks.read_final(self.spark, os.path.join(self.base, table), sinks.TABLE_PKS[table])

    def op_gold(self):
        ev = self.final("events")
        return collect_rows(
            gold.intents_metrics(
                silver.nep_245_events(ev),
                silver.dip4_token_diff(ev),
                self.spark.read.parquet(self.assets_path),
            )
        )

    def _transfers(self, ev, nep):
        return silver.transfers_union(
            nep,
            silver.dip4_transfer(ev, schemas.PRODUCTION_CONTRACTS),
            schemas.PRODUCTION_CONTRACTS,
        )

    def _transfer_totals(self, transfers):
        return collect_rows(
            transfers.groupBy("token_id").agg(
                F.count(F.lit(1)),
                F.countDistinct("tx_hash"),
                F.min("amount"),
                F.max("amount"),
            )
        )

    def op_transfers(self):
        ev = self.final("events")
        return self._transfer_totals(self._transfers(ev, silver.nep_245_events(ev)))

    def op_validate(self):
        return sorted(validate.validate_bronze({t: self.final(t) for t in TABLES}, ACCOUNTS).items())

    def op_lookup(self):
        lk = self.lookup
        window = F.col("block_height").between(lk["lo"], lk["hi"])
        rc = self.final("receipts").where(window & F.col("parent_transaction_hash").isin(*lk["tx_hashes"]))
        ev = self.final("events").where(window & F.col("tx_hash").isin(*lk["tx_hashes"]))
        return collect_rows(rc) + collect_rows(ev)

    def op(self) -> bool:
        ok = True
        for k, fn in self.ops.items():
            try:
                got = fn()
            except Exception:
                self.log(f"query_mix: {k} raised\n{traceback.format_exc()}")
                ok = False
                continue
            if got != self.answers[k]:
                self.log(f"query_mix: {k} answer differs from the set-up answer")
                ok = False
        return ok

    def check(self) -> int:
        return 0  # every answer is checked inside op()

    def layer_pass(self, rec) -> None:
        held = []

        def keep(df):
            df = df.persist()
            held.append(df)
            return df

        with rec.span("sinks.read_final"):
            tables = {t: keep(self.final(t)) for t in TABLES}
            for df in tables.values():
                df.count()
        self.layers["sinks.files_scanned"] = sum(
            tree_stats(os.path.join(self.base, t))[0] for t in TABLES
        )
        ev = tables["events"]
        with rec.span("silver.nep245"):
            nep = keep(silver.nep_245_events(ev))
            nep.count()
        with rec.span("silver.token_diff"):
            td = keep(silver.dip4_token_diff(ev))
            td.count()
        with rec.span("silver.transfers"):
            self._transfer_totals(self._transfers(ev, nep))
        with rec.span("gold.intents_metrics"):
            collect_rows(gold.intents_metrics(nep, td, self.spark.read.parquet(self.assets_path)))
        with rec.span("validate.bronze"):
            validate.validate_bronze(tables, ACCOUNTS)
        for df in held:
            df.unpersist()


WORKLOADS = {w.name: w for w in (Backfill, QueryMix)}
