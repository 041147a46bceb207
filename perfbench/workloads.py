"""The benchmark's workloads. Each one prepares its inputs, runs one pass
of its seeded op schedule through ``Run.op`` and checks its end state.

- ``analytics``: 11 catalog queries over the generated tables: 8 short
  TPC-H-style and event/customer analytics reads and 3 LLM-corpus
  operator queries (n-gram near-duplicates, embedding semantic dedup
  with a pandas UDF, BM25 retrieval). Each result is collected to the
  driver as Arrow and checked against its pinned digest.
- ``lakehouse_ingest``: a seeded event stream committed into a fresh
  snapshot-log warehouse through the materialization pipeline, with head
  reads, SCD2 upserts, erasure deletes, time travel, metadata-table reads
  and maintenance through the SQL front door, checked against a model of
  the stream kept by the benchmark.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import statistics
import time

import numpy as np

from digest import digest

HERE = os.path.dirname(os.path.abspath(__file__))

#: 4 of the 22 TPC-H-style queries, 4 of the event/customer analytics
#: queries and one query per corpus operator module (``operators.dedup``,
#: ``operators.similarity`` through a pandas UDF, ``operators.retrieval``):
#: a warm-up pass and a measured pass of these fit the per-run time budget
#: (a pass of the 34 analytics queries alone takes 33-60 s on 4 cores,
#: depending on the load on the host)
ANALYTICS_QUERIES = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q6_flat_revenue",
    "q18_large_orders",
    "flagship_event_type_counts", "user_sessions",
    "pii_safe_events", "customer_running_totals",
    "ngram_jaccard_dups_block1k", "semantic_dedup_cells_gemm", "bm25_batch_search",
]


def load_pins() -> dict:
    with open(os.path.join(HERE, "pinned.json")) as fh:
        return json.load(fh)


def _span(run, name: str):
    return run.tracer.span(name) if run.tracer is not None else contextlib.nullcontext()


def run_query(run, fn, data_dir: str):
    """Construct the query's DataFrame, then collect it as Arrow; each
    phase in its own Spark job group. Traced, Catalyst planning is forced
    on its own first."""
    spark = run.spark
    run.group("construct")
    with _span(run, "plans.construct"):
        df = fn(spark, data_dir)
    if run.tracer is not None:
        with _span(run, "catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
    run.group("action")
    with _span(run, "plans.action"):
        return df.toArrow()


class Analytics:
    def __init__(self, run, args):
        from iceberg_quickstart_iac_spark import plans

        self.run, self.args = run, args
        self.catalog = plans.queries(include_retired=True)
        self.pins = load_pins()[f"{args.scale:g}"]

    def prepare(self) -> None:
        from iceberg_quickstart_iac_spark.datasets import TABLE_NAMES, load_table

        for name in TABLE_NAMES:
            load_table(self.run.spark, self.args.data, name)

    def warm_up(self) -> None:
        """The last part of the set-up: one pass of the measured queries,
        each result checked. The first query of a JVM pays seconds of
        generic warm-up (planner, code generation, scheduler), each query
        its own first code generation, and the pandas UDF the start of the
        Python workers; measured passes then see a warm engine, as a
        long-running session's queries do."""
        for name in self._order("warm-up"):
            pin = self.pins[name]
            try:
                ok = list(digest(run_query(self.run, self.catalog[name], self.args.data))) \
                    == [pin["rows"], pin["digest"]]
                err = None if ok else "result does not match the expected value"
            except Exception as exc:  # reported like a failed op
                err = f"{type(exc).__name__}: {str(exc).strip()[:300]}"
            if err:
                self.run.wrong += 1
                self.run.errors.setdefault(f"warm-up:{name}", err)
            self.run.spark.catalog.clearCache()

    def _order(self, k) -> list[str]:
        order = list(ANALYTICS_QUERIES)
        random.Random(f"{self.args.seed}:{k}").shuffle(order)
        return order

    def run_pass(self, k: int) -> None:
        for name in self._order(k):
            pin = self.pins[name]
            self.run.op(
                "query", name,
                lambda: run_query(self.run, self.catalog[name], self.args.data),
                lambda tab: list(digest(tab)) == [pin["rows"], pin["digest"]],
            )
            self.run.spark.catalog.clearCache()

    def verify_end_state(self) -> bool:
        return True

    def op_summary(self) -> dict:
        return _summary(self.run.ops)

    def layer_metrics(self) -> dict:
        return {name: (0.0, unit) for name, unit in INGEST_LAYER_METRICS.items()}

    def teardown(self) -> None:
        pass


def _summary(ops: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for kind in sorted({o["kind"] for o in ops}):
        mine = [o for o in ops if o["kind"] == kind and not o["traced"]]
        ok = [o["s"] for o in mine if o["ok"]]
        out[kind] = {
            "attempted": len(mine),
            "failed": len(mine) - len(ok),
            "p50_s": statistics.median(ok) if ok else None,
        }
    return out


# -- lakehouse_ingest --------------------------------------------------------

OP_KINDS = ("append", "upsert", "delete", "maintain", "head_read", "time_travel",
            "metadata_read")
#: per-layer metrics only the ingest workload produces (0 elsewhere)
INGEST_LAYER_METRICS = {
    "snapstore.log_entries": "count",
    "snapstore.live_data_files": "count",
    "snapstore.stored_bytes_per_row": "B/row",
    "ingest.rows_per_s": "1/s",
    **{f"ingest.{k}.p50_s": "s" for k in OP_KINDS},
    **{f"ingest.{k}.failed": "count" for k in OP_KINDS},
}
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_USERS = 2000
N_KEYS = 2000
HOUR_US = 3_600_000_000


class Ingest:
    """A seeded stream against a fresh warehouse; see the module doc.

    One pass is ``CYCLES`` cycles. Each cycle appends a batch, reads the
    head aggregate and upserts ~1% of the SCD2 keys; the last cycle also
    erases one user, reads a retained earlier snapshot, reads the metadata
    tables, then compacts and expires all snapshots but the newest
    ``RETAIN``.
    """

    BATCH_ROWS = 10_000
    CYCLES = 2
    RETAIN = 3

    def __init__(self, run, args):
        self.run, self.args = run, args
        # timestamps sit in the four whole hours before the run started,
        # so the template's 1-day freshness check passes and every batch
        # lands in four hour partitions
        self.base_us = (int(time.time() * 1e6) // HOUR_US) * HOUR_US
        self.rng = np.random.default_rng(args.seed)
        run.probe = self._files

    # -- inputs ------------------------------------------------------------

    def _batch(self, b: int):
        import pandas as pd

        r = np.random.default_rng([self.args.seed, b])
        n = self.BATCH_ROWS
        users = r.integers(0, N_USERS, n)
        types = r.integers(0, len(EVENT_TYPES), n)
        ts = self.base_us - r.integers(1, 4 * HOUR_US, n)
        pdf = pd.DataFrame({
            "event_id": [f"{self.args.seed:x}-{b:05d}-{i:06d}" for i in range(n)],
            "event_type": np.array(EVENT_TYPES)[types],
            "event_timestamp": pd.to_datetime(ts, unit="us", utc=True),
            "user_id": [f"u{u}" for u in users],
            "session_id": [f"s{x}" for x in r.integers(0, 10 * N_USERS, n)],
            "ip_address": [f"10.0.{x // 256}.{x % 256}" for x in r.integers(0, 65536, n)],
            "user_agent": np.array(["curl/8", "Mozilla/5.0", "okhttp/4"])[r.integers(0, 3, n)],
            "payload": [f'{{"v": {x}}}' for x in r.integers(0, 1000, n)],
            "ingested_at": pd.Timestamp(self.base_us, unit="us", tz="UTC"),
        })
        counts = np.zeros((N_USERS, len(EVENT_TYPES)), dtype=np.int64)
        np.add.at(counts, (users, types), 1)
        return pdf, counts

    def _scd_rows(self):
        import pandas as pd

        ts = pd.Timestamp(self.base_us - 48 * HOUR_US, unit="us", tz="UTC")
        return pd.DataFrame({
            "surrogate_key": np.arange(N_KEYS, dtype=np.int64),
            "natural_key": [f"k{i:05d}" for i in range(N_KEYS)],
            "name": [f"name-{i}" for i in range(N_KEYS)],
            "email": [f"user{i}@example.com" for i in range(N_KEYS)],
            "category": [f"c{i % 7}" for i in range(N_KEYS)],
            "status": "active",
            "effective_from": ts,
            "effective_to": pd.NaT,
            "is_current": True,
            "source_system": "crm",
            "updated_at": ts,
        })

    # -- set-up ------------------------------------------------------------

    def warm_up(self) -> None:
        """The first (cold) append is part of ``prepare`` already."""

    def prepare(self) -> None:
        from iceberg_quickstart_iac_spark import pipeline
        from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse
        from iceberg_quickstart_iac_spark.templates.loader import get_template, spark_schema

        spark = self.run.spark
        self.warehouse = os.path.join(self.args.work, "warehouse")
        self.lake = Lakehouse(os.path.join(self.warehouse, "lakehouse"))
        self.tpl = get_template("event_stream")
        self.schema = spark_schema(self.tpl)
        scd = get_template("scd_type2")
        pipeline.materialize(
            spark, scd, self.warehouse,
            df=spark.createDataFrame(self._scd_rows(), spark_schema(scd)),
        )
        self.scd_rows = N_KEYS
        self.batch_no = 0
        self.counts = np.zeros((N_USERS, len(EVENT_TYPES)), dtype=np.int64)
        #: retained event_stream snapshots: sequence -> (live rows, commit ms)
        self.snaps: dict[int, tuple[int, int]] = {}
        self._append(op=False)

    def _append(self, op: bool) -> None:
        """Append the next batch; as a timed op only ``materialize`` is
        timed, the batch is built before and the model updated after."""
        from iceberg_quickstart_iac_spark import pipeline

        with self.run.harness():
            pdf, counts = self._batch(self.batch_no)
            self.batch_no += 1
            df = self.run.spark.createDataFrame(pdf, self.schema)

        def append():
            return pipeline.materialize(
                self.run.spark, self.tpl, self.warehouse, df=df, mode="append"
            )

        def check(m) -> bool:
            self.counts += counts
            self._committed()
            return m.num_rows == int(self.counts.sum())

        if op:
            self.run.op("append", "event_stream", append, check)
        elif not check(append()):
            raise RuntimeError("set-up append committed an unexpected row count")

    def _table(self):
        return self.lake.table("event_stream")

    def _committed(self) -> None:
        head = self._table().current_snapshot()
        self.snaps[head["sequence"]] = (int(self.counts.sum()), head["committed_at_ms"])

    def _files(self) -> dict[str, int]:
        out = {}
        for d, _, fs in os.walk(self.warehouse):
            for f in fs:
                p = os.path.join(d, f)
                with contextlib.suppress(FileNotFoundError):
                    out[p] = os.path.getsize(p)
        return out

    def _sql(self, statement: str):
        return self.lake.sql(self.run.spark, statement)

    # -- ops ---------------------------------------------------------------

    def _head_ok(self, rows) -> bool:
        got = {r["event_type"]: r["n"] for r in rows}
        want = {t: int(n) for t, n in zip(EVENT_TYPES, self.counts.sum(axis=0)) if n}
        return got == want

    def run_pass(self, k: int) -> None:
        run = self.run
        for c in range(self.CYCLES):
            self._append(op=True)
            run.op("head_read", "event_stream",
                   lambda: self._sql(
                       "SELECT event_type, count(*) AS n FROM event_stream GROUP BY event_type"
                   ).collect(),
                   self._head_ok)
            self._upsert(k, c)
            if c == self.CYCLES - 1:
                self._delete()
                self._time_travel()
                run.op("metadata_read", "event_stream", self._metadata, self._metadata_ok)
                run.op("maintain", "event_stream", self._maintain, lambda out: True)

    def _upsert(self, k: int, c: int) -> None:
        import pandas as pd
        from iceberg_quickstart_iac_spark.operators.scd2 import scd2_merge_sql

        keys = self.rng.choice(N_KEYS, N_KEYS // 100, replace=False)
        eff = pd.Timestamp(self.base_us - HOUR_US + (k * self.CYCLES + c) * 1000, unit="us", tz="UTC")
        updates = pd.DataFrame({
            "natural_key": [f"k{i:05d}" for i in keys],
            "name": [f"name-{i}-v{k}.{c}" for i in keys],
            "status": "inactive" if c % 2 else "active",
            "effective_from": eff,
        })
        with self.run.harness():
            self.run.spark.createDataFrame(updates).createOrReplaceTempView("scd_updates")
        statements = scd2_merge_sql("scd_type2", "scd_updates", "natural_key", ["name", "status"])

        def check(_) -> bool:
            self.scd_rows += len(keys)
            return True

        self.run.op("upsert", "scd_type2", lambda: [self._sql(s) for s in statements], check)

    def _delete(self) -> None:
        live = np.flatnonzero(self.counts.sum(axis=1))
        user = int(self.rng.choice(live))

        def check(entry) -> bool:
            self.counts[user] = 0
            self._committed()
            return entry["row_count"] == int(self.counts.sum())

        self.run.op(
            "delete", "event_stream",
            lambda: self._sql(f"DELETE FROM event_stream WHERE user_id = 'u{user}'"),
            check,
        )

    def _time_travel(self) -> None:
        seqs = sorted(self.snaps)
        seq = seqs[int(self.rng.integers(0, len(seqs)))]
        want = self.snaps[seq][0]
        self.run.op(
            "time_travel", "event_stream",
            lambda: self._sql(
                f"SELECT count(*) AS n FROM event_stream FOR VERSION AS OF {seq}"
            ).collect(),
            lambda rows: rows[0]["n"] == want,
        )

    def _metadata(self):
        snaps = self._sql("SELECT count(*) AS n FROM event_stream__snapshots").collect()
        files = self._sql(
            "SELECT count(*) AS f, sum(record_count) AS n FROM event_stream__files"
        ).collect()
        return snaps[0]["n"], files[0]["n"]

    def _metadata_ok(self, out) -> bool:
        return out == (len(self.snaps), int(self.counts.sum()))

    def _maintain(self):
        t = self._table()
        t.compact(self.run.spark)
        with self.run.harness():
            self._committed()
            keep = sorted(self.snaps)[-self.RETAIN:]
        t.expire_snapshots(older_than_ms=min(self.snaps[s][1] for s in keep) - 1)
        self.snaps = {s: self.snaps[s] for s in keep}

    # -- checks and metrics ------------------------------------------------

    def verify_end_state(self) -> bool:
        """Reopen the warehouse through a fresh ``Lakehouse`` and compare
        its head, one retained snapshot and the SCD2 table to the model."""
        from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse

        lake = Lakehouse(os.path.join(self.warehouse, "lakehouse"))
        spark = self.run.spark
        head = lake.sql(
            spark, "SELECT event_type, count(*) AS n FROM event_stream GROUP BY event_type"
        ).collect()
        seq = min(self.snaps)
        old = lake.sql(
            spark, f"SELECT count(*) AS n FROM event_stream FOR VERSION AS OF {seq}"
        ).collect()[0]["n"]
        scd = lake.sql(
            spark, "SELECT count(*) AS n, count_if(is_current) AS cur FROM scd_type2"
        ).collect()[0]
        return (
            self._head_ok(head)
            and old == self.snaps[seq][0]
            and (scd["n"], scd["cur"]) == (self.scd_rows, N_KEYS)
        )

    def op_summary(self) -> dict:
        return _summary(self.run.ops)

    def layer_metrics(self) -> dict:
        t = self._table()
        root = t.root
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs
        )
        live = int(self.counts.sum())
        out = {
            "snapstore.log_entries": (len(list(t.log_dir.glob("[0-9]*.json"))), "count"),
            "snapstore.live_data_files": (t.files(self.run.spark).count(), "count"),
            "snapstore.stored_bytes_per_row": (stored / max(live, 1), "B/row"),
        }
        appends = [o["s"] for o in self.run.ops if o["kind"] == "append" and o["ok"] and not o["traced"]]
        out["ingest.rows_per_s"] = (self.BATCH_ROWS * len(appends) / max(sum(appends), 1e-9), "1/s")
        summary = self.op_summary()
        for kind in OP_KINDS:
            s = summary.get(kind, {})
            out[f"ingest.{kind}.p50_s"] = (s.get("p50_s") or 0.0, "s")
            out[f"ingest.{kind}.failed"] = (s.get("failed", 0), "count")
        return out

    def teardown(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)


WORKLOADS = {"analytics": Analytics, "lakehouse_ingest": Ingest}
