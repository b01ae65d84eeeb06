"""The benchmark's workloads.

Each workload drives the package only through its public functions. It
builds its inputs from the seed (``gen``) in ``setup``, optionally warms
the session and checks outputs in ``warm``, then yields operations
forever; the closed-loop runner in ``run.py`` times each operation's
``run`` and checks its result outside the timer.

Why each workload exists:

* ``index_serving`` — persisted ANN, MinHash and exact-hash indexes
  serving three reads per write. Serving is bound by query construction,
  and writes run beside reads, so a lifecycle change that speeds appends
  but slows searches shows up.
* ``etl_ingest`` — the reference DAG (produce -> consume -> export), a CDC
  apply and availableNow windowed streams on a fresh batch, then the
  curation funnel (quality filter -> exact dedup -> MinHash near-dedup ->
  decontamination) on a fresh document batch. Time goes to execution and
  writes; construction is a small share, so a construction-only speed-up
  should leave it nearly flat.
* ``analytics`` — registered relational queries over the star schema,
  drained to the noop sink. Building the DataFrame (schema inference,
  catalog loads, Catalyst) is a large share of each operation. It is
  runnable but not in BENCHMARK.json: a full evaluation's time budget
  holds two workloads (perfbench/README.md).
"""

from __future__ import annotations

import os
import shutil
import sys
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

PKG = "etl_apache_kafka_python_doker_aws_spark"

#: Work sizes per scale. ``full`` is what the benchmark measures; ``tiny``
#: is the smoke test's scale (every code path, seconds per operation).
SIZES = {
    "full": {
        "analytics_sf": 0.02,
        "index_corpus": 2000, "index_batch": 200, "index_queries": 16,
        "delete_chunk": 20, "ann_cells": 8, "ann_subspaces": 2, "ann_centroids": 16,
        "etl_customers": 20_000, "etl_events": 20_000,
        "curation_docs": 300,
    },
    "tiny": {
        "analytics_sf": 0.001,
        "index_corpus": 300, "index_batch": 40, "index_queries": 4,
        "delete_chunk": 5, "ann_cells": 4, "ann_subspaces": 2, "ann_centroids": 8,
        "etl_customers": 2000, "etl_events": 2000,
        "curation_docs": 200,
    },
}

_MIN_US = 60_000_000
_HOUR_US = 60 * _MIN_US

ANALYTICS_MIX = [
    "a1_pricing_summary", "a3_count_distinct", "a5_cube", "j1_inner_join",
    "j2_broadcast_join", "j7_asof_join", "w1_ranking", "w4_running_sum",
    "o3_topk_per_group", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "d7_data_quality",
]


@dataclass
class Op:
    """One closed-loop operation. ``run`` is timed; ``check`` is not."""

    kind: str  # "read" or "write"
    label: str
    rows: int  # input rows the operation fully processes
    run: Callable
    check: Callable[[object], bool]


def drain(tr, df):
    """Run ``df`` to the noop sink: the full plan executes, nothing is
    collected into Python."""
    with tr.span("exec.drain", "drain"):
        df.write.format("noop").mode("overwrite").save()
    tr.note_df(df)


@contextmanager
def wrapped_load_table(wrapper):
    """Route every ``load_table`` call of the package through ``wrapper``
    (``wrapper(real, spark, sf_dir, name)``) for the duration of the block.
    Query modules bind ``load_table`` at import, so each binding is swapped."""
    from etl_apache_kafka_python_doker_aws_spark import catalog

    real = catalog.load_table

    def patched(spark, sf_dir, name):
        return wrapper(real, spark, sf_dir, name)

    mods = [
        m for n, m in list(sys.modules.items())
        if n.startswith(PKG) and getattr(m, "load_table", None) is real
    ]
    for m in mods:
        m.load_table = patched
    try:
        yield
    finally:
        for m in mods:
            m.load_table = real


def build_query(tr, spark, name: str, sf_dir: str):
    """Build registered query ``name``; in a traced run each catalog load
    inside it gets a ``catalog.load`` span."""
    from etl_apache_kafka_python_doker_aws_spark.workloads import QUERIES

    if not tr.enabled:
        return QUERIES[name](spark, sf_dir)

    def load_span(real, spark, sf_dir, table):
        with tr.span("catalog.load"):
            return real(spark, sf_dir, table)

    with wrapped_load_table(load_span):
        return QUERIES[name](spark, sf_dir)


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


class Scenario:
    name = ""
    #: A run stops only between cycles, so every run measures the same mix.
    cycle_len = 1

    def __init__(self, spark, root: str, work: str, seed: int, scale: str):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.size = SIZES[scale]
        self.rng = np.random.default_rng(seed)

    def setup(self) -> None:
        """Inputs and fixtures, before the timed window."""

    def warm(self) -> tuple[int, int]:
        """Untimed warm pass; returns (checks made, checks failed)."""
        return 0, 0

    def ops(self):
        raise NotImplementedError

    def teardown(self) -> None:
        """Drop catalog tables; the runner removes the work directory."""

    def layer_stats(self) -> dict:
        """Layer numbers read at the end of a traced run, beside the spans."""
        return {}


class Analytics(Scenario):
    name = "analytics"
    cycle_len = len(ANALYTICS_MIX)

    def setup(self):
        tables = gen.star_schema(self.seed, self.size["analytics_sf"])
        self.sf_dir = os.path.join(self.work, "star")
        gen.write_tables(tables, self.sf_dir)
        self.table_rows = {n: t.num_rows for n, t in tables.items()}
        self.query_rows: dict[str, int] = {}

    def warm(self):
        """One pass over the mix that doubles as the output check: each
        distinct query is compared once with its DuckDB oracle, and the
        tables it loads are recorded (its input rows)."""
        import duckdb

        from etl_apache_kafka_python_doker_aws_spark.workloads import ORACLES, QUERIES

        sys.path.insert(0, os.path.join(self.root, "tests"))
        from oracle_harness import compare

        con = duckdb.connect()
        for t in self.table_rows:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = 0
        for q in ANALYTICS_MIX:
            loaded: list[str] = []

            def record(real, spark, sf_dir, name, loaded=loaded):
                loaded.append(name)
                return real(spark, sf_dir, name)

            with wrapped_load_table(record):
                df = QUERIES[q](self.spark, self.sf_dir)
            self.query_rows[q] = sum(self.table_rows[t] for t in loaded)
            match, detail = compare(df, con, ORACLES[q])
            if not match:
                print(f"analytics: {q} does not match its oracle: {detail}", file=sys.stderr)
                bad += 1
        con.close()
        return len(ANALYTICS_MIX), bad

    def ops(self):
        while True:
            for q in self.rng.permutation(ANALYTICS_MIX):

                def run(tr, q=str(q)):
                    with tr.span("workloads.build", "build"):
                        df = build_query(tr, self.spark, q, self.sf_dir)
                    drain(tr, df)

                yield Op("read", str(q), self.query_rows[str(q)], run, lambda _: True)


class IndexServing(Scenario):
    """Three reads per write against indexes built in ``setup``.

    Planted copies: each appended batch repeats ``n_copies`` texts of live
    base documents verbatim, so the dedup reads must report them.
    Deletes take a fresh chunk of base ids each time and must remove
    exactly that chunk."""

    name = "index_serving"
    cycle_len = 8
    BANDS = 4

    def setup(self):
        from pyspark.sql import functions as F

        from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import ann_index_build
        from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
            minhash_index_append,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import sha_table_append

        s, spark = self.size, self.spark
        rng = self.rng
        n = s["index_corpus"]
        # documents and vectors share ids 0..n-1; four vectors per doc_id
        docs = gen.documents_table(rng, n)
        self.base_texts = docs.column("text").to_pylist()
        emb = gen.embeddings_table(rng, n)
        emb = emb.append_column("doc_id", pa.array(np.arange(n, dtype=np.int64) // 4))
        docs_df = spark.read.parquet(_write(docs, f"{self.work}/in/docs.parquet"))
        emb_df = spark.read.parquet(_write(emb, f"{self.work}/in/emb.parquet"))
        q = gen.embeddings_table(rng, s["index_queries"], id_base=10_000_000)
        self.queries = spark.read.parquet(_write(q, f"{self.work}/in/queries.parquet"))
        self.allowed = emb_df.filter(F.col("label") % 2 == 0).select("vec_id")

        self.ann = f"{self.work}/ann"
        self.mh = f"{self.work}/minhash"
        self.sha = f"perfbench_sha_{self.seed}"
        self.input_bytes = sum(len(t.encode()) for t in self.base_texts)
        ann_index_build(
            emb_df.select("vec_id", "embedding", "label", "doc_id"), "vec_id", "embedding",
            self.ann, dim=gen.DIM, n_cells=s["ann_cells"], n_subspaces=s["ann_subspaces"],
            n_centroids=s["ann_centroids"],
            payload_cols=["label", "doc_id"],
        )
        d = docs_df.select("doc_id", "text")
        minhash_index_append(d, "doc_id", "text", self.mh, batch_id="base")
        sha_table_append(d, "doc_id", "text", self.sha, batch_id="base")
        self.next_id = 1_000_000
        self.next_vec = 20_000_000
        self.live = list(range(n))
        rng.shuffle(self.live)
        self.deleted_vecs = 0
        self.total_vecs = n
        self.batch = None  # (batch id, planted copies) of the last append
        self.pending = None  # the next batch, generated outside the timer

    def _new_batch(self):
        """A fresh document batch: random texts plus verbatim copies of
        live base documents (the planted duplicates), and fresh vectors."""
        s, rng = self.size, self.rng
        n = s["index_batch"]
        n_copies = max(2, n // 10)
        texts = gen.random_texts(rng, n - n_copies)
        src = [int(i) for i in rng.choice(self.live[len(self.live) // 2:], n_copies, replace=False)]
        texts += [self.base_texts[i] for i in src]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        bid = f"b{self.next_id}"
        docs = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)})
        emb = gen.embeddings_table(rng, n, id_base=self.next_vec)
        emb = emb.append_column("doc_id", pa.array(np.arange(n, dtype=np.int64) + self.next_vec))
        self.next_vec += n
        path = f"{self.work}/in/{bid}"
        docs_df = self.spark.read.parquet(_write(docs, f"{path}/docs.parquet"))
        emb_df = self.spark.read.parquet(_write(emb, f"{path}/emb.parquet"))
        planted = {int(ids[n - n_copies + j]): src[j] for j in range(n_copies)}
        return bid, docs_df, emb_df.select("vec_id", "embedding", "label", "doc_id"), planted

    def _cycle(self):
        """Three reads per write: an append, three reads, a delete, three
        reads. The append comes first so the dedup reads have a batch."""
        from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
            ann_index_append,
            ann_index_delete,
            ann_index_search,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.dedup_index import (
            minhash_index_append,
            minhash_index_delete,
            minhash_index_pairs_vs_batch,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import (
            sha_table_append,
            sha_table_dedup_batch,
        )
        from etl_apache_kafka_python_doker_aws_spark.functions.similarity import ann_grouped_topk

        spark, s = self.spark, self.size
        nq, k = s["index_queries"], 5

        def search(kw, stem):
            def run(tr):
                with tr.span(f"{stem}_build", "build"):
                    df = ann_index_search(self.queries, self.ann, k=k, n_probe=8, **kw)
                with tr.span(f"{stem}_drain", "drain"):
                    rows = df.groupBy("query_id").count().collect()
                tr.note_df(df)
                return rows
            return run

        def k_per_query(rows):
            return len(rows) == nq and all(r["count"] == k for r in rows)

        def grouped(tr):
            with tr.span("similarity.grouped_build", "build"):
                df = ann_grouped_topk(self.queries, self.ann, k=3, chunk_k=12, n_probe=8)
            with tr.span("similarity.grouped_drain", "drain"):
                rows = df.groupBy("query_id").count().collect()
            tr.note_df(df)
            return rows

        def pairs(tr):
            bid, planted = self.batch
            with tr.span("dedup_index.pairs_build", "build"):
                df = minhash_index_pairs_vs_batch(spark, self.mh, bid, threshold=0.9)
            with tr.span("dedup_index.pairs_drain", "drain"):
                rows = df.select("id_a", "id_b").collect()
            tr.note_df(df)
            return planted, rows

        def pairs_ok(res):
            planted, rows = res
            found = {(min(r[0], r[1]), max(r[0], r[1])) for r in rows}
            return all((min(a, b), max(a, b)) in found for a, b in planted.items())

        def exact(tr):
            bid, planted = self.batch
            with tr.span("exact_index.dedup_batch_build", "build"):
                df = sha_table_dedup_batch(spark, self.sha, bid)
            with tr.span("exact_index.dedup_batch_drain", "drain"):
                rows = df.filter("is_dup").collect()
            tr.note_df(df)
            return planted, rows

        def exact_ok(res):
            planted, rows = res
            return {int(r[0]) for r in rows} >= set(planted)

        def delete(tr):
            n = s["delete_chunk"]
            chunk, self.live = self.live[:n], self.live[n:]
            with tr.span("dedup_index.delete", "call"):
                bands = minhash_index_delete(spark, self.mh, chunk)
            with tr.span("ann_index.delete", "call"):
                vecs = ann_index_delete(spark, self.ann, chunk)
            self.deleted_vecs += n
            return (bands, n * self.BANDS), (vecs, n)

        def delete_ok(res):
            return all(got == want for got, want in res)

        def append(tr):
            bid, docs_df, emb_df, planted = self.pending
            with tr.span("dedup_index.append", "call"):
                minhash_index_append(docs_df, "doc_id", "text", self.mh, batch_id=bid)
            with tr.span("ann_index.append", "call"):
                ann_index_append(emb_df, "vec_id", "embedding", self.ann, batch_id=bid)
            with tr.span("exact_index.append", "call"):
                sha_table_append(docs_df, "doc_id", "text", self.sha, batch_id=bid)
            self.batch = (bid, planted)
            self.total_vecs += s["index_batch"]

        reads = [
            Op("read", "ann_search", nq, search({}, "ann_index.search"), k_per_query),
            Op("read", "ann_search_allowed", nq,
               search({"allowed": self.allowed}, "ann_index.search_allowed"), k_per_query),
            Op("read", "ann_search_where", nq,
               search({"where": "label < 5"}, "ann_index.search_where"), k_per_query),
            Op("read", "ann_grouped_topk", nq, grouped,
               lambda rows: len(rows) == nq and all(r["count"] == 3 for r in rows)),
            Op("read", "minhash_pairs_vs_batch", s["index_batch"], pairs, pairs_ok),
            Op("read", "sha_dedup_batch", s["index_batch"], exact, exact_ok),
        ]
        return (
            [Op("write", "append", 3 * s["index_batch"], append, lambda _: True)]
            + reads[:3]
            + [Op("write", "delete", 2 * s["delete_chunk"], delete, delete_ok)]
            + reads[3:]
        )

    def ops(self):
        while True:
            for op in self._cycle():
                if op.label == "append":
                    # the next batch is generated outside the timed call
                    self.pending = self._new_batch()
                yield op

    def layer_stats(self) -> dict:
        """Files and bytes of the MinHash index relative to the input text,
        and the share of indexed vectors that are deleted."""
        files, size = 0, 0
        for root, _, names in os.walk(self.mh):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        return {
            "dedup_index.files": files,
            "dedup_index.bytes_per_input_byte": size / self.input_bytes,
            "ann_index.dead_ratio": self.deleted_vecs / self.total_vecs,
        }

    def teardown(self):
        from etl_apache_kafka_python_doker_aws_spark.functions.exact_index import drop_sha_table

        drop_sha_table(self.spark, self.sha)


class EtlIngest(Scenario):
    """Two operations per cycle, each on fresh seed-generated inputs:

    * ``etl_dag``: the reference DAG on a customer batch, a CDC apply of a
      generated change log, and tumbling + session windows over a staged
      events batch run with the availableNow trigger;
    * ``curation_funnel``: the curation funnel on a documents batch."""

    name = "etl_ingest"
    cycle_len = 2

    def setup(self):
        import duckdb

        self.duck = duckdb.connect()
        self.n = 0

    def _inputs(self):
        s, rng = self.size, self.rng
        self.n += 1
        d = f"{self.work}/op{self.n}"
        n_c = s["etl_customers"]
        cust = gen.customer_table(rng, n_c, id_base=self.n * 10_000_000)
        keys = cust.column("c_custkey").to_numpy()
        # change log: updates (seq 2) and deletes (seq 3) of existing keys,
        # inserts of new keys (seq 1); every change delivered twice
        upd = rng.choice(keys, n_c // 10, replace=False)
        rest = np.setdiff1d(keys, upd)
        dels = rng.choice(rest, n_c // 20, replace=False)
        base = cust.to_pandas()
        u = base[base.c_custkey.isin(upd)].assign(c_acctbal=lambda x: (x.c_acctbal + 100).round(2),
                                                 seq=2, op="U")
        dl = base[base.c_custkey.isin(dels)].assign(seq=3, op="D")
        ins = gen.customer_table(rng, n_c // 20, id_base=self.n * 10_000_000 + 5_000_000).to_pandas()
        ins = ins.assign(seq=1, op="I")
        log = pd.concat([u, dl, ins, u, dl, ins], ignore_index=True)
        log["seq"] = log["seq"].astype("int64")
        n_ev = s["etl_events"]
        t0 = gen.ts_us(datetime(2024, 1, 1))
        ts = np.sort(rng.integers(0, 2 * 86_400_000_000, n_ev)) + t0
        events = pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 500, n_ev, dtype=np.int64)),
            "event_type": gen.pick(rng, gen.EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(80.0, n_ev), 2)),
            "props": pa.array(["{}"] * n_ev),
        })
        _write(cust, f"{d}/in/customer.parquet")
        _write(pa.Table.from_pandas(log, preserve_index=False), f"{d}/in/log.parquet")
        _write(events, f"{d}/events/batch000.parquet")
        return d, n_c + len(log) + n_ev

    def _expected(self, d):
        """Oracle answers for one operation's inputs, from DuckDB."""
        con = self.duck
        cdc = con.execute(f"""
            WITH log AS (SELECT * FROM read_parquet('{d}/in/log.parquet')),
            latest AS (SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) rn
                FROM log) WHERE rn = 1),
            final AS (
                SELECT c.* FROM read_parquet('{d}/in/customer.parquet') c
                WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
                UNION ALL
                SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
                FROM latest WHERE op <> 'D')
            SELECT count(*), CAST(round(sum(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
            FROM final""").fetchone()
        # append mode emits a window (a session) only once the watermark,
        # max event time - 10 minutes, has passed its end
        ev = f"""(SELECT epoch_us(ts) t, event_type, user_id FROM read_parquet('{d}/events/*.parquet'))"""
        wm = f"(SELECT max(t) - {_MIN_US * 10} FROM {ev})"
        windows = {
            (w, et): n for w, et, n in con.execute(f"""
                SELECT t // {_HOUR_US} * {_HOUR_US} w, event_type, count(*)
                FROM {ev} WHERE t // {_HOUR_US} * {_HOUR_US} + {_HOUR_US} <= {wm}
                GROUP BY 1, 2""").fetchall()
        }
        sessions = con.execute(f"""
            WITH g AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (
                           PARTITION BY user_id ORDER BY t) < {_MIN_US * 30} THEN 0 ELSE 1 END AS new
                       FROM {ev}),
            s AS (SELECT user_id, t, sum(new) OVER (PARTITION BY user_id ORDER BY t
                      ROWS UNBOUNDED PRECEDING) sid FROM g),
            ss AS (SELECT count(*) n, max(t) + {_MIN_US * 30} AS send FROM s GROUP BY user_id, sid)
            SELECT count(*), CAST(sum(n) AS BIGINT) FROM ss WHERE send <= {wm}""").fetchone()
        return cdc, windows, sessions

    def _run(self, tr, d):
        from pyspark.sql import functions as F

        from etl_apache_kafka_python_doker_aws_spark.plans.merge import cdc_apply
        from etl_apache_kafka_python_doker_aws_spark.plans.pipeline import run_reference_pipeline
        from etl_apache_kafka_python_doker_aws_spark.streaming.ops import (
            EVENTS_STREAM_SCHEMA,
            run_available_now,
            session_counts,
            stream_state_partitions,
            tumbling_counts,
        )

        spark = self.spark
        cust = spark.read.parquet(f"{d}/in/customer.parquet")
        with tr.span("pipeline.run", "call"):
            res = run_reference_pipeline(spark, cust, f"{d}/dag")
            exported = res.exported.count()
        with tr.span("merge.cdc_apply_build", "build"):
            final = cdc_apply(cust, spark.read.parquet(f"{d}/in/log.parquet"), ["c_custkey"], "seq")
            agg = final.agg(
                F.count("*").alias("n"),
                F.round(F.sum(F.col("c_acctbal").cast("decimal(14,2)")), 2).cast("double").alias("bal"),
            )
        with tr.span("merge.cdc_apply_drain", "drain"):
            cdc = tuple(agg.collect()[0])
        tr.note_df(agg)
        staged = f"{d}/events"
        with tr.span("streaming.run", "call"):
            parts = stream_state_partitions(spark, [staged])
            stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(staged)
            tumbling = run_available_now(
                tumbling_counts(stream), d, f"tumbling_{self.n}", state_partitions=parts
            )
            windows = {
                (r[0], r[1]): r[2]
                for r in tumbling.select(F.unix_micros("wstart"), "event_type", "n").collect()
            }
            sessions = run_available_now(
                session_counts(stream), d, f"sessions_{self.n}", state_partitions=parts
            )
            sess = tuple(sessions.agg(F.count("*"), F.sum("n_events")).collect()[0])
        return res.metrics, exported, cdc, windows, sess

    def _dag_op(self) -> Op:
        d, rows = self._inputs()
        want = self._expected(d)

        def check(got):
            metrics, exported, cdc, windows, sessions = got
            want_cdc, want_windows, want_sessions = want
            produce, consume = metrics["produce"]["n_rows"], metrics["consume"]["n_rows"]
            return (
                produce == consume == exported
                and cdc == want_cdc
                and windows == want_windows
                and sessions == want_sessions
            )

        def run(tr):
            try:
                return self._run(tr, d)
            finally:
                for name in (f"tumbling_{self.n}", f"sessions_{self.n}"):
                    self.spark.catalog.dropTempView(name)

        return Op("write", "etl_dag", rows, run, check)

    def _curation_op(self) -> Op:
        """The curation funnel (registered query ``l11_curation_pipeline``)
        on a fresh documents batch with planted near-duplicates."""
        d = f"{self.work}/docs{self.n}"
        n_docs = self.size["curation_docs"]
        docs = gen.documents_table(self.rng, n_docs, id_base=self.n * 100_000)
        _write(docs, f"{d}/documents.parquet")
        n_corpus = sum(1 for i in docs.column("doc_id").to_pylist() if i % 10 != 0)

        def run(tr):
            with tr.span("curation.build", "build"):
                df = build_query(tr, self.spark, "l11_curation_pipeline", d)
            with tr.span("curation.drain", "drain"):
                rows = df.orderBy("stage").collect()
            tr.note_df(df)
            return rows

        def check(rows):
            counts = [r["n_docs"] for r in rows]
            return (
                len(rows) == 5
                and all(r["ok"] for r in rows)
                and counts[0] == n_corpus
                and counts[0] >= counts[1] >= counts[2] > 0
            )

        return Op("read", "curation_funnel", n_docs, run, check)

    def ops(self):
        while True:
            yield self._dag_op()
            yield self._curation_op()
            shutil.rmtree(f"{self.work}/op{self.n}", ignore_errors=True)
            shutil.rmtree(f"{self.work}/docs{self.n}", ignore_errors=True)

    def teardown(self):
        self.duck.close()


SCENARIOS = {s.name: s for s in (Analytics, IndexServing, EtlIngest)}
