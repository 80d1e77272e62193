"""The benchmark's workloads: their inputs, their operations and how each
operation's output is checked.

An operation may first write (``before``: the ETL call), then *builds* a
DataFrame (the call into a registered query, with whatever eager work the
program does inside it) and *executes* it (collects it, as a caller
reading the result would).  Every run checks every operation's output
outside the timed region:

- a registered query with an oracle is compared with DuckDB running the
  oracle SQL over the same inputs (``testing.compare_spark_duckdb``);
- a rows-only query runs its registered ``*_planted`` twin, whose exact
  output DuckDB checks the same way;
- every execution's canonical row hash must equal the first pass's;
- ``etl_upsert``'s final tables must equal an independent DuckDB
  latest-wins replay of the same seeded batches.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import datagen
from postpy_spark import etl, io, streaming, testing


@dataclass
class Op:
    """One operation of a pass.  ``name`` identifies the same operation in
    every pass; ``check`` returns the problems of its first-pass result."""

    name: str
    build: Callable
    before: Callable | None = None
    check: Callable | None = None


class Result:
    """A collected result in the shape ``compare_spark_duckdb`` reads."""

    def __init__(self, df, rows) -> None:
        self.schema = df.schema
        self.columns = df.columns
        self._rows = rows

    def collect(self):
        return self._rows


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table under ``sf_dir``; a table may be one
    parquet file or a directory of them (what a Spark write leaves)."""
    con = duckdb.connect()
    for n in sorted(os.listdir(sf_dir)):
        if n.endswith(".parquet"):
            con.execute(f"CREATE VIEW {n[:-8]} AS SELECT * FROM read_parquet('{_glob(sf_dir, n)}')")
    return con


def _glob(d: str, name: str) -> str:
    p = os.path.join(d, name)
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def oracle_check(rq, sf_dir: str) -> Callable:
    def check(res: Result) -> list[str]:
        return testing.compare_spark_duckdb(res, duck_views(sf_dir), rq.oracle)

    return check


# ---------------------------------------------------------------------------
# LLM operators
# ---------------------------------------------------------------------------

#: Rows-only queries and the planted twin, with an exact oracle, that runs
#: the same code path.
TWINS = {"sim_knn_graph": "sim_knn_graph_planted"}


class QueryWorkload:
    """A fixed list of registered queries over one generated tier; the seed
    picks the inputs and, per pass, the order of the queries."""

    def __init__(self, ctx, names: list[str], scale: datagen.Scale) -> None:
        self.ctx = ctx
        self.names = names
        self.scale = scale
        self.data = os.path.join(ctx.work, "data")

    def prepare(self) -> None:
        datagen.write_tables(self.data, datagen.make_tables(self.ctx.seed, self.scale))

    def start_pass(self) -> None:
        pass

    def pass_ops(self, rng: np.random.Generator | None) -> list[Op]:
        reg, spark = self.ctx.reg, self.ctx.spark
        ops = []
        for name in self.names if rng is None else rng.permutation(self.names):
            rq = reg[str(name)]
            ops.append(
                Op(
                    name=rq.name,
                    build=lambda rq=rq: rq.fn(spark, self.data),
                    check=oracle_check(rq, self.data) if rq.oracle else None,
                )
            )
        return ops

    def final_checks(self) -> dict[str, list[str]]:
        """Run each rows-only query's planted twin once and check it
        against its oracle; returns problems per twin."""
        reg, spark = self.ctx.reg, self.ctx.spark
        out = {}
        for twin in sorted({TWINS[n] for n in self.names if reg[n].oracle is None}):
            rq = reg[twin]
            df = rq.fn(spark, self.data)
            out[twin] = testing.compare_spark_duckdb(df, duck_views(self.data), rq.oracle)
        return out


# ---------------------------------------------------------------------------
# etl_upsert
# ---------------------------------------------------------------------------

#: registered query that reads each upsert target back
READ_BACK = {"orders": "topk_per_group", "lineitem": "agg_groupby"}
STREAM_KEYS = ["user_id"]
STREAM_ORDER = ["ts", "event_id"]


class EtlWorkload:
    """Seeded keyed batches applied with ``etl.upsert_into_path``, each
    followed by a registered aggregate read back from the target, then one
    ``etl.compact_parquet`` and one ``streaming.stream_upsert_to_path``.

    Each pass first restores the two targets from the generated base
    (untimed), so every pass applies the same batches to the same tables
    and must end in the same state."""

    def __init__(self, ctx, scale: datagen.Scale, n_batches: int, batch_orders: int,
                 n_chunks: int, chunk_rows: int) -> None:
        self.ctx = ctx
        self.scale = scale
        self.n_batches = n_batches
        self.batch_orders = batch_orders
        self.n_chunks = n_chunks
        self.chunk_rows = chunk_rows
        w = ctx.work
        self.base = os.path.join(w, "base")
        self.target = os.path.join(w, "target")
        self.batch_dir = os.path.join(w, "batches")
        self.chunk_dir = os.path.join(w, "chunks")
        self.stream_root = os.path.join(w, "stream")
        self.pass_no = 0
        self.files_after = 0

    def prepare(self) -> None:
        seed = self.ctx.seed
        tables = datagen.make_tables(seed, self.scale)
        datagen.write_tables(self.base, tables)
        self.batches = datagen.upsert_batches(seed, tables, self.scale, self.n_batches, self.batch_orders)
        os.makedirs(self.batch_dir)
        self.batch_paths = []
        for i, b in enumerate(self.batches):
            p = os.path.join(self.batch_dir, f"{i:02d}_{b.table}.parquet")
            pq.write_table(b.rows, p)
            self.batch_paths.append(p)
        os.makedirs(self.chunk_dir)
        for i, c in enumerate(datagen.event_chunks(seed, self.n_chunks, self.chunk_rows, self.scale.users)):
            pq.write_table(c, os.path.join(self.chunk_dir, f"chunk_{i}.parquet"))
        self.source_bytes = sum(os.path.getsize(p) for p in self.batch_paths)

    def start_pass(self) -> None:
        shutil.rmtree(self.target, ignore_errors=True)
        shutil.copytree(self.base, self.target)
        shutil.rmtree(self.stream_root, ignore_errors=True)
        self.pass_no += 1

    def pass_ops(self, rng: np.random.Generator | None) -> list[Op]:
        """The batches in the seeded order ``prepare`` fixed (the same in
        every pass, since the order decides the final state), then the
        compaction and the streaming upsert."""
        spark, reg = self.ctx.spark, self.ctx.reg
        ops = []
        for i, (b, path) in enumerate(zip(self.batches, self.batch_paths)):
            rq = reg[READ_BACK[b.table]]
            target = os.path.join(self.target, f"{b.table}.parquet")

            def upsert(path=path, target=target, keys=list(b.keys)):
                etl.upsert_into_path(spark, target, io.scan_parquet(spark, path), keys)

            ops.append(
                Op(
                    name=f"upsert_{i:02d}_{b.table}",
                    before=upsert,
                    build=lambda rq=rq: rq.fn(spark, self.target),
                    check=oracle_check(rq, self.target),
                )
            )

        def compact():
            self.files_after = etl.compact_parquet(spark, os.path.join(self.target, "lineitem.parquet"))[
                "files_after"
            ]

        li = reg[READ_BACK["lineitem"]]
        ops.append(
            Op(
                name="compact_lineitem",
                before=compact,
                build=lambda: li.fn(spark, self.target),
                check=self._check_final,
            )
        )
        latest, ckpt = self._stream_paths()

        def stream():
            src = streaming.read_event_stream(spark, self.chunk_dir)
            streaming.stream_upsert_to_path(spark, src, latest, STREAM_KEYS, STREAM_ORDER, ckpt)

        ops.append(
            Op(
                name="stream_upsert_events",
                before=stream,
                build=lambda: io.scan_parquet(spark, latest).select(
                    "event_id",
                    F.unix_micros("ts").alias("ts_us"),
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                ),
                check=self._check_stream,
            )
        )
        return ops

    def final_checks(self) -> dict[str, list[str]]:
        return {}

    def _stream_paths(self) -> tuple[str, str]:
        p = os.path.join(self.stream_root, f"pass{self.pass_no}")
        return os.path.join(p, "latest"), os.path.join(p, "checkpoint")

    def _check_final(self, res: Result) -> list[str]:
        """Compacted lineitem read back against its oracle, and both final
        targets against the DuckDB latest-wins replay."""
        problems = oracle_check(self.ctx.reg[READ_BACK["lineitem"]], self.target)(res)
        canon_rows = testing.canon_rows
        con = duckdb.connect()
        for table, keys in (("orders", ("o_orderkey",)), ("lineitem", ("l_orderkey", "l_linenumber"))):
            parts = [f"SELECT *, -1 AS _prio FROM read_parquet('{self.base}/{table}.parquet')"]
            for i, (b, p) in enumerate(zip(self.batches, self.batch_paths)):
                if b.table == table:
                    parts.append(f"SELECT *, {i} AS _prio FROM read_parquet('{p}')")
            want = con.execute(
                f"SELECT * EXCLUDE (_prio) FROM ({' UNION ALL '.join(parts)}) "
                f"QUALIFY row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY _prio DESC) = 1"
            )
            want_cols = [d[0] for d in want.description]
            want_rows = want.fetchall()
            got = con.execute(f"SELECT * FROM read_parquet('{_glob(self.target, table + '.parquet')}')")
            got_cols = [d[0] for d in got.description]
            if canon_rows(got_cols, got.fetchall()) != canon_rows(want_cols, want_rows):
                problems.append(f"{table}: final target differs from the latest-wins replay")
        return problems

    def _check_stream(self, res: Result) -> list[str]:
        """Latest event per user over every chunk, computed by DuckDB."""
        want = duckdb.connect().execute(
            "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props "
            f"FROM read_parquet('{self.chunk_dir}/chunk_*.parquet') "
            "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"
        )
        canon_rows = testing.canon_rows
        want_c = canon_rows([d[0] for d in want.description], want.fetchall())
        got_c = canon_rows(res.columns, res.collect())
        return [] if want_c == got_c else ["stream target differs from the latest-per-user replay"]


# ---------------------------------------------------------------------------
# The named workloads
# ---------------------------------------------------------------------------

#: Executor and Python-worker kernels (ROADMAP direction 3): the LSH kNN
#: graph with its Arrow pair-dot worker, and the char-gram span profile.
LLM_COMPUTE_BOUND = [
    "sim_knn_graph",
    "dedup_char_spans",
]

#: The two tables those queries read, sized by measurement on one 4-CPU
#: machine.  Spark task CPU per wall second of the two queries is 0.5 at
#: 500 documents / 500 vectors, 1.0 (spans) and 1.0–1.2 (kNN) here, 1.2 and
#: 1.4 at 3500 / 1500, and 1.3 and 1.9 at sf0.1's 5000 / 2000.  Above this
#: tier a run takes 80–90 s on a loaded machine instead of about 70 s, too
#: long for a set of 48 runs of the two workloads to end within 57 minutes.
LLM_SCALE = datagen.Scale(documents=2500, embeddings=1250)


def make(name: str, ctx):
    """The workload ``name``.  ``nominal_pass_s`` is one warm timed pass on
    the 4-CPU reference machine; it turns ``--seconds`` into a pass count."""
    if name == "llm_compute_bound":
        wl = QueryWorkload(ctx, LLM_COMPUTE_BOUND, LLM_SCALE)
        wl.nominal_pass_s = 9.0
    elif name == "etl_upsert":
        scale = datagen.Scale(customer=1500, supplier=100, part=2000, orders=15000,
                              events=200, users=150, documents=50, embeddings=50)
        wl = EtlWorkload(ctx, scale, n_batches=2, batch_orders=1500, n_chunks=3, chunk_rows=500)
        wl.nominal_pass_s = 7.0
    else:
        raise KeyError(name)
    return wl


NAMES = ("llm_compute_bound", "etl_upsert")
