"""The benchmark's workloads.

Each workload drives the engine through its public functions only.
``run.py`` calls, in order:

- ``prestart()``: set-up that needs no Spark session, run before the
  session starts;
- ``setup()``: the rest of the set-up, with the session;
- per op ``i``: ``prepare_op(i)`` makes its input (untimed), then
  ``op(i)`` runs it (timed) and returns True when its output check
  passed;
- ``finish()``: the end-of-run checks; returns their failures and puts
  the ops they found wrong in ``late_failed``.

In the traced run, ``layer_metrics()`` turns the spans and streaming
progress of the timed ops into the workload's per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

from . import gen, stats

#: tweets per ETL drop (one cycle's input)
ETL_TWEETS = 1000
#: JSON lines per front-door micro-batch
FD_LINES = 10000
#: scale factor of the generated query tables
QUERY_SF = 0.01
#: threads for the untimed oracle check in the query workloads' set-up
SETUP_THREADS = 4

EAGER_QUERIES = [
    "q63_dup_clusters",
    "q190_pagerank",
    "q381_hits",
    "q529_dedup_chaining_audit",
    "q530_curation_pipeline",
    "q531_curation_admission",
]


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _median_per_op(spans, name: str) -> float:
    """Median over ops of the summed duration of spans ``name``."""
    per_op: dict[int, float] = {}
    for s in spans:
        if s.name == name:
            per_op[s.op] = per_op.get(s.op, 0.0) + s.dur
    return stats.median(list(per_op.values())) if per_op else 0.0


def _progress_medians(progress: list[dict], prefix: str, phases: tuple[str, ...]) -> dict[str, tuple[float, str]]:
    """Median ``durationMs`` of the given micro-batch phases over the
    batches that read rows (``triggerExecution`` is the whole batch)."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    out = {}
    for key in phases:
        name = "batch" if key == "triggerExecution" else key
        out[f"{prefix}.{name}_ms"] = (float(stats.median([p["durationMs"].get(key, 0) for p in batches])), "ms")
    return out


class Workload:
    name = ""
    #: ops per pass; warm-up and measurement run whole passes
    pass_len = 1
    #: untimed passes before the timed phase, charged to ``setup_s``
    warm_passes = 1
    #: timed passes a run makes at least, whatever ``--seconds`` says
    min_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        #: index of the next op; ops are numbered from 0, warm-up included
        self.next_index = 0
        #: input rows of each op, where rows are the unit of work
        self.rows_in: dict[int, int] = {}
        #: ops that the end-of-run checks found wrong
        self.late_failed: set[int] = set()
        #: streaming progress per op, kept in the traced run
        self.progress: dict[int, list[dict]] = {}

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def drain_done(self, i: int) -> None:
        """In the traced run, wait until the streaming query of op ``i``
        has posted all its progress, and keep that progress."""
        listener = self.ctx.listener
        if listener is not None:
            listener.wait_next()
            self.progress[i] = listener.take()

    def prestart(self) -> None:
        """Set-up that needs no Spark session; runs before it starts."""

    def setup(self) -> None:
        pass

    def prepare_op(self, i: int) -> None:
        pass

    def stored_bytes_per_input_byte(self) -> float | None:
        return None


# ------------------------------------------------------------------ ETL


class EtlCycle(Workload):
    """One daily cycle of the reference job: a new drop of raw tweet
    JSON is ingested to landing by the streaming leg, then the batch
    pipeline reads that drop through the S7 horizon, stages it, appends
    to the analytical table and logs the run."""

    name = "etl_cycle"

    def __init__(self, ctx):
        super().__init__(ctx)
        w = ctx.work
        self.src = os.path.join(w, "src")
        self.ckpt = os.path.join(w, "ingest_ckpt")
        from serverless_etl_spark.pipeline import PipelinePaths

        self.paths = PipelinePaths(
            landing=os.path.join(w, "landing"),
            staging=os.path.join(w, "staging"),
            analytical=os.path.join(w, "analytical"),
            run_log=os.path.join(w, "run_log"),
        )
        os.makedirs(self.src, exist_ok=True)
        self.drops = gen.TweetDrops(ctx.seed, ETL_TWEETS)
        self.expected: dict[int, tuple[int, int]] = {}
        self.got: dict[int, tuple[int, int]] = {}
        self.starts: dict[int, float] = {}
        self.input_bytes = 0
        self.replay_s = 0.0

    @staticmethod
    def run_date(k: int) -> str:
        return (dt.date(2024, 1, 1) + dt.timedelta(days=k)).isoformat()

    def prepare_op(self, k: int) -> None:
        lines, loaded, staged = self.drops.drop(k)
        path = os.path.join(self.src, f"drop-{k:05d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        self.input_bytes += os.path.getsize(path)
        self.rows_in[k] = len(lines)
        self.expected[k] = (staged, loaded)

    def _pipeline(self, k: int, now: float):
        from serverless_etl_spark.pipeline import BatchPipeline

        # the scheduler's instant: one default-length horizon after the
        # cycle began, so the window holds exactly this cycle's drop
        pinned = dt.datetime.fromtimestamp(now, dt.timezone.utc) + dt.timedelta(hours=24)
        return BatchPipeline(
            self.spark, self.paths, self.run_date(k),
            now=pinned.strftime("%Y-%m-%d %H:%M:%S.%f"),
        )

    def op(self, k: int) -> bool:
        from serverless_etl_spark.streaming.ingest import run_ingest_once

        start = self.starts[k] = time.time()
        with self.span("ingest"):
            run_ingest_once(self.spark, self.src, self.paths.landing, self.ckpt)
            self.drain_done(k)
        pipe = self._pipeline(k, start)
        with self.span("pipeline.read_landing"):
            landing = pipe.read_landing()
        with self.span("pipeline.to_staging"):
            n_staged = pipe.to_staging(landing)
        with self.span("pipeline.log_run"):
            pipe.log_run("staging.hashtags_proc", n_staged)
        with self.span("pipeline.to_analytical"):
            n_loaded = pipe.to_analytical()
        with self.span("pipeline.log_run"):
            pipe.log_run("analytical.hashtag_data", n_loaded)
        self.got[k] = (n_staged, n_loaded)
        return self.got[k] == self.expected[k]

    def finish(self) -> list[str]:
        """Replay the last window (must load 0 rows), then check hash_id
        uniqueness, the loaded total and the run log."""
        from pyspark.sql import functions as F

        fails = []
        last = max(self.got)
        t = time.perf_counter()
        with self.span("pipeline.replay"):
            replay = self._pipeline(last, self.starts[last]).run()
        self.replay_s = time.perf_counter() - t
        if replay["loaded"] != 0 or replay["staged"] != self.got[last][0]:
            fails.append(f"replay of cycle {last} gave {replay}, want staged={self.got[last][0]} loaded=0")
        an = self.spark.read.parquet(self.paths.analytical)
        n, n_ids = an.agg(F.count(F.lit(1)), F.countDistinct("hash_id")).first()
        want = sum(v[1] for v in self.got.values())
        if not n == n_ids == want:
            fails.append(f"analytical rows {n}, distinct hash_id {n_ids}, loaded total {want}")
        log = {
            (r["time_stamp"], r["table_name"], r["records_inserted"])
            for r in self.spark.read.parquet(self.paths.run_log).collect()
        }
        want_log = set()
        for k, (staged, loaded) in [*self.got.items(), (last, (self.got[last][0], 0))]:
            want_log.add((self.run_date(k), "staging.hashtags_proc", staged))
            want_log.add((self.run_date(k), "analytical.hashtag_data", loaded))
        if log != want_log:
            fails.append(f"run log differs: {sorted(log ^ want_log)[:4]}")
        return fails

    def stored_bytes_per_input_byte(self) -> float:
        p = self.paths
        out = dir_bytes(p.landing, p.staging, p.analytical, p.run_log, self.ckpt)
        return out / self.input_bytes

    def landed_rows(self, k: int) -> int:
        """Rows the ingest of cycle ``k`` wrote to landing, from the
        footers of the files it wrote (the file sink reports none)."""
        import pyarrow.parquet as pq

        lo = self.starts[k]
        hi = self.starts.get(k + 1, float("inf"))
        rows = 0
        for d, dirs, files in os.walk(self.paths.landing):
            dirs[:] = [x for x in dirs if not x.startswith("_")]
            for f in files:
                path = os.path.join(d, f)
                if f.endswith(".parquet") and lo <= os.path.getmtime(path) < hi:
                    rows += pq.read_metadata(path).num_rows
        return rows

    def layer_metrics(self, spans, ops: set[int]) -> dict[str, tuple[float, str]]:
        progress = [p for k in sorted(ops) for p in self.progress.get(k, [])]
        m = {
            "ingest.drain_s": (_median_per_op(spans, "ingest"), "s"),
            **_progress_medians(progress, "ingest", ("triggerExecution", "addBatch", "walCommit")),
            "ingest.rows_in": (float(stats.median([sum(p["numInputRows"] for p in self.progress[k]) for k in ops])), "count"),
            "ingest.rows_landed": (float(stats.median([self.landed_rows(k) for k in ops])), "count"),
        }
        for stage in ("read_landing", "to_staging", "to_analytical", "log_run"):
            m[f"pipeline.{stage}_s"] = (_median_per_op(spans, f"pipeline.{stage}"), "s")
        m["pipeline.replay_s"] = (self.replay_s, "s")
        m["pipeline.rows_staged"] = (float(stats.median([self.got[k][0] for k in ops])), "count")
        m["pipeline.rows_loaded"] = (float(stats.median([self.got[k][1] for k in ops])), "count")
        return m


# ------------------------------------------------------------ front door


class FrontDoorDrain(Workload):
    """One micro-batch of the composed schema -> secret -> FK gates per
    op: a new JSON-lines file lands in the source directory and
    ``run_front_door`` drains it (``maxFilesPerTrigger=1``)."""

    name = "front_door_drain"

    def __init__(self, ctx):
        super().__init__(ctx)
        w = ctx.work
        self.src = os.path.join(w, "fd_src")
        self.dim = os.path.join(w, "fd_dim")
        self.out = {n: os.path.join(w, f"fd_{n}") for n in ("clean", "schema_q", "secret_q", "orphan_q", "ledger")}
        self.ckpt = os.path.join(w, "fd_ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.planted: dict[int, dict[str, int]] = {}
        self.input_bytes = 0

    def prepare_op(self, b: int) -> None:
        lines, counts = gen.front_door_lines(self.ctx.seed, b, FD_LINES)
        path = os.path.join(self.src, f"part-{b:05d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        self.input_bytes += os.path.getsize(path)
        self.rows_in[b] = len(lines)
        self.planted[b] = counts

    def op(self, b: int) -> bool:
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from serverless_etl_spark.streaming.front_door import run_front_door

        contract = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType()),
             StructField("source", StringType())]
        )
        o = self.out
        with self.span("front_door"):
            run_front_door(
                self.spark, self.src, contract, ["doc_id", "source"], self.dim,
                "source", "source", o["clean"], o["schema_q"], o["secret_q"],
                o["orphan_q"], o["ledger"], self.ckpt, max_files_per_trigger=1,
            )
            self.drain_done(b)
        return True  # the ledger is checked once, in finish()

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.dim, exist_ok=True)
        pq.write_table(pa.table({"source": gen.FD_SOURCES}), os.path.join(self.dim, "part-0.parquet"))

    def finish(self) -> list[str]:
        """Fail every batch whose ledger row does not conserve rows or
        does not match the planted class counts (one file = one batch,
        in drop order)."""
        from serverless_etl_spark.streaming.front_door import read_ledger

        self.ledger = {
            r["batch_id"]: {
                "rows": r["n_rows"], "clean": r["n_clean"], "schema": r["n_schema_q"],
                "secret": r["n_secret_q"], "orphan": r["n_orphan_q"],
            }
            for r in read_ledger(self.spark, self.out["ledger"]).collect()
        }
        for b, want in self.planted.items():
            row = self.ledger.get(b)
            if (
                row is None
                or row["rows"] != sum(want.values())
                or row["rows"] != row["clean"] + row["schema"] + row["secret"] + row["orphan"]
                or any(row[k] != want[k] for k in want)
            ):
                self.late_failed.add(b)
        return [f"ledger mismatch for batches {sorted(self.late_failed)[:5]}"] if self.late_failed else []

    def stored_bytes_per_input_byte(self) -> float:
        return dir_bytes(*self.out.values(), self.ckpt) / self.input_bytes

    def layer_metrics(self, spans, ops: set[int]) -> dict[str, tuple[float, str]]:
        progress = [p for b in sorted(ops) for p in self.progress.get(b, [])]
        led = self.ledger
        rows = sum(led[b]["rows"] for b in ops)
        clean = sum(led[b]["clean"] for b in ops)
        return {
            "front_door.drain_s": (_median_per_op(spans, "front_door"), "s"),
            "front_door.batches": (sum(p["numInputRows"] > 0 for p in progress) / len(ops), "count"),
            **_progress_medians(
                progress, "front_door", ("triggerExecution", "addBatch", "walCommit", "queryPlanning")
            ),
            "front_door.clean_ratio": (clean / rows, "frac"),
        }


# ------------------------------------------------------------ daily cycle


class DailyCycle(Workload):
    """One day of the reference system per op: the front door drains
    the day's document batch (as ``front_door_drain``), then the day's
    tweet drop is ingested and run through the batch pipeline (as
    ``etl_cycle``). Both streaming legs share one op so that a round of
    two workloads still times every streaming and pipeline layer; each
    leg's cold start is paid once, in the warm-up op."""

    name = "daily_cycle"
    #: an op takes about as long as a whole run's ``--seconds``; two
    #: keep a run's figures from resting on a single op
    min_passes = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.fd = FrontDoorDrain(ctx)
        self.etl = EtlCycle(ctx)

    def setup(self) -> None:
        self.fd.setup()

    def prepare_op(self, i: int) -> None:
        self.fd.prepare_op(i)
        self.etl.prepare_op(i)
        self.rows_in[i] = self.fd.rows_in[i] + self.etl.rows_in[i]

    def op(self, i: int) -> bool:
        ok = self.fd.op(i)
        return self.etl.op(i) and ok

    def finish(self) -> list[str]:
        fails = self.fd.finish() + self.etl.finish()
        self.late_failed = self.fd.late_failed | self.etl.late_failed
        return fails

    def stored_bytes_per_input_byte(self) -> float:
        fd, etl = self.fd, self.etl
        p = etl.paths
        out = dir_bytes(*fd.out.values(), fd.ckpt, p.landing, p.staging, p.analytical, p.run_log, etl.ckpt)
        return out / (fd.input_bytes + etl.input_bytes)

    def layer_metrics(self, spans, ops: set[int]) -> dict[str, tuple[float, str]]:
        return {**self.fd.layer_metrics(spans, ops), **self.etl.layer_metrics(spans, ops)}


# --------------------------------------------------------------- queries


def _same(u, v) -> bool:
    if isinstance(u, float) or isinstance(v, float):
        if u is None or v is None:
            return u is v
        if math.isnan(u) and math.isnan(v):
            return True
        return math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(u, (list, tuple)) and isinstance(v, (list, tuple)):
        return len(u) == len(v) and all(_same(a, b) for a, b in zip(u, v))
    if isinstance(u, dict) and isinstance(v, dict):
        return u.keys() == v.keys() and all(_same(u[k], v[k]) for k in u)
    return u == v


def _plain(x):
    """Spark Rows -> dicts (DuckDB returns structs as dicts), recursively."""
    from pyspark.sql import Row

    if isinstance(x, Row):
        return x.asDict(recursive=True)
    if isinstance(x, list):
        return [_plain(v) for v in x]
    return x


def matches_oracle(spark_rows, spark_cols, duck_rows, duck_cols) -> bool:
    """Row-set equality with columns aligned by name, floats compared
    to a relative 1e-9."""

    def norm(rows, cols):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_plain(r[i]) for i in idx) for r in rows), key=repr)

    if sorted(spark_cols) != sorted(duck_cols) or len(spark_rows) != len(duck_rows):
        return False
    a, b = norm(spark_rows, spark_cols), norm(duck_rows, duck_cols)
    return all(_same(x, y) for x, y in zip(a, b))


class QueryLoop(Workload):
    """Closed loop over registry queries: build one query, then run it
    to a noop sink. Each pass runs every query once, in the registry's
    order. The order is fixed, not seeded: a run measures a fixed point
    on the JVM's warm-up curve, and moving a query to another position
    moves it to another point of that curve."""

    #: the oracle check in ``setup()`` is the warm-up
    warm_passes = 0

    queries: list[str] = []

    def __init__(self, ctx):
        super().__init__(ctx)
        from serverless_etl_spark import registry

        registry.load_all()
        self.registry = registry
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.oracle_ok: dict[str, bool] = {}
        self.ran: dict[int, str] = {}
        #: ops whose noop write succeeded, in order (the traced run
        #: pairs them with the writes' Catalyst phases)
        self.wrote: list[int] = []
        self.phases: dict[int, dict[str, float]] = {}
        self.plans = None

    def op(self, i: int) -> bool:
        q = self.queries[i % len(self.queries)]
        self.ran[i] = q
        with self.span("operators.build"):
            df = self.registry.QUERIES[q](self.spark, self.sf_dir)
        with self.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        self.wrote.append(i)
        return self.oracle_ok[q]

    def _collect(self, q: str) -> tuple[list[tuple], list[str]]:
        """The query's rows and columns; then one noop write of it, which
        warms the path the timed ops take."""
        df = self.registry.QUERIES[q](self.spark, self.sf_dir)
        rows = [tuple(r) for r in df.collect()]
        df.write.format("noop").mode("overwrite").save()
        return rows, df.columns

    def _oracle_results(self) -> dict[str, tuple[list, list[str]]]:
        """Each query's DuckDB oracle rows and column names."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                name = t.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}'")
            out = {}
            for q in self.queries:
                res = con.execute(self.registry.ORACLES[q])
                out[q] = (res.fetchall(), [d[0] for d in res.description])
            return out
        finally:
            con.close()

    def prestart(self) -> None:
        gen.make_tables(self.sf_dir, QUERY_SF, self.ctx.seed)

    def setup(self) -> None:
        """Build, collect and noop-write every query once, untimed, and
        compare its rows with its DuckDB oracle over the same files. The
        queries and DuckDB share ``SETUP_THREADS`` threads, started after the
        session, so they never share the CPU with ``session.start_s``."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(SETUP_THREADS) as pool:
            oracles = pool.submit(self._oracle_results)
            got = dict(zip(self.queries, pool.map(self._collect, self.queries)))
            oracles = oracles.result()
        for q in self.queries:
            self.oracle_ok[q] = ok = matches_oracle(*got[q], *oracles[q])
            if not ok:
                print(f"# oracle mismatch: {q}", file=sys.stderr, flush=True)
        if self.ctx.tracer.enabled:
            from .trace import WritePhaseListener

            self.plans = WritePhaseListener(self.spark)

    def finish(self) -> list[str]:
        if self.plans is not None:
            self.phases = dict(zip(self.wrote, self.plans.close(len(self.wrote))))
        bad = sorted(q for q, ok in self.oracle_ok.items() if not ok)
        return [f"oracle mismatch: {bad}"] if bad else []

    def layer_metrics(self, spans, ops: set[int]) -> dict[str, tuple[float, str]]:
        build = {s.op: s.dur for s in spans if s.name == "operators.build"}
        execd = {s.op: s.dur for s in spans if s.name == "exec"}
        m = {
            "operators.build_s": (stats.median(list(build.values())), "s"),
            "operators.exec_s": (stats.median(list(execd.values())), "s"),
        }
        for q in self.queries:
            mine = [i for i in ops if self.ran[i] == q]
            if mine:
                m[f"operators.build_s.{q}"] = (stats.median([build[i] for i in mine]), "s")
                m[f"operators.exec_s.{q}"] = (stats.median([execd[i] for i in mine]), "s")
        # the write's own phases; the builder already analyzed the
        # query, so its analysis time is in operators.build_s
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_ms"] = (stats.median([self.phases[i][k] for i in ops]), "ms")
        return m


class QueryLazy(QueryLoop):
    """The registry's bench queries; their builders are lazy, so each
    op is mostly Catalyst and execution."""

    name = "query_lazy"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.queries = list(self.registry.BENCH_QUERIES)
        self.pass_len = len(self.queries)


class QueryEager(QueryLoop):
    """Builders that checkpoint or collect while building, so the
    builder call is most of each op. Runnable by name, but left out of
    BENCHMARK.json: one pass takes about 20 s on a 4-core box, which a
    benchmark round's time budget cannot hold. ``etl_cycle`` and
    ``front_door_drain`` are runnable by name too; a round runs both
    inside ``daily_cycle``."""

    name = "query_eager"
    queries = EAGER_QUERIES
    pass_len = len(EAGER_QUERIES)


WORKLOADS = {w.name: w for w in (EtlCycle, FrontDoorDrain, DailyCycle, QueryLazy, QueryEager)}
