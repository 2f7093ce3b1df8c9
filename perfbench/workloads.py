"""The benchmark's workloads. Each drives the package through its public
entry points, checks every answer against an oracle computed outside the
timed region, and returns a `Result`. A failed or wrong operation is
counted, never fatal.

The timed phase does a fixed amount of work sized from `--seconds`, so two
versions of the program are timed on the same work even when one of them
is faster (a faster medallion must not be charged for reaching a bigger
table in the same time).
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import pandas

import gen


@dataclass
class Context:
    seed: int
    seconds: float
    work: str
    tracer: object | None
    confs: dict
    spark: object = None


@dataclass
class Result:
    """What a workload measured. `samples` maps a sample kind to durations
    in seconds; `units` counts the workload's unit of work (a batch, or a
    drain pass) for the per-unit layer figures."""

    setup_s: float = 0.0
    samples: dict[str, list[float]] = field(default_factory=dict)
    timed_s: float = 0.0  # summed duration of the timed operations
    rows: int = 0
    units: int = 0
    attempted: int = 0
    failed: int = 0
    disk_bytes: int = 0
    live_rows: int = 0
    user_bytes: int = 0
    errors: list[str] = field(default_factory=list)

    def add(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds)

    def check(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"mismatch: {what}")

    def fail(self, what: str) -> None:
        """Count one attempted operation that raised."""
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except FileNotFoundError:
                pass
    return total


class Timer:
    """Wall time of a block. In a traced run the block is also a span, so
    its self time is the work no layer span covers."""

    def __init__(self, ctx: Context, name: str):
        self.tracer = ctx.tracer
        self.name = name
        self.s = 0.0

    def __enter__(self):
        on = self.tracer is not None and self.tracer.on
        self.idx = self.tracer.begin(self.name) if on else None
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        if self.idx is not None:
            self.tracer.end(self.idx)
        return False


def start_session(ctx: Context) -> None:
    """Build the package's tuned session (the `session.build` layer); in a
    traced run, install the tracer once the session exists."""
    from emr_apache_iceberg_workshop_spark.session import build_session

    tracer = ctx.tracer
    if tracer is None:
        ctx.spark = build_session("perfbench", extra_confs=ctx.confs)
        return
    tracer.on = True
    with Timer(ctx, "session.build"):
        ctx.spark = build_session("perfbench", extra_confs=ctx.confs)
    tracer.on = False
    tracer.spark = ctx.spark
    tracer.install()


def timed_phase(ctx: Context, body) -> None:
    """Run `body()` as the timed phase, traced in a traced run."""
    if ctx.tracer is not None:
        ctx.tracer.on = True
    try:
        body()
    finally:
        if ctx.tracer is not None:
            ctx.tracer.on = False


# --------------------------------------------------------------------------
# medallion_cdc: raw TSV landing -> COW bronze -> MOR silver, per batch

MEDALLION_WARM_BATCHES = 2
MEDALLION_MAINTAIN_EVERY = 4
MEDALLION_BATCH_SECONDS = 7  # nominal batch time on a 4-core host
# the analytic read runs this many times after each timed batch (once after
# a warm one); read_p50_s is the median over the timed reads
MEDALLION_READS_PER_BATCH = 3

_SILVER_ORACLE = """
SELECT destinationstate, count(*) AS n, sum(quantity) AS q FROM (
  SELECT *, row_number() OVER (PARTITION BY invoiceid, itemid
                               ORDER BY replicadmstimestamp DESC) AS rn
  FROM cdc WHERE price > 0 AND quantity > 0)
WHERE rn = 1 AND Op <> 'D'
GROUP BY destinationstate ORDER BY destinationstate
"""


class Medallion:
    """The reference pipeline over a seeded CDC feed. Every batch lands one
    TSV file, runs raw → bronze (COW append, fixed per-batch clock) and
    bronze → silver (dedup + MOR merge applying deletes); every 4th batch
    then runs silver `maintain()` and `expire_snapshots(keep_last=1)`.
    After every timed batch the analytic read of silver runs 3 times
    (once after a warm batch), each compared with DuckDB over all CDC
    rows landed so far."""

    def __init__(self, ctx: Context, res: Result, root: str):
        import duckdb
        from emr_apache_iceberg_workshop_spark import pipelines

        self.ctx, self.res = ctx, res
        self.gen = gen.CdcGenerator(ctx.seed)
        self.raw = os.path.join(root, "raw")
        os.makedirs(self.raw)
        self.bronze_cfg = pipelines.RawBronzeConfig(
            input_dir=self.raw,
            table_root=os.path.join(root, "bronze"),
            checkpoint_path=os.path.join(root, "ckpt", "raw_bronze.json"),
        )
        self.silver_cfg = pipelines.BronzeSilverConfig(
            bronze_root=self.bronze_cfg.table_root,
            silver_root=os.path.join(root, "silver"),
            checkpoint_path=os.path.join(root, "ckpt", "bronze_silver.json"),
            apply_deletes=True,
        )
        self.batch_no = 0
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE TABLE cdc (Op VARCHAR, replicadmstimestamp VARCHAR,"
            " invoiceid BIGINT, itemid BIGINT, category VARCHAR, price DOUBLE,"
            " quantity INTEGER, orderdate VARCHAR, destinationstate VARCHAR,"
            " shippingtype VARCHAR, referral VARCHAR)"
        )

    def silver(self):
        from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

        return SnapshotTable(self.ctx.spark, self.silver_cfg.silver_root)

    def land(self) -> tuple[int, int]:
        """Generate and land the next batch file; returns (rows, rows that
        pass bronze's quality filter)."""
        rows = self.gen.batch()
        path = os.path.join(self.raw, f"batch-{self.batch_no:05d}.csv")
        self.res.user_bytes += gen.write_tsv(path, rows)
        # strictly increasing mtimes: discovery goes by an mtime watermark
        mt = 1_700_000_000 + self.batch_no
        os.utime(path, (mt, mt))
        frame = pandas.DataFrame(rows, columns=gen.TSV_COLUMNS)
        self.duck.execute("INSERT INTO cdc SELECT * FROM frame")
        return len(rows), sum(1 for r in rows if r[5] > 0 and r[6] > 0)

    def run_batch(self, timed: bool) -> None:
        from emr_apache_iceberg_workshop_spark import pipelines

        ctx, res = self.ctx, self.res
        n_rows, n_kept = self.land()
        clock = datetime(2024, 6, 1) + timedelta(minutes=self.batch_no)
        maintain = (self.batch_no + 1) % MEDALLION_MAINTAIN_EVERY == 0
        self.batch_no += 1
        try:
            with Timer(ctx, "bench.batch") as batch:
                rep = pipelines.run_raw_bronze(ctx.spark, self.bronze_cfg, clock=clock)
                pipelines.run_bronze_silver(ctx.spark, self.silver_cfg)
                if maintain:
                    silver = self.silver()
                    silver.maintain()
                    silver.expire_snapshots(keep_last=1)
        except Exception:
            res.fail(f"batch {self.batch_no}")
            return
        res.check(rep["rows"] == n_kept, f"bronze rows {rep['rows']} != {n_kept}")
        if timed:
            res.add("batch", batch.s)
            res.rows += n_rows
            res.units += 1
        self.read(timed)

    def read(self, timed: bool) -> None:
        from pyspark.sql import functions as F

        ctx, res = self.ctx, self.res
        want = [(s, int(n), int(q)) for s, n, q in self.duck.execute(_SILVER_ORACLE).fetchall()]
        for _ in range(MEDALLION_READS_PER_BATCH if timed else 1):
            try:
                with Timer(ctx, "bench.read") as tr:
                    got = (
                        self.silver().scan()
                        .groupBy("destinationstate")
                        .agg(F.count(F.lit(1)).alias("n"), F.sum("quantity").alias("q"))
                        .collect()
                    )
            except Exception:
                res.fail("read")
                continue
            got = sorted((r[0], int(r[1]), int(r[2])) for r in got)
            res.check(got == want, "silver read")
            if timed:
                res.add("read", tr.s)


def medallion_cdc(ctx: Context) -> Result:
    res = Result()
    t0 = time.perf_counter()
    start_session(ctx)
    m = Medallion(ctx, res, os.path.join(ctx.work, "medallion"))
    for _ in range(MEDALLION_WARM_BATCHES):
        m.run_batch(timed=False)
    res.setup_s = time.perf_counter() - t0

    n_batches = max(1, round(ctx.seconds / MEDALLION_BATCH_SECONDS))
    timed_phase(ctx, lambda: [m.run_batch(timed=True) for _ in range(n_batches)])
    # landing the files and the oracle are outside the timed operations
    res.timed_s = sum(res.samples.get("batch", [])) + sum(res.samples.get("read", []))

    res.live_rows = m.silver().scan().count()
    res.disk_bytes = sum(dir_bytes(r) for r in (m.bronze_cfg.table_root,
                                                 m.silver_cfg.silver_root))
    res.add("drain", sum(res.samples.get("batch", [])))
    return res


# --------------------------------------------------------------------------
# store_drains: registered streaming store drains and the corpus build

DRAIN_QUERIES = ["c_corpus_build", "q_stream_cdc_store", "q_stream_cluster_cdc"]
# the MOR signature store q_stream_cdc_store leaves behind (I/U/D applied)
# is re-read this many times after its drain: the read side of MOR
DRAIN_READ_QUERY = "q_stream_cdc_store"
DRAIN_STORE_READS = 31
DRAIN_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _drain_oracles(specs) -> dict[str, tuple[list, list]]:
    """Each drain's registered DuckDB oracle over the same documents
    table, in tools/oracle_check.py's canonical form."""
    import duckdb
    from tools.oracle_check import canon

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(DRAIN_DATA, 'documents.parquet')}')")
    out = {}
    for q in DRAIN_QUERIES:
        cur = con.execute(specs[q].oracle)
        cols = [d[0] for d in cur.description]
        out[q] = (sorted(cols), canon(cur.fetchall(), cols))
    con.close()
    return out


def _warm_jvm(spark, work: str) -> None:
    """Generic warm-up of the kind bench.py runs before timing: a parquet
    scan, the higher-order-function path the signature code uses and one
    tiny availableNow foreachBatch stream. It runs none of the drains, so
    their own first-call costs (store builds, first plans) stay timed; it
    takes the JVM's first-job and first-stream start-up out of the timed
    pass, where it was the noisiest part under host contention."""
    docs = spark.read.parquet(DRAIN_DATA)
    docs.count()
    spark.range(20000).selectExpr(
        "aggregate(transform(sequence(1, 24), i -> hash(id, i)), 0L,"
        " (a, x) -> greatest(a, x)) AS w"
    ).selectExpr("max(w)").collect()
    q = (
        spark.readStream.schema(docs.schema).parquet(DRAIN_DATA)
        .writeStream.foreachBatch(lambda df, _batch_id: df.count())
        .option("checkpointLocation", os.path.join(work, "warm-checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def store_drains(ctx: Context) -> Result:
    """One pass over the drains in a fresh process: each query drains its
    bounded feed (`fn`) and its result is read back (`collect`). The
    signature store the CDC drain maintained is then read
    `DRAIN_STORE_READS` more times for `read_p50_s`. The inputs are the
    committed documents table; the seed does not change them."""
    from emr_apache_iceberg_workshop_spark.plans import registry
    from spans import flush_progress, progress_listener
    from tools.oracle_check import canon

    res = Result()
    t0 = time.perf_counter()
    start_session(ctx)
    spark = ctx.spark
    specs = registry()
    progress: list[dict] = []
    progress_listener(spark, progress)
    _warm_jvm(spark, ctx.work)
    flush_progress(spark)
    progress.clear()
    res.setup_s = time.perf_counter() - t0
    want = _drain_oracles(specs)  # outside both setup and the timed phase
    results = {}

    def one_pass() -> None:
        for q in DRAIN_QUERIES:
            try:
                with Timer(ctx, f"plans.{q}") as td:
                    df = specs[q].fn(spark, DRAIN_DATA)
                    rows = df.collect()
                results[q] = (df.columns, rows)
                if q == DRAIN_READ_QUERY:
                    first = canon([tuple(r) for r in rows], df.columns)
                    for _ in range(DRAIN_STORE_READS):
                        with Timer(ctx, "bench.read") as tr:
                            again = df.collect()
                        res.add("read", tr.s)
                        res.check(canon([tuple(r) for r in again], df.columns) == first,
                                  f"{q} re-read")
            except Exception:
                res.fail(q)
                continue
            finally:
                spark.catalog.clearCache()
            res.add("drain", td.s)

    timed_phase(ctx, one_pass)
    res.timed_s = sum(res.samples.get("drain", []))
    flush_progress(spark)
    res.units = 1
    for q, (cols, rows) in results.items():
        res.check((sorted(cols), canon([tuple(r) for r in rows], cols)) == want[q], q)
        res.live_rows += len(rows)
    res.samples["batch"] = [b["trigger_ms"] / 1000 for b in progress]
    res.rows = sum(b["rows"] for b in progress)
    res.user_bytes = os.path.getsize(os.path.join(DRAIN_DATA, "documents.parquet"))
    if ctx.tracer is not None:
        ctx.tracer.microbatches = list(progress)
    # what the drains leave on disk: the stores, feeds and stream
    # checkpoints the package creates with mkdtemp under its `eiws_` prefix;
    # the JVM's own temp files share the directory and are not counted
    tmp = tempfile.gettempdir()
    res.disk_bytes = sum(dir_bytes(os.path.join(tmp, d))
                         for d in os.listdir(tmp) if d.startswith("eiws_"))
    return res


RUNNERS = {"medallion_cdc": medallion_cdc, "store_drains": store_drains}
PLAN_SPANS = [f"plans.{q}" for q in DRAIN_QUERIES]


def end_to_end(res: Result) -> dict[str, tuple[float, str]]:
    def p50(kind: str) -> float:
        # no samples only when every such operation failed (correct=false)
        xs = res.samples.get(kind)
        return statistics.median(xs) if xs else 0.0

    return {
        "setup_s": (res.setup_s, "s"),
        "batch_p50_s": (p50("batch"), "s"),
        "ingest_rows_per_s": (res.rows / res.timed_s if res.timed_s else 0.0, "rows/s"),
        "read_p50_s": (p50("read"), "s"),
        "drain_s": (sum(res.samples.get("drain", [])), "s"),
        "disk_bytes_per_live_row": (res.disk_bytes / max(res.live_rows, 1), "bytes"),
    }


def run(name: str, ctx: Context) -> dict:
    res = RUNNERS[name](ctx)
    tracer = ctx.tracer
    if tracer is not None:
        metrics = tracer.layer_metrics(res.units, PLAN_SPANS)
        metrics.update(tracer.table_metrics(ctx.spark, res.user_bytes))
        # the tracer's own bookkeeping time as a share of the timed work,
        # and the traced run's drain_s, to set against an untraced run's
        metrics["trace.overhead_frac"] = (tracer.cost_s / res.timed_s, "ratio")
        metrics["trace.drain_s"] = end_to_end(res)["drain_s"]
        tracer.uninstall()
    else:
        metrics = end_to_end(res)
    for e in res.errors[:5]:
        print(e, file=sys.stderr)
    print(f"{name}: samples {res.samples} setup {res.setup_s:.3f}s "
          f"timed {res.timed_s:.3f}s", file=sys.stderr)
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
