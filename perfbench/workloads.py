"""The benchmark workloads.

Each workload calls only the package's public functions and gets only
inputs generated from the seed. ``prepare`` generates and loads the
inputs; ``run(i)`` is one timed run followed by its output checks
(skipped for the warm-up run); and ``trace(i, tracer)`` repeats the
run with a span around every call into a layer and returns the
per-layer metrics and the checked outcome of the traced run.

Cold crypto: the FPE memo lives in reused Python workers, so a second
run under the same key re-uses the first run's tokens. Users pay the
crypto once per application, so every run ``i`` uses its own key,
derived from the seed and ``i``. For the same reason the tokenize
boundary of a traced run uses a key no run uses.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import shutil
import statistics
import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field
from unittest import mock

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dlp_rdb_bq_import_spark import harness
from dlp_rdb_bq_import_spark.config import (
    MESSAGE_BATCH_MAX_BYTES,
    MESSAGE_BATCH_MAX_MESSAGES,
    ImportJobOptions,
    ReidJobOptions,
)
from dlp_rdb_bq_import_spark.functions.rowshape import conformance_split
from dlp_rdb_bq_import_spark.functions.tokenize import (
    DeidTemplate,
    FieldTransform,
    InfoTypeTransform,
    TemplateRegistry,
    deidentify,
    reidentify,
)
from dlp_rdb_bq_import_spark.plans import import_job, reid_job
from dlp_rdb_bq_import_spark.plans.import_job import run_import
from dlp_rdb_bq_import_spark.plans.reid_job import run_reid
from dlp_rdb_bq_import_spark.sinks.messages import publish_json
from dlp_rdb_bq_import_spark.sinks.warehouse import Warehouse, WriteResult
from dlp_rdb_bq_import_spark.sources import get_source

from . import datagen
from .tracing import JobCounter, Tracer, noop_write, tree_cpu_seconds

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Outcome:
    """One timed run: its wall and CPU seconds, the rows it moved (source
    rows read, messages published), the Spark jobs and tasks of the timed
    call, and the operations it checked, with one failure message per
    failed one."""

    seconds: float
    cpu_seconds: float
    rows: int
    jobs: tuple[int, int]
    attempted: int
    failures: list[str] = field(default_factory=list)


def _timed(spark: SparkSession, call):
    """(result, wall seconds, CPU seconds, (jobs, tasks)) of ``call()``."""
    jobs = JobCounter(spark)
    cpu0 = tree_cpu_seconds()
    t0 = time.perf_counter()
    result = call()
    seconds = time.perf_counter() - t0
    return result, seconds, tree_cpu_seconds() - cpu0, jobs.jobs_and_tasks()


@dataclass
class Context:
    spark: SparkSession
    seed: int
    work: str

    def key(self, i: int) -> bytes:
        return hashlib.sha256(b"perfbench|%d|%d" % (self.seed, i)).digest()

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _fpe_templates(key: bytes) -> TemplateRegistry:
    """The templates of the paper's examples: names under ALPHA_NUMERIC,
    numbers under the custom alphabet "123456789", and phone numbers
    found in free text, wrapped in a surrogate. Customer and order keys
    share one cipher, so the tokenized tables still join."""
    reg = TemplateRegistry()
    reg.register(
        DeidTemplate(
            "customer_deid",
            key,
            field_transforms=(
                FieldTransform(("c_name",)),
                FieldTransform(("c_custkey",), alphabet="123456789"),
            ),
        )
    )
    reg.register(
        DeidTemplate(
            "orders_deid",
            key,
            field_transforms=(FieldTransform(("o_custkey",), alphabet="123456789"),),
        )
    )
    reg.register(
        DeidTemplate(
            "documents_deid",
            key,
            info_type_transforms=(InfoTypeTransform(("text",), ("PHONE_NUMBER",), "PHONE"),),
        )
    )
    return reg


def check_golden(spark: SparkSession) -> list[str]:
    """Tokens of a fixed key and fixed values, committed with the
    benchmark, through ``deidentify`` and back through ``reidentify``.
    Persisted tokens must still detokenize, so a change that alters one
    token fails the benchmark."""
    with open(os.path.join(HERE, "golden_tokens.json")) as f:
        golden = json.load(f)
    key = golden["key"].encode()
    cases = golden["templates"]
    cols = [case["column"] for case in cases.values()]
    # one frame and one template for all three, so the check is cheap
    templates = [_fpe_templates(key).get(name) for name in cases]
    template = DeidTemplate(
        "golden",
        key,
        field_transforms=tuple(t for tpl in templates for t in tpl.field_transforms),
        info_type_transforms=tuple(t for tpl in templates for t in tpl.info_type_transforms),
    )
    rows, expect = [], []
    for col, case in zip(cols, cases.values()):
        for plain, token in case["pairs"]:
            rows.append((len(rows), *[plain if c == col else None for c in cols]))
            expect.append((col, plain, token))
    schema = "_i long, c_name string, o_custkey long, text string"
    df = spark.createDataFrame(rows, schema).select("_i", *cols)
    # the workloads' strategy: encrypt the distinct values, then join
    tok = deidentify(df, template)
    rows = tok.collect()
    got = {r["_i"]: r for r in rows}
    # re-identify the collected tokens, so the tokenizing is not recomputed
    back = reidentify(spark.createDataFrame(rows, tok.schema), template).collect()
    back = {r["_i"]: r for r in back}
    errs = []
    for i, (col, plain, token) in enumerate(expect):
        if str(got[i][col]) != str(token) or str(back[i][col]) != str(plain):
            errs.append(
                f"{col}: {plain!r} -> {got[i][col]!r} -> {back[i][col]!r}, "
                f"golden token {token!r}"
            )
    return errs


def _template_columns(tpl: DeidTemplate) -> list[str]:
    return [c for t in tpl.field_transforms + tpl.info_type_transforms for c in t.fields]


def _parquet_bytes_files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


# ---------------------------------------------------------------------------
# the paper's two pipelines: DBImportPipeline, then BQReidentificationPipeline
# ---------------------------------------------------------------------------

# The paper's default query shape (projection + CAST filter + GROUP BY)
# over the imported warehouse tables, joined on tokenized customer keys.
REID_QUERY = (
    "SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "WHERE CAST(o.o_totalprice AS BIGINT) > 180000 "
    "GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice"
)
REID_COLUMN_MAP = {"c_name": "holder"}


class Pipelines:
    """The paper's two pipelines back to back: ``run_import``
    de-identifies a parquet-directory source into the warehouse under
    three templates bound by a ``dlp_config``, then ``run_reid`` queries
    the warehouse tables, re-identifies the customer name and key,
    renames the name ``holder`` and publishes JSON messages."""

    name = "pipelines"
    tables = ("customer", "orders", "documents")
    tokenizes = True

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = ctx.dir("input")
        self.warehouse_dir = ctx.dir("warehouse")
        self.catalog = []  # the source's own catalog, read by the first check
        self.import_s: list[float] = []  # run_import seconds of the timed runs

    def prepare(self) -> None:
        self.data = datagen.generate(self.ctx.seed, list(self.tables))
        datagen.write_parquet(self.data, self.src)
        # rows whose de-id column must differ from the plaintext
        self.expect_changed = {
            "c_name": len(self.data["customer"]),
            "text": sum(datagen.PHONE_MARK in t for t in self.data["documents"]["text"]),
        }
        cust, orders = self.data["customer"], self.data["orders"]
        kept = orders[np.trunc(orders["o_totalprice"]) > 180000]
        # re-identified columns come back as strings, like the reference's
        self.expect_orders = dict(zip(kept["o_orderkey"], kept["o_custkey"].astype(str)))
        self.names = dict(zip(cust["c_custkey"].astype(str), cust["c_name"]))

    def templates(self, i: int) -> TemplateRegistry:
        return _fpe_templates(self.ctx.key(i))

    def import_options(self, i: int) -> ImportJobOptions:
        return ImportJobOptions(
            jdbc_spec=self.src,
            dataset=f"run{i}",
            dlp_config=json.dumps(
                [{"tableName": t, "deidTemplate": f"{t}_deid"} for t in self.tables]
            ),
            warehouse_dir=self.warehouse_dir,
        )

    def reid_options(self, i: int) -> ReidJobOptions:
        return ReidJobOptions(
            query=REID_QUERY,
            deid_template="customer_deid",
            column_map=REID_COLUMN_MAP,
            output_dir=self.ctx.dir("messages", f"run{i}"),
        )

    def source_rows(self) -> int:
        return sum(len(df) for df in self.data.values())

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.warehouse_dir, f"run{i}"), ignore_errors=True)
        shutil.rmtree(self.ctx.dir("messages", f"run{i}"), ignore_errors=True)

    def _both(self, i: int, templates, options: ImportJobOptions, source=None):
        """(``run_import``'s results, its seconds); ``run_reid`` follows
        over the written tables when every table was written."""
        t0 = time.perf_counter()
        results = run_import(self.ctx.spark, options, templates, source=source)
        import_s = time.perf_counter() - t0
        if all(r.status == "ok" for r in results):
            warehouse = Warehouse(self.warehouse_dir)
            for name in ("customer", "orders"):
                path = warehouse.table_path(options.dataset, f"main_{name}")
                self.ctx.spark.read.parquet(path).createOrReplaceTempView(name)
            run_reid(self.ctx.spark, self.reid_options(i), templates)
        return results, import_s

    def run(self, i: int, check: str = "full") -> Outcome:
        """One timed run, then its checks: "full", "counts" (all but the
        values check of the written tables, whose ``reidentify`` costs
        about as much as the run) or "none" (the warm-up run)."""
        templates = self.templates(i)
        (results, import_s), seconds, cpu, jobs = _timed(
            self.ctx.spark, lambda: self._both(i, templates, self.import_options(i))
        )
        outcome = Outcome(seconds, cpu, self.source_rows(), jobs, 0)
        if check != "none":
            self.import_s.append(import_s)
            self.check(i, results, templates, outcome, restore=check == "full")
        self.cleanup(i)
        return outcome

    def check(self, i: int, results, templates, outcome: Outcome, restore: bool) -> None:
        """Checks the tables and the messages of run ``i`` into ``outcome``."""
        n, failures = self.check_messages(self.reid_options(i).output_dir)
        outcome.rows += n
        outcome.failures += self.check_tables(results, templates, restore) + failures
        outcome.attempted += len(self.tables) + 1

    def check_tables(self, results: list[WriteResult], templates, restore: bool) -> list[str]:
        """One failure message per table that failed a check: status ok,
        rows written + quarantined == rows read, written schema ==
        discovered schema and, with ``restore``, the values check."""
        spark = self.ctx.spark
        if not self.catalog:
            self.catalog = get_source(self.src).list_tables(spark)
        by_table = {r.table: r for r in results}
        failures = []
        for table in self.catalog:
            r = by_table.get(table.full_name)
            if r is None or r.status != "ok":
                err = "no result" if r is None else (r.error or "")[:300]
                failures.append(f"{table.full_name}: write failed: {err}")
                continue
            written = spark.read.parquet(r.destination)
            want = [(f.name, f.dataType) for f in table.spark_schema()]
            got = [(f.name, f.dataType) for f in written.schema]
            if restore:
                n, errs = self.check_values(table, written, templates.get(f"{table.name}_deid"))
            else:
                n, errs = written.count(), []
            if got != want:
                errs.append(f"schema {got} != discovered {want}")
            expect = len(self.data[table.name.lower()])
            if n + r.quarantined_rows != expect:
                errs.append(f"{n} written + {r.quarantined_rows} quarantined != {expect} read")
            if errs:
                failures.append(f"{table.full_name}: " + "; ".join(errs))
        return failures

    def check_values(self, table, written, tpl) -> tuple[int, list[str]]:
        """(rows written, failures): ``reidentify`` of the written de-id
        columns restores the source exactly, and the tokens differ from
        the plaintext where they must."""
        cols = _template_columns(tpl)
        key = table.primary_key_column
        w = written.select(
            *dict.fromkeys([key, *cols]),
            *[F.col(c).cast("string").alias(f"_tok_{c}") for c in cols],
            F.lit(1).alias("_written"),
        )
        # the key may be tokenized itself: join on the restored one
        restored = reidentify(w, tpl).withColumn("_k", F.col(key).cast("string"))
        src = self.ctx.spark.read.parquet(os.path.join(self.src, f"{table.name}.parquet"))
        s = src.select(
            F.col(key).cast("string").alias("_k"),
            *[F.col(c).cast("string").alias(f"_src_{c}") for c in cols],
        )
        aggs = [F.count("_written").alias("n")]
        for c in cols:
            same = F.col(c).cast("string").eqNullSafe(F.col(f"_src_{c}"))
            aggs.append(F.sum((~same).cast("int")).alias(f"bad_{c}"))
            changed = F.col(f"_tok_{c}") != F.col(f"_src_{c}")
            aggs.append(F.sum(changed.cast("int")).alias(f"chg_{c}"))
        row = restored.join(s, "_k", "full_outer").agg(*aggs).first()
        errs = []
        for c in cols:
            if row[f"bad_{c}"]:
                errs.append(f"{row[f'bad_{c}']} rows of {c} not restored by reidentify")
            want = self.expect_changed.get(c)
            if want is not None and row[f"chg_{c}"] != want:
                errs.append(f"{row[f'chg_{c}']} rows of {c} tokenized, expected {want}")
        return row["n"], errs

    @staticmethod
    def batches(output_dir: str) -> list[list[str]]:
        out = []
        for path in sorted(glob.glob(os.path.join(output_dir, "batch-*.jsonl"))):
            with open(path) as f:
                out.append(f.read().splitlines())
        return out

    def check_messages(self, output_dir: str) -> tuple[int, list[str]]:
        """Message count == the query's rows (computed in pandas from the
        generated inputs); every message's customer key and ``holder``
        are the plaintext ones; batches within the sink's limits.
        Returns (messages, [one message if the publish failed])."""
        batches = self.batches(output_dir)
        errs = []
        seen = {}
        for batch in batches:
            size = sum(len(m.encode("utf-8")) for m in batch)
            if len(batch) > 1 and (
                len(batch) > MESSAGE_BATCH_MAX_MESSAGES or size > MESSAGE_BATCH_MAX_BYTES
            ):
                errs.append(f"batch of {len(batch)} messages / {size} bytes over the limits")
                break
            for m in batch:
                msg = json.loads(m)
                seen[msg.get("o_orderkey")] = (msg.get("c_custkey"), msg.get("holder"))
        n = sum(len(b) for b in batches)
        if n != len(self.expect_orders) or seen.keys() != self.expect_orders.keys():
            errs.append(f"{n} messages for {len(seen)} orders, expected {len(self.expect_orders)}")
        wrong = sum(
            1
            for o, (c, holder) in seen.items()
            if self.expect_orders.get(o) != c or self.names.get(c) != holder
        )
        if wrong:
            errs.append(f"{wrong} messages with a wrong customer or holder")
        return n, ["publish: " + "; ".join(errs)] if errs else []

    # -- traced run -----------------------------------------------------
    def trace(self, i: int, tr: Tracer) -> tuple[dict[str, float], Outcome]:
        """Both pipelines as ``run`` calls them, with the import's tables
        one at a time and a span around every call into a layer (see
        ``_traced_layers``); the outputs are checked like a timed run's."""
        spark = self.ctx.spark
        templates = self.templates(i)
        source = get_source(self.src)
        options = dataclasses.replace(self.import_options(i), max_parallel_tables=1)
        # the noop boundaries tokenize under a key no run uses, so the
        # run's own tokenizing pays cold crypto like an untraced run
        with _traced_layers(tr, spark, source, self.templates(-i)):
            (results, _), seconds, cpu, jobs = _timed(
                spark, lambda: self._both(i, templates, options, source)
            )
        traced = Outcome(seconds, cpu, self.source_rows(), jobs, 0)
        self.check(i, results, templates, traced, restore=True)
        self.cleanup(i)

        # each boundary recomputes the layers before it: difference them
        read_s = tr.seconds("sources.read")
        tok_s = tr.seconds("tokenize.boundary") - tr.counts.get("tokenize.reread_s", 0.0)
        shape_s = tr.seconds("rowshape.boundary") - read_s - tok_s
        values = tr.counts.get("tokenize.values", 0)
        distinct = tr.counts.get("tokenize.distinct_values", 0)
        crypto_ops = distinct + tr.counts.get("tokenize.inspect_matches", 0)
        n_messages = tr.counts.get("messages.count", 0)
        n_batches = tr.counts.get("messages.batches", 0)
        metrics = {
            "sources.list_tables_s": tr.seconds("sources.list_tables"),
            "sources.read_s": read_s + tr.seconds("sources.read_table"),
            "sources.splits": tr.counts.get("sources.splits", 0),
            "sources.rows_read": tr.counts.get("sources.rows_read", 0),
            "tokenize.s": tok_s + tr.seconds("tokenize.call"),
            "tokenize.values": values,
            "tokenize.distinct_values": distinct,
            "tokenize.distinct_ratio": distinct / values if values else 0.0,
            "tokenize.inspect_matches": tr.counts.get("tokenize.inspect_matches", 0),
            "fpe.us_per_value": tok_s * 1e6 / crypto_ops if crypto_ops else 0.0,
            "rowshape.s": shape_s + tr.seconds("rowshape.call"),
            "rowshape.rows_conforming": tr.counts.get("rowshape.rows_conforming", 0),
            "rowshape.rows_quarantined": tr.counts.get("rowshape.rows_quarantined", 0),
            # the write reads the persisted shaped rows: no recompute
            "warehouse.write_s": tr.seconds("warehouse.write"),
            "warehouse.files_written": tr.counts.get("warehouse.files_written", 0),
            "warehouse.bytes_written": tr.counts.get("warehouse.bytes_written", 0),
            "warehouse.bytes_per_input_byte": (
                tr.counts.get("warehouse.bytes_written", 0) / _parquet_bytes_files(self.src)[0]
            ),
            "warehouse.attempts": tr.counts.get("warehouse.attempts", 0),
            # layer time of the tables one after another over the pooled
            # run_import: above 1 when the pool overlaps the tables
            "import_job.overlap": (
                read_s + tok_s + shape_s + tr.seconds("warehouse.write")
            ) / statistics.median(self.import_s),
            "reid_job.query_s": tr.seconds("reid_job.boundary") + tr.seconds("reid_job.sql"),
            "reid_job.rows_out": tr.counts.get("reid_job.rows_out", 0),
            "tokenize.reid_s": (
                tr.seconds("reid.boundary") - tr.seconds("reid_job.boundary")
                + tr.seconds("reid.call")
            ),
            "messages.publish_s": tr.seconds("messages.publish_json"),
            "messages.count": n_messages,
            "messages.batches": n_batches,
            "messages.per_batch": n_messages / n_batches if n_batches else 0.0,
            "trace.run_s": traced.seconds,
        }
        return metrics, traced


def _spanned(tr: Tracer, name: str, call):
    def spanned(*args, **kwargs):
        with tr.span(name):
            return call(*args, **kwargs)

    return spanned


@contextmanager
def _traced_layers(tr: Tracer, spark: SparkSession, source, boundary_templates):
    """Patches a span around every call ``run_import`` and ``run_reid``
    make into a layer: ``source.list_tables``/``read_table``,
    ``deidentify``, ``conformance_split``, ``Warehouse.write``/
    ``quarantine_rows``, ``spark.sql``, ``reidentify`` and
    ``publish_json``. Spark evaluates lazily, so the read, tokenized,
    conforming and queried DataFrames are also forced through the noop
    sink; the tokenize boundary uses ``boundary_templates``. The
    re-identified rows are persisted, so that the publish after them
    times the message sink alone."""
    persisted: list[DataFrame] = []
    read_table, sql = source.read_table, spark.sql

    def traced_read_table(spark_, table, **kwargs):
        with tr.span("sources.read_table"):
            df = read_table(spark_, table, **kwargs)
        tr.add("sources.rows_read", tr.noop("sources.read", df))
        tr.add("sources.splits", df.rdd.getNumPartitions())
        return df

    def traced_deidentify(df, template, **kwargs):
        tok = deidentify(df, boundary_templates.get(template.name), **kwargs)
        tr.noop("tokenize.boundary", tok)
        # the boundary recomputed the read of this table (tables run one
        # at a time)
        tr.add("tokenize.reread_s", tr.last("sources.read"))
        _tokenize_counts(tr, df, tok, template)
        with tr.span("tokenize.call"):
            return deidentify(df, template, **kwargs)

    def traced_split(df, target):
        with tr.span("rowshape.call"):
            conforming, violations = conformance_split(df, target)
        tr.add("rowshape.rows_conforming", tr.noop("rowshape.boundary", conforming))
        return conforming, violations

    class TracedWarehouse(Warehouse):
        def write(self, df, *args, **kwargs):
            with tr.span("warehouse.write"):
                res = super().write(df, *args, **kwargs)
            tr.add("warehouse.attempts", res.attempts)
            nbytes, nfiles = _parquet_bytes_files(res.destination)
            tr.add("warehouse.bytes_written", nbytes)
            tr.add("warehouse.files_written", nfiles)
            return res

        def quarantine_rows(self, df, *args, **kwargs):
            with tr.span("warehouse.write"):
                n = super().quarantine_rows(df, *args, **kwargs)
            tr.add("rowshape.rows_quarantined", n)
            return n

    def traced_sql(query):
        with tr.span("reid_job.sql"):
            df = sql(query)
        tr.add("reid_job.rows_out", tr.noop("reid_job.boundary", df))
        return df

    def traced_reidentify(df, template, **kwargs):
        with tr.span("reid.call"):
            out = reidentify(df, template, **kwargs).persist()
        persisted.append(out)
        tr.noop("reid.boundary", out)
        return out

    def traced_publish(df, output_dir, **kwargs):
        with tr.span("messages.publish_json"):
            publish_json(df, output_dir, **kwargs)
        batches = Pipelines.batches(output_dir)
        tr.add("messages.count", sum(len(b) for b in batches))
        tr.add("messages.batches", len(batches))

    patches = (
        (source, "list_tables", _spanned(tr, "sources.list_tables", source.list_tables)),
        (source, "read_table", traced_read_table),
        (import_job, "deidentify", traced_deidentify),
        (import_job, "conformance_split", traced_split),
        (import_job, "Warehouse", TracedWarehouse),
        (spark, "sql", traced_sql),
        (reid_job, "reidentify", traced_reidentify),
        (reid_job, "publish_json", traced_publish),
    )
    with ExitStack() as stack:
        for owner, attr, new in patches:
            stack.enter_context(mock.patch.object(owner, attr, new))
        try:
            yield
        finally:
            for df in persisted:
                df.unpersist()


def _tokenize_counts(tr: Tracer, df: DataFrame, tok: DataFrame, tpl) -> None:
    cols = _template_columns(tpl)
    fpe_cols = [c for t in tpl.field_transforms for c in t.fields]
    row = df.agg(
        *[F.count(c).alias(f"n_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"d_{c}") for c in fpe_cols],
    ).first()
    tr.add("tokenize.values", sum(row[f"n_{c}"] for c in cols))
    tr.add("tokenize.distinct_values", sum(row[f"d_{c}"] for c in fpe_cols))
    for t in tpl.info_type_transforms:
        pattern = f"{t.surrogate}\\\\([0-9]+\\\\):"
        for c in t.fields:
            n = tok.agg(F.sum(F.expr(f"regexp_count({c}, '{pattern}')"))).first()[0]
            tr.add("tokenize.inspect_matches", n or 0)


# ---------------------------------------------------------------------------
# registry queries, every column computed into the noop sink
# ---------------------------------------------------------------------------

# query -> the generated tables it reads (their rows feed rows_per_s)
REGISTRY = {
    "jaro_winkler_pairs": ("customer",),
    "streaming_twap": ("events",),
}


class RegistryNoop:
    """Registry queries, each written to Spark's ``noop`` sink."""

    name = "registry_noop"
    tokenizes = False
    tables = ("customer", "events")

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self._expected_rows: dict[str, int] | None = None
        with open(os.path.join(HERE, "registry_schemas.json")) as f:
            self.schemas = json.load(f)

    def prepare(self) -> None:
        self.data = datagen.generate(self.ctx.seed, list(self.tables))
        self.src = self.ctx.dir("input", self.name)
        datagen.write_parquet(self.data, self.src)
        self.input_rows = sum(len(self.data[t]) for ts in REGISTRY.values() for t in ts)

    def _query(self, name: str) -> DataFrame:
        return harness.queries()[name](self.ctx.spark, self.src)

    def _run_all(self) -> tuple[dict[str, DataFrame], dict[str, int]]:
        dfs, rows = {}, {}
        for name in REGISTRY:
            dfs[name] = self._query(name)
            rows[name] = noop_write(dfs[name])[1]
        return dfs, rows

    def run(self, i: int, check: str = "full") -> Outcome:
        """One timed run, then (unless ``check`` is "none") its checks."""
        (dfs, rows), seconds, cpu, jobs = _timed(self.ctx.spark, self._run_all)
        outcome = Outcome(seconds, cpu, self.input_rows, jobs, 0)
        if check != "none":
            outcome.failures = self.check(dfs, rows)
            outcome.attempted = len(REGISTRY)
        return outcome

    def expected_rows(self) -> dict[str, int]:
        """Row counts of the queries' DuckDB oracles over the same files."""
        if self._expected_rows is None:
            import duckdb

            con = duckdb.connect()
            try:
                for t in self.tables:
                    path = os.path.join(self.src, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                oracles = harness.oracle_sql()
                self._expected_rows = {
                    name: con.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
                    for name in REGISTRY
                }
            finally:
                con.close()
        return self._expected_rows

    def check(self, dfs: dict[str, DataFrame], rows: dict[str, int]) -> list[str]:
        """Each query's schema equals the recorded one and its row count
        equals its oracle's."""
        expected = self.expected_rows()
        errs = []
        for name, df in dfs.items():
            schema = [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema]
            if schema != self.schemas[name]:
                errs.append(f"{name}: schema {schema} != recorded {self.schemas[name]}")
            elif rows[name] != expected[name]:
                errs.append(f"{name}: {rows[name]} rows, expected {expected[name]}")
        return errs

    def trace(self, i: int, tr: Tracer) -> tuple[dict[str, float], Outcome]:
        out, dfs, rows = {}, {}, {}
        cpu0 = tree_cpu_seconds()
        t_start = time.perf_counter()
        for name in REGISTRY:
            jobs = JobCounter(self.ctx.spark)
            with tr.span(f"harness.{name}"):
                dfs[name] = self._query(name)
                rows[name] = noop_write(dfs[name])[1]
            out[f"harness.{name}.s"] = tr.seconds(f"harness.{name}")
            out[f"harness.{name}.jobs"] = jobs.jobs_and_tasks()[0]
        seconds = time.perf_counter() - t_start
        cpu = tree_cpu_seconds() - cpu0
        out["trace.run_s"] = seconds
        checked = self.check(dfs, rows)
        traced = Outcome(seconds, cpu, self.input_rows, (0, 0), len(REGISTRY), checked)
        return out, traced


WORKLOADS = {w.name: w for w in (Pipelines, RegistryNoop)}
