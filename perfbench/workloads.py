"""The workloads: what one pass runs and how its output is checked.

Every call into the package goes through a module attribute
(``medallion.write_bronze_envelopes``, ``lh.append``...) so the traced
run can rebind those attributes to timing wrappers.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time
from contextlib import nullcontext

import datagen
import pandas as pd

from martian_moments_spark import lakehouse as lh
from martian_moments_spark import materialized
from martian_moments_spark.pipelines import feedback, medallion
from martian_moments_spark.streaming import sources

CURATION = (
    "edit_distance_topk",
    "embedding_srp_neardup",
    "curation_to_training_mix",
)
#: elt_loop manifest size and planted gaps: 800 gaps is exactly 4
#: rounds at the reference's batch size of 200. The seed picks which
#: grains are missing; the count is fixed so every seed does the same work.
MANIFEST_SIZE = 1200
GAPS = 4 * feedback.DEFAULT_BATCH_SIZE
ENVELOPE_BATCH = 100


# -- query workloads ---------------------------------------------------------


class QueryWorkload:
    """A fixed list of registry queries, each built through its
    ``QuerySpec.fn`` and materialized through ``bench.consume``."""

    def __init__(self, names: tuple[str, ...]) -> None:
        self.names = names

    def warmup(self, ctx, first: bool) -> None:
        """One warm-up pass; the first one keeps each op's DataFrame
        for the oracle check."""
        if first:
            self.captured = {}
        for name in self.names:
            try:
                df = ctx.registry[name].fn(ctx.spark, ctx.sf_dir)
                ctx.consume(df)
                if first:
                    self.captured[name] = df
            except Exception as exc:  # counted; the oracle check then skips it
                ctx.attempted += 1
                ctx.fail(f"warm-up/{name}: {type(exc).__name__}: {exc}")

    def check(self, ctx) -> tuple[int, int, list[str]]:
        """Compare the kept DataFrames' rows with each query's DuckDB
        oracle, under the tests' comparison rule."""
        import duckdb

        from martian_moments_spark.catalog import table_path
        from tests.oracle_utils import compare

        # tests.oracle_utils.duckdb_con needs all ten catalog tables;
        # only the generated ones exist here
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                path = table_path(ctx.sf_dir, t)
                if os.path.isdir(path):
                    path += "/*.parquet"
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            failed, notes = 0, []
            for name, df in self.captured.items():
                want = con.execute(ctx.registry[name].oracle).df()
                if ctx.corrupt and name == self.names[0]:
                    want = want.iloc[1:]
                problems = compare(df, want)
                if problems:
                    failed += 1
                    notes.append(f"{name}: {problems}")
        finally:
            con.close()
        checked, self.captured = len(self.captured), {}
        return checked, failed, notes

    def verify(self, ctx, pass_id: str) -> None:
        pass  # outputs are checked once per run, against the oracle

    def run_pass(self, ctx, pass_id: str) -> dict[str, float]:
        """Run every op once; returns per-op wall seconds. Raises
        nothing: a failing op is counted and skipped."""
        times = {}
        tracer = ctx.tracer
        for name in self.names:
            ctx.attempted += 1
            if tracer is not None:
                ctx.spark.sparkContext.setJobGroup(f"{pass_id}/{name}", name)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    ctx.consume(ctx.registry[name].fn(ctx.spark, ctx.sf_dir))
                else:
                    with tracer.span(f"op.{name}"):
                        with tracer.span("plans.build"):
                            df = ctx.registry[name].fn(ctx.spark, ctx.sf_dir)
                        with tracer.span("sink.consume"):
                            ctx.consume(df)
            except Exception as exc:  # a failed op is a counted failure, not a crash
                ctx.fail(f"{pass_id}/{name}: {type(exc).__name__}: {exc}")
                continue
            times[name] = time.perf_counter() - t0
        return times


# -- elt_loop ---------------------------------------------------------------

GOLD_KEYS = ["user_id", "event_type"]


def _gold_aggs():
    from pyspark.sql import functions as F

    return {
        "events": (F.count(F.lit(1)), "sum"),
        "value_sum": (F.sum("value"), "sum"),
        "value_max": (F.max("value"), "max"),
        "last_ts": (F.max("ts"), "max"),
    }


class EltLoop:
    """Bronze envelopes -> streamed silver lakehouse table -> gold
    rollup -> gap-detection feedback loop -> final gold refresh, in a
    fresh directory per pass."""

    def __init__(self, seed: int, data_dir: str) -> None:
        self.inputs = datagen.loop_inputs(seed, MANIFEST_SIZE, GAPS)
        self.manifest_path = os.path.join(data_dir, "manifest.parquet")
        datagen.write_manifest(self.manifest_path, self.inputs)
        self._last = None

    def warmup(self, ctx, first: bool) -> None:
        self.run_pass(ctx, "warmup")
        self._discard()  # the measured passes carry the checks

    def _discard(self) -> None:
        if self._last is not None:
            shutil.rmtree(self._last[0], ignore_errors=True)

    def check(self, ctx) -> tuple[int, int, list[str]]:
        return 0, 0, []  # every pass checks its own invariants

    def _stream_ingest(self, ctx, bronze: str, silver: str, ckpt: str) -> None:
        spark, tracer = ctx.spark, ctx.tracer
        stream = sources.file_json_stream(spark, f"{bronze}/*/*.json", medallion.ENVELOPE_SCHEMA)

        def append_batch(batch_df, batch_id):
            lh.append(batch_df, silver)

        t0 = time.perf_counter()
        q = (
            medallion.flatten_envelopes(stream)
            .writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if tracer is not None:
            progress = q.recentProgress  # StreamingQueryProgress dicts
            tracer.count("streaming.queries")
            tracer.count("streaming.query_s", time.perf_counter() - t0)
            for p in progress:
                if p["numInputRows"]:
                    tracer.count("streaming.batches")
                    tracer.count("streaming.input_rows", p["numInputRows"])
                tracer.count("streaming.trigger_s", p["durationMs"].get("triggerExecution", 0) / 1000.0)

    def run_pass(self, ctx, pass_id: str) -> dict[str, float]:
        spark, tracer, inputs = ctx.spark, ctx.tracer, self.inputs
        pass_dir = tempfile.mkdtemp(prefix="elt-", dir=ctx.run_dir)
        bronze, silver = f"{pass_dir}/bronze", f"{pass_dir}/silver"
        gold, ckpt = f"{pass_dir}/gold", f"{pass_dir}/ckpt"
        span = tracer.span if tracer is not None else (lambda name: nullcontext())

        def group(name):
            if tracer is not None:
                spark.sparkContext.setJobGroup(f"{pass_id}/{name}", name)

        rounds = [0]

        def ingest(tasks):
            rounds[0] += 1
            with span("feedback.ingest"):
                group(f"feedback.ingest.{rounds[0]}")
                rows = [inputs.events[t["event_id"]] for t in tasks]
                medallion.write_bronze_envelopes(
                    rows, f"{bronze}/r{rounds[0]:03d}", batch_size=ENVELOPE_BATCH
                )
                self._stream_ingest(ctx, bronze, silver, ckpt)
                # the backfilled rows, read back from the envelopes just written
                out = medallion.flatten_envelopes(
                    spark.read.schema(medallion.ENVELOPE_SCHEMA).json(f"{bronze}/r{rounds[0]:03d}")
                )
            group(f"feedback.detect.{rounds[0] + 1}")
            return out

        t0 = time.perf_counter()
        try:
            with span("elt.bronze_load"):
                group("bronze")
                medallion.write_bronze_envelopes(
                    inputs.initial, f"{bronze}/r000", batch_size=ENVELOPE_BATCH
                )
                self._stream_ingest(ctx, bronze, silver, ckpt)
            rollup = materialized.MaterializedRollup(silver, gold, GOLD_KEYS, _gold_aggs())
            with span("elt.gold_refresh"):
                group("gold")
                rollup.refresh(spark)
            with span("elt.feedback"):
                group("feedback.detect.1")
                expected = spark.read.parquet(self.manifest_path)
                actual = lh.read_table(spark, silver).select("event_id")
                _, envelopes = feedback.feedback_rounds(expected, actual, ["event_id"], ingest)
            with span("elt.gold_refresh"):
                group("gold.final")
                rollup.refresh(spark)
        except Exception as exc:  # a failed pass is a counted failure, not a crash
            shutil.rmtree(pass_dir, ignore_errors=True)
            self._last = None
            ctx.attempted += 1
            ctx.fail(f"{pass_id}: {type(exc).__name__}: {exc}")
            return {}
        elapsed = time.perf_counter() - t0
        self._last = (pass_dir, rollup, silver, gold, expected, len(envelopes))
        return {"loop": elapsed}

    def verify(self, ctx, pass_id: str) -> None:
        """Check the last pass's invariants, outside its timing; each
        broken one is a counted failure. Removes the pass directory."""
        from pyspark.sql import functions as F

        if self._last is None:
            return  # the pass itself failed
        _, rollup, silver, gold, expected, n_rounds = self._last
        inputs = self.inputs
        try:
            if ctx.tracer is not None:
                ctx.record_storage(pass_id, [silver, gold])
            spark = ctx.spark
            want_rows = len(inputs.manifest) + (1 if ctx.corrupt else 0)
            silver_df = lh.read_table(spark, silver)
            checks = {}
            left = feedback.detect_gaps(expected, silver_df.select("event_id"), ["event_id"]).count()
            checks["no gaps remain"] = left == 0
            want_rounds = math.ceil(len(inputs.gaps) / feedback.DEFAULT_BATCH_SIZE)
            checks["rounds"] = n_rounds == want_rounds
            checks["silver rows"] = silver_df.count() == want_rows
            full = silver_df.groupBy(*GOLD_KEYS).agg(
                F.count(F.lit(1)).alias("events"),
                F.sum("value").alias("value_sum"),
                F.max("value").alias("value_max"),
                F.max("ts").alias("last_ts"),
            )
            checks["gold equals recompute"] = _same_rollup(rollup.read(spark).toPandas(), full.toPandas())
            ctx.attempted += len(checks)
            for what, ok in checks.items():
                if not ok:
                    ctx.fail(f"{pass_id}: elt_loop invariant broken: {what}")
        finally:
            self._discard()


def _same_rollup(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Equal rollups: same keys, exact counts and maxima, sums equal up
    to float reassociation (incremental merges add in another order)."""
    cols = GOLD_KEYS + ["events", "value_sum", "value_max", "last_ts"]
    if len(got) != len(want) or set(got.columns) != set(cols):
        return False
    a = got[cols].sort_values(GOLD_KEYS).reset_index(drop=True)
    b = want[cols].sort_values(GOLD_KEYS).reset_index(drop=True)
    exact = ["user_id", "event_type", "events", "value_max", "last_ts"]
    if not a[exact].equals(b[exact].astype(a[exact].dtypes.to_dict())):
        return False
    return all(math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9) for x, y in zip(a.value_sum, b.value_sum))


def make(name: str, seed: int, scale: float, spark, data_dir: str):
    """The named workload; writes its inputs under ``data_dir``."""
    if name == "curation":
        datagen.write_tables(spark, data_dir, seed, scale)
        return QueryWorkload(CURATION)
    if name == "elt_loop":
        os.makedirs(data_dir, exist_ok=True)
        return EltLoop(seed, data_dir)
    raise ValueError(f"unknown workload {name!r}")
