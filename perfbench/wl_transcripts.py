"""``backfill_fused``: the sharded, checkpointed backfill of the flagship
feature set (fused single-pass plan per shard) over the synthetic
transcript table. Its output is checked against one unsharded
``get_historical`` over the same input.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from raptor_spark.backfill import backfill, read_backfill, transcript_feature_set
from raptor_spark.plans.historical import get_historical
from raptor_spark.sources.transcripts import transcripts

import harness
from harness import OpResult

N_FILES = 8  # parquet files per staged input
FEATURES = transcript_feature_set()
FEATURE_COLUMNS = ["conv_id", "ts"] + [
    c for f in FEATURES.features for c in f.output_columns()
]


def digest_df(df, columns=None):
    """One-row (hash, rows) aggregate: an order-independent content hash
    that forces every column, with the row count because equal rows
    cancel in the xor."""
    return df.agg(F.bit_xor(F.xxhash64(*(columns or df.columns))).alias("h"),
                  F.count(F.lit(1)).alias("n"))


def digest(df, columns=None) -> tuple:
    return tuple(digest_df(df, columns).first())


def stage_transcripts(spark, path: str, n_convs: int, seed: int) -> int:
    """Write the transcript table to ``path`` in a seeded row and file
    order; returns the row count."""
    order = F.xxhash64("conv_id", "turn_idx", F.lit(seed))
    (
        transcripts(spark, n_convs=n_convs)
        .withColumn("_o", order)
        .repartition(N_FILES, "_o")
        .sortWithinPartitions("_o")
        .drop("_o")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).count()


class BackfillFused:
    n_convs = 4_000
    n_shards = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.src_path = os.path.join(ctx.work, "input")

    def stage(self) -> None:
        self.n_rows = stage_transcripts(
            self.spark, self.src_path, self.n_convs, self.ctx.seed
        )
        self.src = self.spark.read.parquet(self.src_path)

    def scan_layer(self) -> dict:
        """Traced scan of the staged input: the sources layer alone."""
        with self.ctx.tracer.span("sources.scan") as sp:
            digest(self.src)
        return {"sources.scan_s": sp.end - sp.start}

    def warm_up(self) -> None:
        tracer, probe = self.ctx.tracer, self.ctx.probe
        with tracer.span("plans.build") as build:
            ref = get_historical(self.src, FEATURES)
        with tracer.span("plans.exec") as ex:
            agg = digest_df(ref, FEATURE_COLUMNS)
            self.ref = tuple(agg.collect()[0])  # runs agg's own plan
        self.setup_layers = {}
        if tracer.enabled:
            jobs = probe.jobs([build.group])
            self.setup_layers = {
                "plans.build_s": build.end - build.start,
                "plans.build_jobs": float(len(jobs)),
                "plans.catalyst_ms": harness.catalyst_ms(agg),
                "plans.exec_s": ex.end - ex.start,
                **self.scan_layer(),
            }
        self.input_bytes = harness.dir_bytes(self.src_path)
        # backfills keep getting faster for about three runs while the JIT
        # compiles the shard plans' code
        for _ in range(3):
            self.op(traced=False)

    def op(self, traced: bool) -> OpResult:
        ctx = self.ctx
        out = os.path.join(ctx.work, "backfill")
        shutil.rmtree(out, ignore_errors=True)
        with ctx.tracer.span("backfill.run") as sp:
            cpu0 = harness.cpu_ms()
            t0 = time.perf_counter()
            res = backfill(
                self.spark, self.src, FEATURES, out,
                n_shards=self.n_shards, resume=False,
                source_id=f"perfbench:{ctx.seed}",
            )
            wall = time.perf_counter() - t0
            cpu = harness.cpu_ms() - cpu0
        got = digest(read_backfill(self.spark, out), FEATURE_COLUMNS)
        ctx.tally.record(
            "backfill", got == self.ref and res.input_rows == self.n_rows,
            f"(hash, rows) {got} vs unsharded {self.ref}, "
            f"input rows {res.input_rows} vs {self.n_rows}",
        )
        layers = {}
        if traced:
            shard_walls = []
            for p in glob.glob(os.path.join(out, "_lineage", "shard-*.json")):
                with open(p) as f:
                    shard_walls.append(json.load(f)["wall_s"])
            jobs = ctx.probe.jobs([sp.group])
            scanned = ctx.probe.sql_metric_totals(
                jobs, {"size of files read": "bytes"})["bytes"]
            layers = {
                "backfill.shard_wall_median_s": harness.median(shard_walls),
                "backfill.shard_wall_max_s": max(shard_walls),
                "backfill.unsharded_s": wall - sum(shard_walls),
                "backfill.scan_amplification": scanned / self.input_bytes,
                "backfill.output_bytes":
                    float(harness.dir_bytes(os.path.join(out, "data"))),
                **harness.engine_layers(ctx.probe, jobs),
            }
        return OpResult(rows=self.n_rows, wall_s=wall, latencies_s=[wall],
                        cpu_ms=cpu, op_cpu_ms=[cpu], layers=layers)
