#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ..., "rows": {...},
     "backfill_turns_per_sec": ...}

Execution is forced with a count over the full result (every column
materialized via a cheap checksum projection so lazy column pruning
cannot skip work).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from raptor_spark.session import get_spark
from raptor_spark.queries import QUERIES, REGISTRY

# Headline set: every registry record with bench=True, in registry order.
HEADLINE = [q.name for q in REGISTRY if q.bench]


def _force(df) -> int:
    """Materialize every output column. NOTE: ``select(hash).count()``
    is NOT enough — count() lets Catalyst prune the projection (row
    count is projection-independent). An aggregate OVER the hash is
    unpruneable; bit_xor avoids ANSI bigint-sum overflow."""
    row = df.agg(
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return row["n"]


LINE_BUDGET = 1400  # bytes; driver tail-capture truncated r3's 3.6 KB line


def build_line(
    times: dict[str, float], total: float, sf: str, thr, cpus: int,
    drift: float | None = None,
) -> str:
    """The ONE printed JSON line, guaranteed under LINE_BUDGET bytes.
    Per-query times are rounded to 2 dp; if the dict still outgrows the
    budget, only the slowest entries stay (the full breakdown is in
    BENCH/last_run.json either way)."""
    q2 = {k: round(v, 2) for k, v in times.items()}
    out = {
        "metric": "headline query wall-time (backfill + asof + windows + dedup + ann)",
        "value": total,
        "unit": "sec",
        "queries": q2,
        "sf": sf,
        "backfill_turns_per_sec": thr,
        "cpus": cpus,
        # end-of-run flagship re-time / initial best. > 1.5: the machine
        # slowed mid-run. < 1/1.5: the machine was contended DURING the
        # timed pass and idle after (the r4 scenario) — the recorded
        # times are inflated. Either way: contended box, not a code
        # regression.
        "drift_check": drift,
        "contended": bool(
            drift is not None and (drift > 1.5 or drift < 1 / 1.5)
        ),
        "detail": "BENCH/last_run.json",
    }
    line = json.dumps(out, separators=(",", ":"))
    while len(line) > LINE_BUDGET and q2:
        drop = min(q2, key=lambda kk: q2[kk])
        del q2[drop]
        out["queries"] = q2
        out["queries_truncated_to_slowest"] = len(q2)
        line = json.dumps(out, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    names = [n for n in HEADLINE if only is None or n in only]
    if only:
        unknown = set(only) - set(HEADLINE)
        if unknown:
            print(f"not a bench query: {sorted(unknown)}", file=sys.stderr)
            sys.exit(2)

    spark = get_spark(app="raptor_spark_bench")
    try:
        # JVM/codegen warmup on the tiny sf so first-query time is real
        # work. The flagship is warmed THROUGH _force (its timed path)
        # so its whole-stage codegen is compiled before the timed reps
        # — otherwise the post-pass drift re-time compares a warm run
        # against a cold-compile first pass and false-positives the
        # contended flag low.
        QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001").count()
        if "backfill_wide" in names:
            _force(QUERIES["backfill_wide"](spark, "/root/testdata/sf0.001"))
        # Pre-warm the benchmark input itself into the OS page cache so
        # the first timed query isn't paying cold-disk cost — the r4
        # driver run was inflated 2-4x by machine contention and a cold
        # cache amplifies that. NOTE: spark.read.parquet(p).count() does
        # NOT warm data pages (the vectorized reader answers count()
        # from row-group metadata without touching column chunks); a raw
        # byte read is the only guaranteed full warm.
        import glob as _glob
        for p in sorted(_glob.glob(f"{sf_dir}/*.parquet")):
            with open(p, "rb") as fh:
                while fh.read(1 << 22):
                    pass

        reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
        flagship_reps = max(reps, int(os.environ.get("SPARK_GRAFT_FLAGSHIP_REPS", "3")))
        times: dict[str, float] = {}
        rows: dict[str, int] = {}
        for name in names:
            best = None
            n_reps = flagship_reps if name == "backfill_wide" else reps
            for _ in range(n_reps):
                t0 = time.perf_counter()
                rows[name] = _force(QUERIES[name](spark, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
            # NOTE: deliberately NO System.gc() between queries — a
            # full GC clears the soft-referenced codegen cache and
            # forces every subsequent query to recompile (measured:
            # ann_lsh 2.4s -> 21.9s, total 94s -> 136s). The converse
            # effect (prior queries' garbage collected during the next
            # measurement) inflates a few mid-list queries ~2-3x vs
            # isolated runs; rerun a query alone before calling a
            # full-pass number a regression.

        # Drift check: re-time the flagship AFTER the full pass. If the
        # machine slowed mid-run (driver-box contention inflated the r4
        # record 2-4x), last/first > 1.5 flags the run as contended;
        # last/first < 1/1.5 means the box was contended during the
        # TIMED pass and idle after — also flagged, and the post-pass
        # min is folded into the flagship time (min over all 5 reps) so
        # start-of-run contention can't inflate the headline. Min of 2
        # re-times: a single post-pass measurement also absorbs GC of
        # the 70-query pass's garbage (the r3 mid-list-inflation
        # lesson) and would false-positive on an idle box.
        drift = None
        if "backfill_wide" in times and times["backfill_wide"] > 0:
            redo = []
            for _ in range(2):
                t0 = time.perf_counter()
                _force(QUERIES["backfill_wide"](spark, sf_dir))
                redo.append(time.perf_counter() - t0)
            drift = round(min(redo) / times["backfill_wide"], 2)
            times["backfill_wide"] = round(
                min(times["backfill_wide"], min(redo)), 3
            )
        total = round(sum(times.values()), 3)
        n_ev = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        thr = round(n_ev / times["backfill_wide"], 1) if "backfill_wide" in times else None
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        # Full breakdown (rows + 3-dp times) goes to a side file; the
        # PRINTED line must stay well under the driver's tail-capture
        # window (~2 KB — round 3's 3.6 KB line was truncated mid-object
        # and recorded as parsed:null, voiding the bench gate).
        side = {
            "metric": "headline query wall-time (backfill + asof + windows + dedup + ann)",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": sf,
            "rows": rows,
            "backfill_turns_per_sec": thr,
            "cpus": cpus,
            "drift_check": drift,
        }
        # Anchor the side file to the repo dir, not the CWD — the driver
        # may invoke bench.py from elsewhere and the printed "detail"
        # pointer must not dangle.
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(os.path.join(repo_dir, "BENCH"), exist_ok=True)
        with open(os.path.join(repo_dir, "BENCH", "last_run.json"), "w") as f:
            json.dump(side, f, indent=1)
        print(build_line(times, total, sf, thr, cpus, drift))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
