"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}. Each query is forced end-to-end with
the noop sink (full computation, no driver materialization cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

HEADLINE = [
    "groupby_summaries",
    "join_3way_agg",
    "tpch_q3_shape",
    "outer_join_left",
    "window_topk_per_group",
    "window_moving_avg",
    "orderby_head",
    "unique",
    "compute_field",
    "events_tumbling",
    "events_session",
    "asof_join",
    "stats",
    "pivot_counts",
    "multimodal_meta",
    "multimodal_decode",
    "sample_cap_per_group",
    "sample_cap_tokens",
    "sample_epoch",
    "sample_weighted",
    "range_join",
    "events_rollup",
    "stream_ingest_dedup",
    "stream_ingest_compact",
    "skew_report",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from littletable_spark import get_spark

    # steady-state methodology: base tables persist across queries (the
    # reference engine holds its tables in memory; one parquet load +
    # cache is the Spark analogue). The warmup pass fills the cache.
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    spark = get_spark(cpus=CPUS)

    # record the EFFECTIVE Arrow batching regime (VERDICT r7 #2): these
    # two confs decide whether the Int.MaxValue maxBytesPerBatch fix and
    # the default records cap actually governed this run — captured both
    # before and after the query loop so a session-sticky mutation by
    # any operator (the round-7 defect class) shows up in the artifact.
    def _arrow_confs() -> dict[str, str | None]:
        out = {}
        for k in (
            "spark.sql.execution.arrow.maxBytesPerBatch",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        ):
            try:
                out[k.rsplit(".", 1)[-1]] = spark.conf.get(k)
            except Exception:
                out[k.rsplit(".", 1)[-1]] = None
        return out

    arrow_confs_pre = _arrow_confs()
    queries = entrymod.queries()
    names = [n for n in HEADLINE if n in queries] + [
        n
        for n in queries
        if n not in HEADLINE
        and n.startswith(
            ("dedup", "sim", "text", "search", "url", "multimodal_image",
             "multimodal_audio_dedup", "office", "media", "archive")
        )
    ]

    # fixed-work ARROW calibration, measured TWICE: here (fresh JVM,
    # only primitive Arrow writers loaded) and again after the query
    # loop (polluted). Root-caused this round: the FIRST mapInPandas
    # whose input carries an array column permanently degrades the
    # session's JVM-side Arrow batch feed (~6x on this job — worker
    # wait-for-batch 10.8s -> 147s aggregate while in-worker compute
    # stays flat and plain-Python RDD tasks stay flat; thread dumps
    # show task threads in ArrowFieldWriter.getSizeInBytes via
    # StructVector.getBufferSizeFor — consistent with JIT call-site
    # pollution once non-primitive writer classes load). Every
    # Arrow-heavy query timed after the first embedding query pays
    # this; the pre/post pair quantifies the session's pollution
    # factor so cross-round comparisons can separate it from real
    # regressions.
    def _arrow_cal_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"s": [float(np.sqrt(pdf["id"].to_numpy()).sum())]}
            )

    def _cal_arrow_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 40_000_000, 1, CPUS).mapInPandas(
            _arrow_cal_batches, "s double"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    _cal_arrow_once()  # worker/Arrow warmup, untimed
    calibration_arrow_fresh = round(
        sorted(_cal_arrow_once() for _ in range(3))[1], 3
    )

    # warmup pass: codegen/JIT compilation + parquet footer caches; the
    # timed pass below measures steady-state execution. Its compiled
    # classes carry over only while every benched query's classes fit
    # in Spark's codegen cache together: get_spark sizes it to 2000
    # (one registry pass builds ~1,000); at Spark's default 100 each
    # timed pass compiles its queries again.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    for name in names:
        try:
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    # fixed-work calibration JOBS (defined up front so the query loop
    # can interleave them): a pure-JVM, zero-I/O job (fold of xxhash64
    # over a fixed 2B range, whole-stage codegen) and the Arrow job
    # above. Round 11 lesson: end-of-run calibration can sample a
    # quieter moment than the query loop itself (the r11 artifact
    # looked like a uniform 1.45x regression until a code A/B cleared
    # it), so the pair is ALSO re-timed inside the loop every
    # ~CAL_EVERY queries — the per-segment samples time-resolve box
    # drift across the run.
    from pyspark.sql import functions as F

    def _cal_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 2_000_000_000, 1, CPUS).select(
            # max, not sum: summing 2B hashes overflows long under
            # ANSI mode; max forces the same per-row work
            F.max(F.xxhash64(F.col("id"))).alias("s")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _loadavg() -> list[float] | None:
        try:
            with open("/proc/loadavg") as fh:
                return [float(x) for x in fh.read().split()[:3]]
        except Exception:
            return None

    cal_every = int(os.environ.get("SPARK_GRAFT_BENCH_CAL_EVERY", "15"))
    cal_segments: list[dict] = []
    _cal_counter = {"n": 0}

    def _maybe_segment_cal(force: bool = False) -> None:
        _cal_counter["n"] += 1
        if not force and _cal_counter["n"] % cal_every:
            return
        cal_segments.append(
            {
                "after_query": _cal_counter["n"],
                "t_rel": round(time.perf_counter() - loop_t0, 1),
                "jvm": round(_cal_once(), 3),
                "arrow": round(_cal_arrow_once(), 3),
                "loadavg": _loadavg(),
            }
        )

    # per-query median over N timed passes: single-JVM GC/JIT noise at
    # this scale swings individual runs by 2x; the median is the honest
    # steady-state figure (and is what a profile of repeated production
    # runs would report)
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    samples: dict[str, list[float]] = {n: [] for n in names}
    ts_start = time.time()
    loadavg_start = _loadavg()
    loop_t0 = time.perf_counter()
    _cal_once()  # codegen warmup for the JVM calibration job, untimed
    _maybe_segment_cal(force=True)  # segment 0: loop-start conditions
    for _ in range(passes):
        for name in names:
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
            _maybe_segment_cal()
    # sub-second queries are the most load-noise-sensitive (a single GC
    # pause doubles them, and round-over-round comparisons then chase
    # phantom regressions); give them extra passes so their median
    # settles — a few extra seconds total, bounded by the 2s cap
    extra = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_PASSES", "2"))
    for _ in range(extra):
        for name in names:
            if sorted(samples[name])[len(samples[name]) // 2] >= 2.0:
                continue
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            samples[name].append(time.perf_counter() - t0)
            _maybe_segment_cal()
    _maybe_segment_cal(force=True)  # final segment: loop-end conditions
    ts_end = time.time()
    loadavg_end = _loadavg()
    timings = {
        n: round(sorted(v)[len(v) // 2], 3) for n, v in samples.items()
    }

    # headline calibration rows, kept methodology-identical to earlier
    # rounds (median of 3 dedicated post-loop runs) so cross-round
    # ratios stay meaningful; the in-loop `calibration_segments` are
    # the drift-resolving samples (normalize a query by the segment
    # nearest its position in the loop, or by the segment median).
    cal = [_cal_once() for _ in range(3)]
    calibration = round(sorted(cal)[1], 3)
    seg_jvm = sorted(s["jvm"] for s in cal_segments)
    seg_arrow = sorted(s["arrow"] for s in cal_segments)
    calibration_seg_jvm_median = seg_jvm[len(seg_jvm) // 2]
    calibration_seg_arrow_median = seg_arrow[len(seg_arrow) // 2]

    # post-run ARROW calibration: same fixed job as the pre-run one —
    # by now the session's Arrow feed path carries the array-writer
    # pollution every late-running Arrow query also paid, so THIS is
    # the number that normalizes the dedup/sim/text rows; the ratio
    # post/fresh is the session's pollution factor (see the pre-run
    # block for the root-cause evidence).
    cal_a = [_cal_arrow_once() for _ in range(3)]
    calibration_arrow = round(sorted(cal_a)[1], 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    # the driver's artifact stores a byte-bounded TAIL of stdout (last
    # ~2,000 bytes), and in rounds 8/11/12 the long full-record line
    # lost its own head — including the first four per-query keys.
    # Truncation-proofing, all directions: (1) a compact summary line
    # FIRST, (2) the full record (scalars repeated after the big
    # `queries` map), and (3) a final COMPACT line with EVERY query as
    # integer milliseconds and no spaces (~1.8 KB for ~85 rows), so the
    # tail capture always parses every registry bench row. The full
    # record is also written to bench_last.json beside this script.
    print(
        json.dumps(
            {
                "value": total,
                "calibration_sec": calibration,
                "calibration_arrow_fresh_sec": calibration_arrow_fresh,
                "calibration_arrow_sec": calibration_arrow,
                "arrow_post_fresh_ratio": (
                    round(calibration_arrow / calibration_arrow_fresh, 3)
                    if calibration_arrow_fresh
                    else None
                ),
                "calibration_seg_jvm_median": calibration_seg_jvm_median,
                "calibration_seg_arrow_median": calibration_seg_arrow_median,
                "loadavg_start": loadavg_start,
                "loadavg_end": loadavg_end,
                "n_queries": len(timings),
                "sf": sf_val,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "unit": "sec",
                "sf": sf_val,
                "cpus": CPUS,
                "methodology": (
                    f"steady-state (untimed warmup pass; per-query median of "
                    f"{passes} timed passes, +{extra} extra passes for sub-2s "
                    "queries to damp load noise)"
                ),
                "arrow_confs_pre": arrow_confs_pre,
                "arrow_confs_post": _arrow_confs(),
                # in-loop drift telemetry (round-12): the fixed-work
                # calibration pair re-timed every ~cal_every queries
                # during the loop, with 1/5/15-min loadavg — a uniform
                # shift of all segments vs BASELINE.md's reference
                # values is box drift, not code (see BASELINE.md
                # "Normalizing with calibration segments")
                "ts_start": round(ts_start, 1),
                "ts_end": round(ts_end, 1),
                "loadavg_start": loadavg_start,
                "loadavg_end": loadavg_end,
                "cal_every": cal_every,
                "calibration_segments": cal_segments,
                "calibration_seg_jvm_median": calibration_seg_jvm_median,
                "calibration_seg_arrow_median": calibration_seg_arrow_median,
                "queries": timings,
                "value": total,
                "calibration_sec": calibration,
                "calibration_arrow_fresh_sec": calibration_arrow_fresh,
                "calibration_arrow_sec": calibration_arrow,
            }
        )
    )

    # Full record to a sibling file too — survives any stdout capture
    # policy (best-effort: bench must still succeed on a read-only FS).
    full_record = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "sf": sf_val,
        "cpus": CPUS,
        "queries": timings,
        "value": total,
        "calibration_sec": calibration,
        "calibration_arrow_fresh_sec": calibration_arrow_fresh,
        "calibration_arrow_sec": calibration_arrow,
        "calibration_seg_jvm_median": calibration_seg_jvm_median,
        "calibration_seg_arrow_median": calibration_seg_arrow_median,
        "calibration_segments": cal_segments,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "ts_start": round(ts_start, 1),
        "ts_end": round(ts_end, 1),
    }
    try:
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_last.json")
        with open(out, "w") as fh:
            json.dump(full_record, fh)
    except OSError:
        pass

    # FINAL line: every query, integer time units, separators with no
    # spaces — sized to fit the driver's ~2,000-byte tail capture. If
    # the registry ever grows the ms form past the budget, degrade the
    # unit (ms -> cs -> ds); the `unit` key tells the reader which.
    for unit, scale in (("ms", 1000), ("cs", 100), ("ds", 10)):
        compact = json.dumps(
            {
                "unit": unit,
                "q": {n: int(round(v * scale)) for n, v in timings.items()},
                "value": total,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
        if len(compact) <= 1960:
            break
    print(compact)


if __name__ == "__main__":
    main()
