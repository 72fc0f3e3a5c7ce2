"""Stateful-streaming scale soak: drive the real STREAMING operators
(not their batch twins) over the x-K fact replica with AvailableNow
and record per-batch progress — input rows, rows/s, state-store rows
and bytes — so the bounded-state claim has a measured curve instead of
a fixture-scale parity test.

Operators soaked (the two the stateful family's scale story rests on):
  * stream_dedup — dropDuplicatesWithinWatermark on (user_id,
    event_type): state is keyed by the USER x TYPE domain and expired
    at the watermark horizon, so the curve must plateau at ~|keys| in
    batch 1 and then SHRINK as the watermark passes replayed event
    times — never track cumulative input.
  * stream_scd2_apply — applyInPandasWithState scd2_apply: state is 4
    scalars per (user_id, event_type); the curve must stay FLAT at
    |keys| while input accumulates 10x past it.

Sink is noop (full materialization, zero driver accumulation).
Per-batch numbers come from StreamingQuery.recentProgress.

Usage: python tools/stream_soak.py [--x 100] [--files-per-trigger 10]
           [--out-section /dev/stdout]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def soak(spark, name, stream_df, output_mode, timeout_sec=1800):
    q = (
        stream_df.writeStream.format("noop")
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.time()
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    wall = time.time() - t0
    rows = []
    for p in q.recentProgress:
        so = (p.get("stateOperators") or [{}])[0]
        src = (p.get("sources") or [{}])[0]
        n_in = src.get("numInputRows") or 0
        if not n_in and not so:
            continue
        rows.append({
            "batch": p.get("batchId"),
            "input_rows": n_in,
            "rows_per_sec": round(p.get("processedRowsPerSecond") or 0),
            "state_rows": so.get("numRowsTotal"),
            "state_bytes": so.get("memoryUsedBytes"),
            "removed": so.get("numRowsRemoved"),
        })
    return {"name": name, "wall_sec": round(wall, 1), "batches": rows}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--x", type=int, default=100)
    ap.add_argument("--files-per-trigger", type=int, default=10)
    ap.add_argument("--out-json", default=None)
    args = ap.parse_args()

    import litebase_spark.operators  # noqa: F401
    from bench import read_loadavg
    from litebase_spark.catalog import parquet_schema
    from litebase_spark.session import get_spark
    from litebase_spark.streaming.stateful import scd2_apply
    from litebase_spark.streaming.windows import (
        _normalized_events,
        dedup_within_watermark,
    )
    from tools.scale_stress import build_replica

    load = read_loadavg()
    spark = get_spark("stream-soak")
    spark.range(1).count()
    sf_dir = build_replica(spark, args.x)
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")

    def events_stream():
        return (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .option("maxFilesPerTrigger", str(args.files_per_trigger))
            .option("pathGlobFilter", "*.parquet")
            .load(f"{sf_dir}/events.parquet")
        )

    results = []
    results.append(soak(
        spark, "stream_dedup",
        dedup_within_watermark(events_stream()), "append",
    ))
    print(json.dumps(results[-1]), flush=True)

    scd2_in = _normalized_events(events_stream()).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    results.append(soak(
        spark, "stream_scd2_apply", scd2_apply(scd2_in), "update",
    ))
    print(json.dumps(results[-1]), flush=True)

    # stream-stream OUTER joins — the heaviest stateful shapes: both
    # sides buffer rows until the global watermark clears their
    # horizon (purchase side at p_ts, click side at c_ts + the 30-min
    # forward window), so the state curve must track the IN-FLIGHT
    # horizon window, not cumulative input, and `removed` must show
    # continuous watermark eviction
    from litebase_spark.streaming.windows import (
        stream_stream_full_outer,
        stream_stream_left_outer,
    )

    results.append(soak(
        spark, "stream_left_outer_join",
        stream_stream_left_outer(events_stream()), "append",
    ))
    print(json.dumps(results[-1]), flush=True)
    results.append(soak(
        spark, "stream_full_outer_join",
        stream_stream_full_outer(events_stream()), "append",
    ))
    print(json.dumps(results[-1]), flush=True)

    record = {
        "x": args.x,
        "files_per_trigger": args.files_per_trigger,
        "load_at_start": [round(v, 2) for v in load],
        "runs": results,
    }
    if args.out_json:
        with open(args.out_json, "w") as f:
            json.dump(record, f, indent=1)
        print(f"# wrote {args.out_json}")

    # markdown section (paste into SCALE_STRESS.md)
    print("\n## Stateful-streaming soak (x%d events = %s input rows,"
          " AvailableNow, noop sink)" % (
              args.x, sum(
                  b["input_rows"] for b in results[0]["batches"])))
    print(f"\nLoad at run start: {load[0]:.2f}/{load[1]:.2f}/"
          f"{load[2]:.2f}. maxFilesPerTrigger="
          f"{args.files_per_trigger}.\n")
    for r in results:
        print(f"### {r['name']} — wall {r['wall_sec']}s\n")
        print("| batch | input rows | rows/s | state rows "
              "| state MB | removed |")
        print("|---|---|---|---|---|---|")
        for b in r["batches"]:
            mb = (b["state_bytes"] or 0) / 1e6
            print(f"| {b['batch']} | {b['input_rows']} "
                  f"| {b['rows_per_sec']} | {b['state_rows']} "
                  f"| {mb:.1f} | {b['removed']} |")
        print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
