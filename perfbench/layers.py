"""Per-layer metrics of a traced run.

Micro-batch, window-engine, control, source and generator figures come
from the queries' progress events and the rename log over the timed
phases; executor figures from the benchmark's SparkListener
(`tasks.tsv`); parse, fan-out, persist and replay figures from the
stream run's direct timings (`layers.json`, `run.json`).
"""

import json
import os

UNITS = {
    "parse.lines_per_s": "lines/s", "parse.kept": "lines", "parse.rejected": "lines",
    "fanout.events_per_s": "events/s", "fanout.rows_per_event": "rows/event",
    "rules.persist_ms_p50": "ms",
    "state.rows_total_max": "rows", "state.rows_updated_p50": "rows",
    "state.rows_removed_sum": "rows", "state.update_ms_p50": "ms",
    "state.removal_ms_p50": "ms", "state.commit_ms_p50": "ms", "state.memory_mb_max": "MB",
    "batch.count": "count", "batch.rows_p50": "rows", "batch.trigger_ms_p50": "ms",
    "batch.trigger_ms_p90": "ms", "batch.latest_offset_ms_p50": "ms",
    "batch.get_batch_ms_p50": "ms", "batch.planning_ms_p50": "ms",
    "batch.add_batch_ms_p50": "ms", "batch.wal_commit_ms_p50": "ms",
    "batch.commit_offsets_ms_p50": "ms",
    "control.batches": "count", "control.batch_ms_p50": "ms",
    "source.backlog_lines_max": "lines", "gen.late_ms_max": "ms",
    "exec.cpu_ms_per_kevent": "ms/kevent", "exec.gc_ms": "ms",
    "exec.shuffle_bytes_per_event": "bytes/event", "exec.tasks_per_batch_p50": "tasks",
    "replay.plan_ms": "ms", "replay.exec_ms": "ms", "replay.shuffle_bytes": "bytes",
}


def pct(xs, q):
    """The q-quantile of xs as the sample at index floor(q * n) of the
    sorted values (for q = 0.5, the upper median); 0.0 for no samples."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def p50(xs):
    return pct(xs, 0.5)


def per_layer(out, mb, cb, mfiles, rfiles, timed_names):
    """Per-layer metrics; `timed_names` are the metric files of the timed phases."""
    run = json.load(open(os.path.join(out, "run.json")))
    lay = json.load(open(os.path.join(out, "layers.json")))
    timed = [b for b in mb if any(f["name"] in timed_names for f in b.files)]
    t_lo, t_hi = timed[0].start, timed[-1].end
    batches = [b for b in mb if t_lo <= b.start and b.end <= t_hi]
    timed_lines = sum(f["lines"] for f in mfiles if f["name"] in timed_names)
    states = [b.state for b in batches if b.state]
    d = lambda k: [b.dur.get(k, 0) for b in batches]     # noqa: E731

    # Backlog at each batch start: lines renamed by then, less lines already read.
    backlog, read = [], 0
    for b in mb:
        if b in batches:
            renamed = sum(f["lines"] for f in mfiles if f["act"] <= b.start)
            backlog.append(renamed - read)
        read += b.rows

    tasks = {}
    with open(os.path.join(out, "tasks.tsv")) as f:
        for line in f:
            kind, bid, *vals = line.rstrip("\n").split("\t")
            tasks[(kind, int(bid))] = [int(v) for v in vals]
    ids = {b.id for b in batches}
    met = [v for (k, bid), v in tasks.items() if k == "metric" and bid in ids]
    cpu_ns = sum(v[1] for v in met)
    ctl = [b for b in cb if b.rows > 0 and t_lo <= b.start <= t_hi]
    timed_items = [x for x in mfiles + rfiles if x["phase"] in ("lo", "hi")]
    m = {
        "parse.lines_per_s": lay["lines"] / (lay["parse_ms"] / 1000.0),
        "parse.kept": lay["kept"],
        "parse.rejected": lay["lines"] - lay["kept"],
        "fanout.events_per_s": lay["kept"] / (lay["fanout_ms"] / 1000.0),
        "fanout.rows_per_event": lay["fanout_rows"] / lay["kept"],
        "rules.persist_ms_p50": p50(lay["persist_ms"][1:]),
        "state.rows_total_max": max(s["numRowsTotal"] for s in states),
        "state.rows_updated_p50": p50([s["numRowsUpdated"] for s in states]),
        "state.rows_removed_sum": sum(s["numRowsRemoved"] for s in states),
        "state.update_ms_p50": p50([s["allUpdatesTimeMs"] for s in states]),
        "state.removal_ms_p50": p50([s["allRemovalsTimeMs"] for s in states]),
        "state.commit_ms_p50": p50([s["commitTimeMs"] for s in states]),
        "state.memory_mb_max": max(s["memoryUsedBytes"] for s in states) / 1e6,
        "batch.count": len(batches),
        "batch.rows_p50": p50([b.rows for b in batches]),
        "batch.trigger_ms_p50": p50(d("triggerExecution")),
        "batch.trigger_ms_p90": pct(d("triggerExecution"), 0.9),
        "batch.latest_offset_ms_p50": p50(d("latestOffset")),
        "batch.get_batch_ms_p50": p50(d("getBatch")),
        "batch.planning_ms_p50": p50(d("queryPlanning")),
        "batch.add_batch_ms_p50": p50(d("addBatch")),
        "batch.wal_commit_ms_p50": p50(d("walCommit")),
        "batch.commit_offsets_ms_p50": p50(d("commitOffsets")),
        "control.batches": len(ctl),
        "control.batch_ms_p50": p50([b.end - b.start for b in ctl]),
        "source.backlog_lines_max": max(backlog),
        "gen.late_ms_max": max(x["act"] - x["due"] for x in timed_items),
        "exec.cpu_ms_per_kevent": cpu_ns / 1e6 / (timed_lines / 1000.0),
        "exec.gc_ms": sum(v[2] for v in met),
        "exec.shuffle_bytes_per_event": sum(v[3] for v in met) / timed_lines,
        "exec.tasks_per_batch_p50": p50([v[0] for v in met]),
        "replay.plan_ms": run["replay_plan_ms"],
        "replay.exec_ms": run["replay_exec_ms"],
        "replay.shuffle_bytes": tasks.get(("replay", -1), [0, 0, 0, 0])[3],
    }
    return m
