"""One benchmark run: set-up, the timed closed loop, checks, and the
metrics of the result line."""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict

from perfbench import config, trace
from perfbench.harness import Bench, OpFailed, host_gauge_s, median
from perfbench.workloads import WORKLOADS

#: end-to-end metrics: (name, unit); every workload reports all of them.
#: work_rel and cpu_rel are work_s and cpu_s divided by the run's host
#: gauge (``harness.host_gauge_s``), because the shared hosts this runs
#: on change core speed by more than the bounds within minutes.
E2E = [
    ("setup_s", "s"),
    ("work_rel", "ratio"),
    ("cpu_rel", "ratio"),
    ("peak_rss_mb", "MB"),
]


def per_layer_names() -> list[tuple[str, str]]:
    names = [
        ("session.start_s", "s"),
        ("ingest_seqs_per_s", "seq/s"),
        ("ingest.cpu_s", "s"),
        ("ingest.python_run_s", "s"),
        ("ingest.python_bytes", "B"),
        ("codec.encode_seqs_per_s", "seq/s"),
        ("codec.bytes_out", "B"),
        ("encoded_bytes_per_token", "B/token"),
        ("timeparse.quarantined_rows", "count"),
        ("build_points_per_s", "points/s"),
        ("pipeline.pre_write_s", "s"),
        ("manifest.write_s", "s"),
        ("manifest.stats_s", "s"),
        ("manifest.append_s", "s"),
        ("pipeline.jobs", "count"),
        ("pipeline.tasks", "count"),
        ("pipeline.cpu_s", "s"),
        ("pipeline.gc_s", "s"),
        ("pipeline.shuffle_write_bytes", "B"),
        ("pipeline.shuffle_read_bytes", "B"),
        ("pipeline.spill_bytes", "B"),
        ("pipeline.task_skew", "ratio"),
        ("pipeline.sql_sort_s", "s"),
        ("pipeline.sql_agg_s", "s"),
        ("pipeline.python_run_s", "s"),
    ]
    names += [(f"rollup.points_{t}", "count") for t in ("1m", "1h", "1d")]
    names += [(f"gapfill.filled_{t}", "count") for t in ("1m", "1h", "1d")]
    names += [
        ("tier_bytes_per_point", "B/point"),
        ("manifest.tier_files", "count"),
        ("query_p50_s", "s"),
        ("query_p90_s", "s"),
    ]
    names += [(f"query.{q}_s", "s") for q in config.BATTERY]
    names += [
        ("battery.jobs", "count"),
        ("battery.cpu_s", "s"),
        ("battery.shuffle_write_bytes", "B"),
        ("battery.spill_bytes", "B"),
        ("battery.python_run_s", "s"),
        ("stream_catchup_s", "s"),
        ("stream.increment_rows", "count"),
        ("reconcile.s", "s"),
        ("reconcile.stale_units", "count"),
        ("pipeline.resume_s", "s"),
        ("pipeline.resume_units_written", "count"),
        ("pipeline.resume_jobs", "count"),
        ("pipeline.resume_read_amplification", "ratio"),
        ("manifest.files", "count"),
        ("retention.expire_s", "s"),
        ("retention.chunks_expired", "count"),
        ("manifest.expire_snapshots_s", "s"),
        ("trace.coverage", "ratio"),
        ("trace.overhead_frac", "ratio"),
    ]
    return names


def _phase(b: Bench, w, seconds: float, event_log: str | None) -> dict:
    """Start a session, set up, run units until ``seconds`` have passed;
    the host gauge runs before the session starts and after the units."""
    gauge = host_gauge_s(config.GAUGE_REPS)
    start_s = b.start_session(event_log)
    b.tracer = trace.Tracer(b.spark.sparkContext if event_log else None)
    reps = []
    for _ in range(config.SETUP_REPS):
        t0 = time.perf_counter()
        w.warm()
        reps.append(time.perf_counter() - t0)
    samples: dict[str, list] = defaultdict(list)
    t_start, i = time.perf_counter(), 0
    while True:
        b.op_cpu_s = 0.0
        try:
            out = w.unit(i)
        except OpFailed:
            out = None
        if out is not None:
            samples["cpu_s"].append(b.op_cpu_s)
            for k, v in out.items():
                samples[k].append(v)
        i += 1
        if time.perf_counter() - t_start >= seconds:
            break
    wall = time.perf_counter() - t_start
    rss = b.peak_rss_mb()  # before the checks in finish() can raise it
    gauge += host_gauge_s(config.GAUGE_REPS)
    counts = w.finish()
    return {"setup_s": start_s + median(reps), "start_s": start_s,
            "samples": samples, "counts": counts, "wall": wall,
            "t_start": t_start, "units": i, "rss": rss,
            "gauge_s": median(gauge)}


def run(root: str, workload: str, seed: int, seconds: float,
        traced: bool) -> tuple[dict, dict]:
    b = Bench(root, workload, seed, seconds)
    w = WORKLOADS[workload](b)
    w.prepare()
    try:
        if not traced:
            ph = _phase(b, w, seconds, None)
            metrics = _e2e(ph)
        else:
            out = os.path.join(root, ".perfbench", f"trace-{workload}")
            shutil.rmtree(out, ignore_errors=True)
            ph = _phase(b, w, seconds, os.path.join(out, "eventlog"))
            b.stop_session()  # closes the event log
            b.tracer.dump(os.path.join(out, "spans.jsonl"))
            metrics = _per_layer(b, w, ph, os.path.join(out, "eventlog"))
        context = b.context()
    finally:
        b.close()
    # untraced work_rel per seed, for the tracing overhead of a traced run
    # of the same workload, seed and source code
    key = {"seed": seed, "source_hash": context["source_hash"]}
    last = os.path.join(root, ".perfbench", f"untraced-{workload}.json")
    try:
        with open(last) as f:
            records = json.load(f)
    except (FileNotFoundError, ValueError):
        records = {}
    if not traced:
        records[str(seed)] = {**key, "work_rel": metrics["work_rel"]}
        with open(last, "w") as f:
            json.dump(records, f)
    else:
        # None when no untraced run of this seed and source code was
        # made in this checkout: the overhead then reads 0
        plain = records.get(str(seed))
        if plain is not None and plain.get("source_hash") != key["source_hash"]:
            plain = None
        if plain is not None and ph["samples"]["work_s"]:
            traced_work = median(ph["samples"]["work_s"]) / ph["gauge_s"]
            metrics["trace.overhead_frac"] = traced_work / plain["work_rel"] - 1
        context["untraced"] = plain
    context.update({
        "units": ph["units"], "window_s": ph["wall"],
        "gauge_s": ph["gauge_s"],
        "unit_work_s": ph["samples"]["work_s"],
        "unit_medians": {k: median(v) for k, v in ph["samples"].items()
                         if not k.startswith("query.")},
        "problems": b.problems[:20]})
    if "query_samples" in (h := w.headline(ph["samples"])):
        context["query_latency_samples"] = h["query_samples"]
    names = dict(E2E if not traced else per_layer_names())
    result = {
        "correct": b.failed == 0 and ph["units"] > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in names.items()},
    }
    return result, context


def _e2e(ph: dict) -> dict:
    s = ph["samples"]
    return {
        "setup_s": ph["setup_s"],
        "work_rel": median(s["work_s"]) / ph["gauge_s"],
        "cpu_rel": median(s["cpu_s"]) / ph["gauge_s"],
        "peak_rss_mb": ph["rss"],
    }


def _per_layer(b: Bench, w, ph: dict, log: str) -> dict:
    """Per-layer metrics of a traced phase: sample medians, workload
    counts, and event-log totals of the spans inside the timed window."""
    tr = b.tracer
    totals = trace.read_event_log(log)
    window = [s for s in tr.spans if s.start >= ph["t_start"]
              and s.end <= ph["t_start"] + ph["wall"]]

    def per_span(match) -> list[trace.SpanTotals]:
        return [totals.get(s.id, trace.SpanTotals()) for s in window
                if match(s.name)]

    def med(per, *keys) -> float:
        return median([sum(t.values.get(k, 0.0) for k in keys) for t in per])

    m: dict[str, float] = {"session.start_s": ph["start_s"]}
    m.update({k: median(v) for k, v in ph["samples"].items()})
    m.update(w.headline(ph["samples"]))
    m.update(ph["counts"])

    if per := per_span(lambda n: n == "ingest"):
        m["ingest.cpu_s"] = med(per, "cpu_ns") / 1e9
        m["ingest.python_run_s"] = med(per, "python_run_s")
        m["ingest.python_bytes"] = med(per, "python_sent_bytes",
                                       "python_recv_bytes")
    if per := per_span(lambda n: n == "build"):
        m["pipeline.jobs"] = median([t.jobs for t in per])
        m["pipeline.tasks"] = median([t.tasks for t in per])
        m["pipeline.cpu_s"] = med(per, "cpu_ns") / 1e9
        m["pipeline.gc_s"] = med(per, "gc_ms") / 1e3
        m["pipeline.shuffle_write_bytes"] = med(per, "shuffle_write_bytes")
        m["pipeline.shuffle_read_bytes"] = med(per, "shuffle_read_remote",
                                               "shuffle_read_local")
        m["pipeline.spill_bytes"] = med(per, "spill_disk")
        m["pipeline.task_skew"] = median([trace.task_skew(t) for t in per])
        m["pipeline.sql_sort_s"] = med(per, "sort_s")
        m["pipeline.sql_agg_s"] = med(per, "agg_s")
        m["pipeline.python_run_s"] = med(per, "python_run_s")
    if per := per_span(lambda n: n.startswith("query.")):
        passes = max(1, ph["units"])
        q = trace.merge(per)
        m["battery.jobs"] = q.jobs / passes
        m["battery.cpu_s"] = q.values["cpu_ns"] / 1e9 / passes
        m["battery.shuffle_write_bytes"] = q.values["shuffle_write_bytes"] / passes
        m["battery.spill_bytes"] = q.values["spill_disk"] / passes
        m["battery.python_run_s"] = q.values["python_run_s"] / passes
    if per := per_span(lambda n: n == "resume"):
        info = w.round_info[:len(per)]
        m["pipeline.resume_jobs"] = median([t.jobs for t in per])
        m["pipeline.resume_read_amplification"] = median([
            t.values.get("scan_rows", 0) / max(1, r["rewritten_input_rows"])
            for t, r in zip(per, info)])
        m["stream.increment_rows"] = median(
            [r["stream.increment_rows"] for r in info])
        m["manifest.files"] = info[-1]["manifest.files"]
    m["trace.coverage"] = sum(tr.self_time(x) for x in window) / ph["wall"]
    return m
