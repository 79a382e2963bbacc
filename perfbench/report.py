"""Per-layer metrics from one traced iteration's spans.

Span names are ``<layer>`` or ``<layer>.<entry point>``; the layer of a
span is the part before the first dot (``iteration`` and ``crawl.*``
belong to the crawl layer). A layer a workload never enters reports 0.
"""

from __future__ import annotations

from perfbench.tracing import Tracer

LAYER_OF_SPAN = {
    "iteration": "crawl",
    "crawl.loop": "crawl",
    "crawl.assemble": "crawl",
    "crawl.assemble_intel": "crawl",
    "frontier.canonicalize": "frontier",
    "frontier.dedup": "frontier",
    "schedule": "schedule",
    "fetch": "fetch",
    "extract": "extract",
    "store.commit": "store",
    "store.load": "store",
    "store.compact": "store",
    "sinks.write_txt": "sinks",
}


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_self_times(tracer: Tracer) -> dict[str, float]:
    """Layer -> summed self time of its spans."""
    out: dict[str, float] = {}
    for sid, t in tracer.self_times().items():
        layer = LAYER_OF_SPAN[tracer.spans[sid]["name"]]
        out[layer] = out.get(layer, 0.0) + t
    return out


def layer_metrics(tracer: Tracer, wall_s: float, untraced_median_s: float,
                  fetch_fail_ratio: float, extra: dict) -> dict[str, float]:
    spans = tracer.spans
    by = {name: [r for r in spans if r["name"] == name] for name in LAYER_OF_SPAN}
    self_t = tracer.self_times()

    def total(names, key=None, fn=None):
        recs = [r for n in names for r in by[n]]
        if fn is not None:
            return sum(fn(r) for r in recs)
        return sum(r["counts"].get(key, 0) for r in recs)

    def shuffle_mb(names):
        return total(names, fn=lambda r: r["spark"]["shuffle_write"]
                     + r["probe"]["shuffle_write"]) / 1e6

    def written_mb(names):
        return total(names, fn=lambda r: r["spark"]["output_bytes"]
                     + r["probe"]["output_bytes"]) / 1e6

    dedup_in = total(["frontier.dedup"], "rows_in")
    dedup_out = total(["frontier.dedup"], "rows_out")
    sched_in = total(["schedule"], "rows_in")
    sched_out = total(["schedule"], "rows_out")
    biggest = max(by["schedule"], key=lambda r: r["counts"].get("rows_out", 0), default=None)

    loops = by["crawl.loop"]
    loop_ids = {r["id"] for r in loops}

    def in_loop(rec):
        while rec["parent"] is not None:
            if rec["parent"] in loop_ids:
                return True
            rec = spans[rec["parent"]]
        return False

    engine = lambda key, recs: sum(r["spark"][key] for r in recs)  # noqa: E731
    loop_recs = [r for r in spans if r["id"] in loop_ids or in_loop(r)]
    waves = len(by["schedule"]) if loops else 0
    resume_loads = [
        r for r in by["store.load"]
        if r["parent"] is not None and spans[r["parent"]]["counts"].get("resume")
    ]
    driver_s = sum(self_t[r["id"]] for r in loops + by["iteration"]) if loops else 0.0

    return {
        "frontier.canonicalize_s": total(["frontier.canonicalize"], fn=_dur),
        "frontier.dedup_s": total(["frontier.dedup"], fn=_dur),
        "frontier.rows_in": dedup_in,
        "frontier.rows_out": dedup_out,
        "frontier.fresh_ratio": _ratio(dedup_out, dedup_in),
        "frontier.shuffle_mb": shuffle_mb(["frontier.canonicalize", "frontier.dedup"]),
        "schedule.s": total(["schedule"], fn=_dur),
        "schedule.rows_out": sched_out,
        "schedule.deferred_ratio": _ratio(sched_in - sched_out, sched_in),
        "schedule.shuffle_mb": shuffle_mb(["schedule"]),
        "schedule.partition_skew": biggest["counts"]["skew"] if biggest else 0.0,
        "fetch.s": total(["fetch"], fn=_dur),
        "fetch.urls": total(["fetch"], "rows_out"),
        "fetch.mb": total(["fetch"], "bytes") / 1e6,
        "fetch.fail_ratio": fetch_fail_ratio,
        "fetch.server_busy_s": total(["fetch"], "server_busy_s"),
        "extract.s": total(["extract"], fn=_dur),
        "extract.pages": total(["extract"], "rows_out"),
        "extract.values_out": total(["extract"], "values_out"),
        "extract.kernel_s": extra.get("extract.kernel_s", 0.0),
        "crawl.loop_s": total(["crawl.loop"], fn=_dur),
        "crawl.assemble_s": total(["crawl.assemble", "crawl.assemble_intel"], fn=_dur),
        "crawl.waves": waves,
        "crawl.jobs": engine("jobs", loop_recs + by["crawl.assemble"]),
        "crawl.jobs_per_wave": _ratio(engine("jobs", loop_recs), waves),
        "crawl.stages": engine("stages", loop_recs + by["crawl.assemble"]),
        "crawl.tasks": engine("tasks", loop_recs + by["crawl.assemble"]),
        "crawl.first_wave_s": extra.get("crawl.first_wave_s", 0.0),
        "crawl.driver_s": driver_s,
        "store.commit_s": total(["store.commit"], fn=_dur),
        "store.commits": len(by["store.commit"]),
        "store.mb_written": written_mb(["store.commit", "store.compact"]),
        "store.files_written": total(["store.commit", "store.compact"], "files_written"),
        "store.compact_s": total(["store.compact"], fn=_dur),
        "store.load_s": total(["store.load"], fn=_dur),
        "store.resume_s": _dur(resume_loads[0]) if resume_loads else 0.0,
        "sinks.write_txt_s": total(["sinks.write_txt"], fn=_dur),
        "sinks.values": total(["sinks.write_txt"], "values"),
        "session.start_s": extra.get("session.start_s", 0.0),
        "trace.overhead_s": wall_s - untraced_median_s,
    }
