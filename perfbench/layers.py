"""Per-layer figures of a traced run.

Inputs: the traced operations (each with its epoch start ``t0`` and
``wall``), the spans the tracer recorded, and the Spark event log read back
after the session stopped.  Jobs are attributed to the innermost span open
on the thread that submitted them; a wave owns every span below its
``crawl_job.run_wave`` span, including the tail commits its pool threads
ran (their spans share the wave's group id).  Figures are per timed
operation (one crawl or one poll) unless the name says otherwise.
"""

from __future__ import annotations

import statistics
import time

from eventlog import EventLog
from spans import Span, Tracer, self_times, union_length
from expect import NUM_BASE
from workloads import TABLES

HEAD_IDS = 50_000         # card numbers (two urls each) in the head probe
HEAD_WAVE_S = 3600        # one-hour wave: the budget caps the hot host
HEAD_HOT_THRESHOLD = 10_000


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class SpanTree:
    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}

    def ancestor(self, sid: int | None, pred) -> Span | None:
        """Nearest span at or above ``sid`` satisfying ``pred``."""
        while sid is not None:
            s = self.by_id.get(sid)
            if s is None:
                return None
            if pred(s):
                return s
            sid = s.parent
        return None

    def within(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if t0 <= s.start <= t1]


def op_layers(op: dict, log: EventLog, tree: SpanTree, cores: int) -> dict:
    """Figures of one traced operation."""
    t0, t1 = op["t0"], op["t0"] + op["wall"]
    oplog = log.window(t0, t1)
    tot = oplog.totals()
    spans = tree.within(t0, t1)
    by_span = oplog.by_span()
    out: dict[str, float] = {}

    # crawl_job: waves that fetched something, and the jobs they caused
    waves = [s for s in spans if s.name == "crawl_job.run_wave"
             and not s.attrs.get("stats", {}).get("done")]
    wave_end = {s.id: s.end for s in waves}
    wave_jobs = wave_stages = 0
    for j in oplog.jobs.values():
        g = tree.by_id[j.span].group if j.span in tree.by_id else None
        if g in wave_end:
            wave_jobs += 1
            wave_stages += len(j.stages)
            fin = [t.finish for t in oplog.tasks if t.job == j.id]
            wave_end[g] = max([wave_end[g], *fin])
    for s in spans:
        if s.group in wave_end:
            wave_end[s.group] = max(wave_end[s.group], s.end)
    n_waves = max(len(waves), 1)
    out["crawl_job.waves"] = len(waves)
    out["crawl_job.jobs_per_wave"] = wave_jobs / n_waves
    out["crawl_job.stages_per_wave"] = wave_stages / n_waves
    out["crawl_job.jobs"] = tot.jobs
    out["crawl_job.wave_s"] = statistics.median(
        [wave_end[s.id] - s.start for s in waves]) if waves else 0.0
    out["crawl_job.core_idle_frac"] = 1 - tot.task_s / (op["wall"] * cores)
    busy = union_length([(t.launch, t.finish) for t in oplog.tasks], t0, t1)
    out["crawl_job.driver_gap_s"] = op["wall"] - busy

    # parse
    out["parse.cards"] = op["cards_rows"]
    parsed_ok = sum(int(s.get("parsed_ok") or 0) for s in op["stats"])
    out["parse.ok_ratio"] = parsed_ok / op["cards_rows"] if op["cards_rows"] else 0.0
    out["parse.fallbacks"] = op["parse_fallbacks"]
    out["parse.python_s"] = tot.python_s

    # fetch
    st = op["stats"]
    attempts = sum(int(s["fetched"]) for s in st)
    downloaded = sum(int(s["downloaded"]) for s in st)
    absent = sum(int(s["absent"]) for s in st)
    out["fetch.attempts"] = attempts
    out["fetch.downloaded"] = downloaded
    out["fetch.absent"] = absent
    out["fetch.errors"] = attempts - downloaded - absent
    out["fetch.rows_scanned_per_attempt"] = tot.scan_rows / attempts if attempts else 0.0

    # store: commit wall and task time per table
    is_commit = lambda s: s.name.startswith("store.commit.")  # noqa: E731
    for t in TABLES:
        out[f"store.commit_s.{t}"] = sum(
            s.duration for s in spans if s.name == f"store.commit.{t}")
        out[f"store.commit_task_s.{t}"] = 0.0
    for sid, agg in by_span.items():
        c = tree.ancestor(sid, is_commit)
        if c is not None:
            key = f"store.commit_task_s.{c.name[len('store.commit.'):]}"
            if key in out:
                out[key] += agg.task_s
    out["store.bytes_written"] = op["store_bytes"]
    out["store.files_written"] = op["store_files"]
    out["store.manifest_reads"] = op.get("counts", {}).get("manifest_reads", 0)

    # seen-set upkeep and politeness decisions inside the crawl
    out["seen.filter_upkeep_s"] = sum(
        s.duration for s in spans if s.name == "seen.fold")
    out["seen.prefilter_applied"] = sum(
        1 for s in spans if s.name == "seen.prefilter")
    out["politeness.hot_refreshes"] = sum(
        1 for s in spans if s.name == "politeness.hot_host_list")

    # photos
    out["photos.enqueued"] = sum(int(s.get("enqueued_photos") or 0) for s in st)
    out["photos.image_ok_ratio"] = (
        op["images_ok"] / op["photo_rows"] if op["photo_rows"] else 0.0)

    # discovery: check-API requests (single searches plus the rows of the
    # probe tables the cycle's jobs generated outside its crawl), new cards
    # stored, and the cycle's time outside its enqueue and crawl (probes
    # and the known-set fold)
    cycles = [s for s in spans if s.name == "discovery.newcards_cycle"]
    outer = lambda s: s.name in (  # noqa: E731
        "discovery.newcards_cycle", "crawl_job.crawl")
    probe_rows = 0
    for sid, agg in by_span.items():
        a = tree.ancestor(sid, outer)
        if a is not None and a.name == "discovery.newcards_cycle":
            probe_rows += agg.range_rows
    out["discovery.probes"] = (
        op.get("counts", {}).get("check_api_searches", 0) + probe_rows)
    out["discovery.found"] = op.get("found", 0)
    selft = self_times(spans)
    out["discovery.probe_s"] = sum(selft[s.id] for s in cycles) + sum(
        s.duration for s in spans if s.name == "discovery.check_api")

    # spark totals
    out["spark.task_s"] = tot.task_s
    out["spark.gc_s"] = tot.gc_s
    out["spark.shuffle_write_bytes"] = tot.shuffle_write
    out["spark.spill_bytes"] = tot.spill
    return out


def rollup(ops: list[dict], log: EventLog, tracer: Tracer,
           cores: int) -> dict:
    """Mean over the traced operations of every per-operation figure."""
    tree = SpanTree(tracer.spans)
    per_op = [op_layers(op, log, tree, cores) for op in ops]
    return {k: _mean(p[k] for p in per_op) for k in per_op[0]}


def query_metrics(results: list[dict], log: EventLog,
                  tracer: Tracer) -> dict:
    """Wall and task seconds of each slice query (its span and every span
    below it)."""
    tree = SpanTree(tracer.spans)
    task: dict[int, float] = {}
    for sid, agg in log.by_span().items():
        q = tree.ancestor(sid, lambda s: s.layer == "query")
        if q is not None:
            task[q.id] = task.get(q.id, 0.0) + agg.task_s
    out = {}
    for r in results:
        out[f"query.{r['name']}_s"] = r["wall"]
        out[f"query.{r['name']}_task_s"] = task.get(r["span"], 0.0)
    return out


def head_probe(w, tracer: Tracer, repeats: int = 2) -> dict:
    """The crawl head on its own (the shape of ``bench.py``'s
    frontier_select): time the prefixes range frontier -> +seen anti-join
    (every third number seen) -> +salted politeness select with a
    precomputed hot-host list, over HEAD_IDS card numbers.  Each prefix
    hashes every column of every row; each layer's cost is the difference
    between successive prefixes (medians of ``repeats``)."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.politeness import (
        hot_host_list, select_wave_salted,
    )
    from crawler_spark.operators.seen import filter_unseen
    from crawler_spark.sources.frontier import frontier_from_range

    spark = w.spark
    first = NUM_BASE + w.first_doc
    frontier = frontier_from_range(spark, first, first + HEAD_IDS - 1)
    seen = frontier.where(F.col("num") % 3 == 0).select("url_hash")
    pending = filter_unseen(frontier, seen)
    hot = spark.createDataFrame(
        [(r["host"],) for r in hot_host_list(
            frontier, HEAD_HOT_THRESHOLD).collect()], "host string")
    picked = select_wave_salted(pending, HEAD_WAVE_S, n_salts=16,
                                hot_host_threshold=HEAD_HOT_THRESHOLD,
                                hot_hosts=hot)

    def consume(df, *extra):
        """Hash every column of every row, so no column is pruned away."""
        h = F.xxhash64(*df.columns).cast("decimal(38,0)")
        return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"),
                      *extra).collect()[0]

    steps = {
        "head.frontier": lambda: consume(frontier),
        "head.seen": lambda: consume(pending),
        "head.select": lambda: consume(
            picked, F.sum(F.col("selected").cast("long")).alias("selected")),
    }
    times = {k: [] for k in steps}
    results = {}
    for _ in range(repeats):
        for k, fn in steps.items():
            t0 = time.perf_counter()
            results[k] = tracer.call(k, "head", fn)
            times[k].append(time.perf_counter() - t0)
    med = {k: statistics.median(v) for k, v in times.items()}
    return {
        "rows_in": int(results["head.frontier"]["n"]),
        "rows_out": int(results["head.seen"]["n"]),
        "rows_ranked": int(results["head.select"]["n"]),
        "selected": int(results["head.select"]["selected"] or 0),
        "frontier_s": med["head.frontier"],
        "seen_s": med["head.seen"] - med["head.frontier"],
        "select_s": med["head.select"] - med["head.seen"],
        "span_names": {s.id: s.name for s in tracer.spans
                       if s.name in steps},
        "repeats": repeats,
    }


def head_shuffle(head: dict, log: EventLog) -> dict[str, float]:
    """Mean shuffle bytes written per repeat by each head prefix."""
    out = {k: 0.0 for k in ("head.frontier", "head.seen", "head.select")}
    for sid, agg in log.by_span().items():
        name = head["span_names"].get(sid)
        if name is not None:
            out[name] += agg.shuffle_write / head["repeats"]
    return out


def write_spans(spans: list[Span], log: EventLog, path) -> None:
    """Write every span as one JSON line, with the Spark jobs, stages and
    task seconds attributed to it."""
    import json

    by_span = log.by_span()
    with open(path, "w", encoding="utf-8") as f:
        for s in sorted(spans, key=lambda s: s.id):
            agg = by_span.get(s.id)
            f.write(json.dumps({
                "id": s.id, "name": s.name, "layer": s.layer,
                "parent": s.parent, "group": s.group,
                "start": s.start, "end": s.end,
                "jobs": agg.jobs if agg else 0,
                "stages": agg.stages if agg else 0,
                "task_s": agg.task_s if agg else 0.0,
            }) + "\n")
