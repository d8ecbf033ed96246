"""Benchmark of the crawler: one workload per invocation.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root.  It starts one Spark driver at ``local[N]``
(N = usable cores), builds the workload's synthetic corpus from the seed,
sets the workload up and warms it up (see ``workloads.py``), runs whole
timed operations until ``--seconds`` have passed (at least one), checks
every output against values derived from the corpus formulas, and prints a
report followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` also turns on
Spark's event log, then replays the first timed operation twice, untraced
and with spans around each layer's public functions, probes the crawl head
on its own, runs a short slice of the analytics queries (``queries.py``),
and reports the per-layer metrics and the tracing overhead (traced against
untraced replay: the same work on the same warm driver).

Everything the run writes stays under ``.perfbench_work/`` in the
repository root and is removed at exit, except a traced run's spans: one
JSON line per span, with the Spark jobs and task time attributed to it.

``--baseline FILE`` compares with the saved output of an earlier run and
refuses one recorded on another host: every report starts with the host
record (cores, memory, Spark version, master).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from queries import SLICE  # noqa: E402
from stats import tail_percentile, unequal_counters  # noqa: E402

E2E = {
    "setup_s": "s",
    "pages_per_sec": "1/s",
    "cycle_s_p50": "s",
    "store_bytes_per_page": "B",
}
PER_LAYER = {
    "crawl_job.jobs_per_wave": "count",
    "crawl_job.stages_per_wave": "count",
    "crawl_job.wave_s": "s",
    "crawl_job.core_idle_frac": "ratio",
    "crawl_job.driver_gap_s": "s",
    "parse.cards": "count",
    "parse.ok_ratio": "ratio",
    "parse.fallbacks": "count",
    "parse.python_s": "s",
    "parse.kernel_cards_per_sec": "1/s",
    "fetch.attempts": "count",
    "fetch.downloaded": "count",
    "fetch.absent": "count",
    "fetch.errors": "count",
    "fetch.rows_scanned_per_attempt": "ratio",
    **{f"store.commit_s.{t}": "s" for t in (
        "cards", "card_photos", "missing", "seen", "host_metrics",
        "crawl_log", "frontier", "wave_metrics")},
    **{f"store.commit_task_s.{t}": "s" for t in (
        "cards", "card_photos", "missing", "seen", "host_metrics",
        "crawl_log", "frontier", "wave_metrics")},
    "store.bytes_written": "B",
    "store.files_written": "count",
    "store.manifest_reads": "count",
    "frontier.head_s": "s",
    "seen.rows_in": "count",
    "seen.rows_out": "count",
    "seen.filter_upkeep_s": "s",
    "seen.prefilter_applied": "count",
    "seen.head_s": "s",
    "politeness.rows_ranked": "count",
    "politeness.selected": "count",
    "politeness.shuffle_bytes": "B",
    "politeness.hot_refreshes": "count",
    "politeness.head_s": "s",
    "photos.enqueued": "count",
    "photos.image_ok_ratio": "ratio",
    "discovery.probes": "count",
    "discovery.found": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "driver.peak_rss_mb": "MB",
    "driver.cold_s": "s",
    "trace.overhead_frac": "ratio",
    "error_rate": "ratio",
    **{f"query.{q}_s": "s" for q in SLICE},
    **{f"query.{q}_task_s": "s" for q in SLICE},
}
# counters that must repeat exactly between an operation and its replay
EXACT = ("jobs", "stages", "fetch.attempts", "parse.cards")
KERNEL_SAMPLE = 200
KERNEL_SECONDS = 1.0


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_record(spark) -> dict:
    import platform

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


# ------------------------------------------------------------------ session
def start_spark(work: Path, cores: int, event_dir: Path | None):
    """One Spark driver at local[cores]; every temporary path in ``work``."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false"}
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from crawler_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the Spark driver JVM; wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.poll() is None:
            proc.terminate()
        proc.wait(timeout=60)


# -------------------------------------------------------------------- phases
def kernel_rate(w) -> float:
    """parse_card cards/sec on a fixed sample of the corpus's card pages,
    in this process (the parse UDF's kernel without Spark around it)."""
    from pyspark.sql import functions as F

    from crawler_spark.html.pet911 import parse_card

    texts = [r["text"] for r in w.pages.where(F.col("text").isNotNull())
             .where(F.col("mime").startswith("text/html"))
             .orderBy("url").limit(KERNEL_SAMPLE).select("text").collect()]
    if len(texts) < KERNEL_SAMPLE:
        fail(f"parse-kernel sample has {len(texts)} card pages, "
             f"needs {KERNEL_SAMPLE}")
    bad = sum(parse_card(t).get("error") is not None for t in texts)
    w.checks.expect("parse_kernel.sample_parses", bad == 0, f"{bad} errors")
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < KERNEL_SECONDS:
        for t in texts:
            parse_card(t)
        n += len(texts)
    return n / (time.perf_counter() - t0)


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    walls = [o["wall"] for o in ops]
    fetches = sum(o["fetches"] for o in ops)
    return {
        "setup_s": setup_s,
        "pages_per_sec": fetches / sum(walls),
        "cycle_s_p50": statistics.median(walls),
        "store_bytes_per_page": sum(o["store_bytes"] for o in ops) / fetches,
    }


def error_counts(w, ops: list[dict]) -> tuple[int, int]:
    """(attempted, failed): fetch attempts of the timed operations plus
    output checks; failures are fetch errors, parse errors and failed
    checks."""
    attempted = sum(o["fetches"] for o in ops) + w.checks.run
    failed = len(w.checks.failed)
    for o in ops:
        failed += o["parse_errors"] + sum(
            int(s["fetched"]) - int(s["downloaded"]) - int(s["absent"])
            for s in o["stats"])
    return attempted, failed


def run(args) -> tuple[dict, dict | None, list[str], dict]:
    """Set up, run the timed loop (and the traced loop with --trace 1),
    stop Spark; returns (result, per-layer metrics or None, report
    lines, host record)."""
    import queries
    import spans
    import workloads

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    cores = len(os.sched_getaffinity(0))
    event_dir = work / "events" if args.trace else None
    report: list[str] = []
    traced: list[dict] = []
    t0 = time.perf_counter()
    try:
        spark = start_spark(work, cores, event_dir)
        try:
            session_s = time.perf_counter() - t0
            host = host_record(spark)
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            w = workloads.WORKLOADS[args.workload](spark, work, args.seed,
                                                   args.seconds)
            w.build_corpus()
            corpus_s = time.perf_counter() - t0 - session_s
            w.prepare()
            t_warm = time.perf_counter()
            w.warm_up()
            setup_s = time.perf_counter() - t0
            warm_s = setup_s - (t_warm - t0)
            report.append(f"setup: session {session_s:.2f} s, corpus "
                          f"{corpus_s:.2f} s, warm-up {warm_s:.2f} s, rest "
                          f"{setup_s - session_s - corpus_s - warm_s:.2f} s")
            report.append("driver JVM peak RSS during set-up "
                          f"{workloads.jvm_peak_rss_mb(jvm_pid):.0f} MB")

            w.repeats_checked = bool(args.trace)
            workloads.jvm_rss_reset(spark, jvm_pid)
            ops = w.loop()
            e2e = end_to_end(ops, setup_s)
            rss_mb = workloads.jvm_peak_rss_mb(jvm_pid)
            report.append(f"driver JVM peak RSS during the timed ops "
                          f"{rss_mb:.0f} MB")
            report.append(f"timed ops (n={len(ops)}, the median is reported; "
                          "a tail percentile needs 10 samples beyond it) (s): "
                          + ", ".join(f"{o['wall']:.3f}" for o in ops))
            if args.trace:
                import layers

                queries.check_inputs()
                replay = w.replay(len(ops))
                tracer = spans.Tracer(spark.sparkContext, clock=time.time)
                w.install_trace(tracer)
                try:
                    traced = [w.traced_replay(len(ops) + 1, tracer)]
                    head = layers.head_probe(w, tracer)
                    slice_results = queries.run_slice(spark, tracer)
                finally:
                    tracer.uninstall()
                kps = kernel_rate(w)
                queries.check_slice(slice_results, w.checks, work)
                report.append(f"op 0 {ops[0]['wall']:.3f} s; replayed "
                              f"untraced {replay['wall']:.3f} s, traced "
                              f"{traced[0]['wall']:.3f} s")
                report.extend(slice_lines(slice_results))
        finally:
            stop_spark(spark)

        per_layer = None
        if args.trace:
            import layers
            from eventlog import EventLog

            logs = sorted(event_dir.iterdir())
            if len(logs) != 1:
                fail(f"expected one event log in {event_dir}, found {len(logs)}")
            log = EventLog.read_file(logs[0], workloads.PAGES_MARKER)
            per_layer = layer_metrics(w.cores, replay, traced, tracer, head,
                                      log, kps)
            per_layer.update(layers.query_metrics(slice_results, log, tracer))
            per_layer["driver.peak_rss_mb"] = rss_mb
            # what the first timed op pays over the same work on a warm driver
            per_layer["driver.cold_s"] = ops[0]["wall"] - replay["wall"]
            expected = traced[0].get("probes_expected")
            if expected is not None:
                report.append(f"discovery: {per_layer['discovery.probes']:.0f}"
                              f" check-API requests for {expected} distinct "
                              "probes")
                w.checks.expect(f"{w.name}.discovery.probes",
                                per_layer["discovery.probes"] >= expected,
                                f"{per_layer['discovery.probes']} requests "
                                f"for {expected} distinct probes")
            spans_path = work.parent / (
                f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl")
            layers.write_spans(tracer.spans, log, spans_path)
            report.append(f"{len(tracer.spans)} spans written to "
                          f"{spans_path.relative_to(ROOT)}")
            report.append(job_wall_line(traced, log))
            report.append(share_line(per_layer, traced[0]["wall"], w.cores))
            # op 0 and its replays do the same work: their exact counters
            # must repeat
            unequal = unequal_counters(
                [exact_counters(o, log) for o in (ops[0], replay, traced[0])],
                EXACT)
            w.checks.expect("exact_counters_repeat", not unequal, str(unequal))
        attempted, failed = error_counts(
            w, ops + ([replay] + traced if args.trace else []))
        report.append(f"error_rate = {failed / attempted:.6g} ratio "
                      f"({failed} failed of {attempted} attempted)")
        report.extend(f"FAILED CHECK {msg}" for msg in w.checks.failed)
        if per_layer is not None:
            per_layer["error_rate"] = failed / attempted
        result = {"attempted": attempted, "failed": failed, "e2e": e2e}
        return result, per_layer, report, host
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


def job_wall_line(ops: list[dict], log) -> str:
    """Median and tail of Spark job wall times over the given ops."""
    walls = [w for o in ops
             for w in log.window(o["t0"], o["t0"] + o["wall"]).job_walls()]
    line = (f"spark job wall over traced ops: median "
            f"{statistics.median(walls):.3f} s")
    tail = tail_percentile(walls)
    if tail is None:
        return line + f" (n={len(walls)}; too few for a tail percentile)"
    p, v, n = tail
    return line + f", p{p:g} {v:.3f} s (n={n})"


def share_line(m: dict, wall: float, cores: int) -> str:
    """Where the traced operation's time went, as shares."""
    import workloads

    task = m["spark.task_s"]
    commit = sum(m[f"store.commit_task_s.{t}"] for t in workloads.TABLES)
    return (f"traced op {wall:.2f} s: tasks busy "
            f"{task / (wall * cores):.0%} of {cores} cores x wall; of task "
            f"time, parse UDF Python {m['parse.python_s'] / task:.0%}, "
            f"store commits {commit / task:.0%}; no task running "
            f"{m['crawl_job.driver_gap_s'] / wall:.0%} of wall")


def slice_lines(results: list[dict]) -> list[str]:
    """One report line per operator module of the query slice."""
    by_module: dict[str, list[str]] = {}
    for r in results:
        by_module.setdefault(SLICE[r["name"]], []).append(
            f"{r['name']} {r['wall']:.3f} s")
    return [f"query slice, {m}: " + ", ".join(v)
            for m, v in by_module.items()]


def exact_counters(op: dict, log) -> dict:
    tot = log.window(op["t0"], op["t0"] + op["wall"]).totals()
    return {"jobs": tot.jobs, "stages": tot.stages,
            "fetch.attempts": op["fetches"], "parse.cards": op["cards_rows"]}


def layer_metrics(cores, replay, traced, tracer, head, log,
                  kernel_cps) -> dict:
    import layers

    means = layers.rollup(traced, log, tracer, cores)
    shuffle = layers.head_shuffle(head, log)
    out = {k: means[k] for k in PER_LAYER if k in means}
    out.update({
        "parse.kernel_cards_per_sec": kernel_cps,
        "frontier.head_s": head["frontier_s"],
        "seen.rows_in": head["rows_in"],
        "seen.rows_out": head["rows_out"],
        "seen.head_s": head["seen_s"],
        "politeness.rows_ranked": head["rows_ranked"],
        "politeness.selected": head["selected"],
        "politeness.shuffle_bytes": shuffle["head.select"] - shuffle["head.seen"],
        "politeness.head_s": head["select_s"],
        "trace.overhead_frac": traced[0]["wall"] / replay["wall"] - 1,
        # report-only: zero on workloads without discovery
        "discovery.probe_s": means["discovery.probe_s"],
    })
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--baseline", type=Path)
    args = p.parse_args(argv)
    if not (ROOT / "crawler_spark").is_dir():
        fail(f"program sources missing: no crawler_spark/ under {ROOT}")
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"known: {', '.join(workloads.WORKLOADS)}")

    result, per_layer, report, host = run(args)
    metrics, names = (per_layer, PER_LAYER) if args.trace else (
        result["e2e"], E2E)
    missing = [k for k in names if k not in metrics]
    if missing:
        fail(f"metrics without input: {missing}")
    tag = f"perfbench {args.workload}:"
    print(f"{tag} host: {json.dumps(host, sort_keys=True)}")
    for line in report:
        print(f"{tag} {line}")
    for k, v in result["e2e"].items():
        print(f"{tag} {k} = {v:.6g} {E2E[k]}")
    if per_layer is not None:
        for k, v in per_layer.items():
            print(f"{tag} {k} = {v:.6g} {PER_LAYER.get(k, 's')}")
    out = {"correct": result["failed"] == 0,
           "attempted": result["attempted"], "failed": result["failed"],
           "metrics": {k: {"value": metrics[k], "unit": names[k]}
                       for k in names}}
    if args.baseline is not None:
        compare(args.baseline, host, out["metrics"])
    print(json.dumps(out))
    return 0


def compare(path: Path, host: dict, metrics: dict) -> None:
    """Print each metric against the saved output of an earlier run, which
    must carry a host record from this same host; refuse it otherwise."""
    with open(path) as f:
        lines = f.read().strip().splitlines()
    base_host = next((json.loads(line.split(" host: ", 1)[1])
                      for line in lines if " host: " in line), None)
    keys = ("nproc", "mem_gb", "master", "spark")
    if base_host is None or any(base_host.get(k) != host[k] for k in keys):
        fail(f"baseline {path} has no host record of this host "
             f"(this host: { {k: host[k] for k in keys} }); numbers from "
             "different hosts are not comparable")
    base = json.loads(lines[-1])["metrics"]
    for k, m in metrics.items():
        b = (base.get(k) or {}).get("value")
        if b:
            print(f"perfbench: {k} {m['value']:.6g} vs baseline {b:.6g} "
                  f"({m['value'] / b - 1:+.1%})")


if __name__ == "__main__":
    sys.exit(main())
