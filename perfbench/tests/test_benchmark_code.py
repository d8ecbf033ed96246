"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import expect  # noqa: E402
from eventlog import EventLog, range_accumulators  # noqa: E402
from spans import Span, Tracer, self_times, union_length  # noqa: E402
from stats import (  # noqa: E402
    percentile, tail_percentile, unequal_counters,
)

SMALL_LOG = HERE / "data" / "small_eventlog.jsonl"


# ---------------------------------------------------------------- percentiles
def test_tail_percentile_needs_ten_samples_beyond():
    # 20 samples: p90 leaves 2 beyond, p75 leaves 5 -> no percentile qualifies
    assert tail_percentile(list(range(20))) is None
    # 40 samples: p75 leaves exactly 10 beyond; p90 only 4
    assert tail_percentile(list(range(1, 41))) == (75, 30, 40)


def test_tail_percentile_picks_highest_qualifying():
    xs = list(range(1, 1001))
    # p99 leaves 10 samples beyond it, p99.9 leaves 1
    assert tail_percentile(xs) == (99, 990, 1000)
    xs = list(range(1, 201))
    assert tail_percentile(xs) == (95, 190, 200)


def test_percentile_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile([5, 1, 3, 2, 4], 100) == 5
    with pytest.raises(ValueError):
        percentile([], 50)


# -------------------------------------------------------------------- spans
def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([]) == 0


def _span(sid, parent, start, end):
    return Span(sid, f"s{sid}", "x", parent, None, start, end)


def test_self_time_unions_concurrent_children():
    # parent 0..10; two children overlapping each other (2..6 and 4..8) and
    # one running past the parent's end (9..12): covered = 2..8 and 9..10
    spans = [_span(1, None, 0, 10), _span(2, 1, 2, 6), _span(3, 1, 4, 8),
             _span(4, 1, 9, 12), _span(5, 2, 3, 4)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 7)
    assert st[2] == pytest.approx(4 - 1)   # its own child 3..4
    assert st[3] == pytest.approx(4)
    assert st[5] == pytest.approx(1)


class FakeContext:
    """Stands in for SparkContext's thread-local job description."""

    def __init__(self):
        import threading

        self.local = threading.local()
        self.labels = []

    def getLocalProperty(self, key):
        return getattr(self.local, "desc", None)

    def setLocalProperty(self, key, value):
        self.local.desc = value
        if value is not None:
            self.labels.append(value)


def _work(sc, x):
    return x, sc.getLocalProperty("spark.job.description")


Layer = SimpleNamespace(work=_work)   # stands in for a program module


def test_tracer_records_parents_labels_and_restores():
    sc = FakeContext()
    sc.setLocalProperty("spark.job.description", "outer label")
    tracer = Tracer(sc)

    def outer(pool):
        return pool.submit(Layer.work, sc, 1).result()

    submit = ThreadPoolExecutor.submit
    with ThreadPoolExecutor(2) as pool:
        tracer.propagate_into_pools()
        tracer.wrap(Layer, "work", "inner")
        try:
            x, seen_label = tracer.call("outer", "top", outer, pool)
        finally:
            tracer.uninstall()
    assert x == 1
    by_name = {s.name: s for s in tracer.spans}
    inner, top = by_name["inner.work"], by_name["outer"]
    assert inner.parent == top.id            # parent crossed the pool thread
    assert inner.group is None and top.group is None
    assert seen_label == f"perfbench span={inner.id}"
    assert sc.getLocalProperty("spark.job.description") == "outer label"
    assert ThreadPoolExecutor.submit is submit      # uninstalled
    assert Layer.work is _work


def test_group_span_id_is_shared_below_it():
    tracer = Tracer()

    def wave():
        return tracer.call("child", "x", lambda: tracer.call(
            "grandchild", "x", lambda: None))

    tracer.call("wave", "x", wave, group=True)
    tracer.call("outside", "x", lambda: None)
    by = {s.name: s for s in tracer.spans}
    assert by["child"].group == by["grandchild"].group == by["wave"].id
    assert by["outside"].group is None


def test_count_calls_counts_and_uninstalls():
    tracer = Tracer()
    tracer.count_calls(Layer, "work", "work_calls")
    Layer.work(FakeContext(), 0)
    Layer.work(FakeContext(), 0)
    tracer.uninstall()
    Layer.work(FakeContext(), 0)
    assert tracer.counts["work_calls"] == 2


# ---------------------------------------------------------------- event log
def test_event_log_attributes_jobs_and_tasks_to_spans():
    """The fixture holds three jobs recorded from a crawl's log: job 1
    (unlabelled; scans the cached pages corpus), job 3 (labelled span 7)
    and job 26 (a parse-UDF job, relabelled span 9 for the test)."""
    log = EventLog.read_file(SMALL_LOG, scan_marker="synthetic-photo")
    by = log.by_span()
    assert set(by) == {None, 7, 9}
    assert by[7].jobs == 1 and by[7].stages == 1
    assert by[7].task_s == pytest.approx((15 + 18 + 13 + 23) / 1000)
    assert by[7].shuffle_write == 4 * 59
    assert by[None].scan_rows == 65 + 64 + 64 + 64 + 90 + 89 + 86 + 86
    assert by[None].gc_s == pytest.approx(0.040)
    run_ms = 2570 + 2562 + 2573 + 181 + 2835 + 287 + 361 + 230
    py_ms = 2200 + 2142 + 2187 + 160 + 2581 + 274 + 353 + 221
    assert by[9].task_s == pytest.approx(run_ms / 1000)
    assert by[9].python_s == pytest.approx(py_ms / 1000)
    # job 26's scan is of another cached relation than the marked corpus
    assert by[9].scan_rows == 0
    tot = log.totals()
    assert tot.jobs == 3
    assert tot.task_s == pytest.approx(sum(b.task_s for b in by.values()))


def test_range_rows_skip_cached_relations():
    """Rows of spark.range plans count only where the plan runs: a Range
    inside a cached relation (the corpus) does not run again."""
    def node(name, acc=None, children=()):
        metrics = [] if acc is None else [
            {"name": "number of output rows", "accumulatorId": acc}]
        return {"nodeName": name, "metrics": metrics,
                "children": list(children)}

    plan = node("Project", 1, [
        node("Range", 2),
        node("InMemoryTableScan", 3, [node("Range", 4)]),
    ])
    assert range_accumulators(plan) == {2}
    # the recorded log's only Range nodes are inside the cached corpus
    log = EventLog.read_file(SMALL_LOG, scan_marker="synthetic-photo")
    assert log.totals().range_rows == 0


def test_job_walls_run_from_submission_to_last_task():
    log = EventLog.read_file(SMALL_LOG)
    walls = sorted(log.job_walls())
    assert len(walls) == 3 and all(w > 0 for w in walls)


def test_event_log_window_selects_by_submission_time():
    log = EventLog.read_file(SMALL_LOG)
    submits = sorted(j.submit for j in log.jobs.values())
    sub = log.window(submits[1], submits[2] + 1)
    assert len(sub.jobs) == 2
    assert all(t.job in sub.jobs for t in sub.tasks)


# -------------------------------------------------------------- exact counts
def test_unequal_counters_flags_only_differing_keys():
    samples = [{"jobs": 96, "attempts": 65713, "t": 1.0},
               {"jobs": 96, "attempts": 65713, "t": 1.1}]
    assert unequal_counters(samples, ("jobs", "attempts")) == {}
    samples.append({"jobs": 97, "attempts": 65713})
    assert unequal_counters(samples, ("jobs", "attempts")) == {
        "jobs": [96, 96, 97]}


# ------------------------------------------------------------ expectations
def test_range_crawl_matches_recorded_20k_crawl():
    # a 20k-card crawl of the corpus makes 65,713 fetches and parses
    # 17,142 cards (BENCH.md's 20k reference point)
    c = expect.range_crawl(0, 20_000)
    assert c.fetches == 65_713
    assert len(c.cards) == 17_142
    assert c.downloaded + c.absent == c.fetches
    assert len(c.log) == c.fetches


def test_poll_finds_cards_above_known_and_folds_top_50():
    known = expect.top_known({expect.NUM_BASE + d
                              for d in range(1000) if expect.card_exists(d)})
    crawl, new_known = expect.poll(known, 200, 5000)
    assert crawl.nums and min(crawl.nums) > max(known)
    assert len(new_known) == expect.KNOWN_SET_SIZE
    assert max(new_known) == max(crawl.nums)
    assert expect.probe_count(known, 200) == 1 + 21


def test_slice_check_fails_a_raising_or_differing_query(tmp_path):
    import duckdb

    import __spark_entry__ as entry
    import queries
    from workloads import Checks

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{queries.DATA / t}.parquet'")
    res = con.execute(entry.oracle_sql()["seen_anti_join"])
    rows, cols = res.fetchall(), [d[0] for d in res.description]
    con.close()
    results = [
        {"name": "seen_anti_join", "rows": rows[::-1], "cols": cols,
         "error": None},
        {"name": "seen_anti_join", "rows": rows[1:], "cols": cols,
         "error": None},
        {"name": "sessionize_gaps", "rows": None, "cols": None,
         "error": "AnalysisException"},
    ]
    checks = Checks()
    queries.check_slice(results, checks, tmp_path)
    assert checks.run == 3
    assert [f.split(":")[0] for f in checks.failed] == [
        "query.seen_anti_join.oracle", "query.sessionize_gaps.oracle"]


def test_metric_lists_match_benchmark_json():
    import run

    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_baseline_from_another_host_is_refused(tmp_path, capsys):
    import run

    host = {"nproc": 4, "mem_gb": 15.7, "master": "local[4]",
            "spark": "4.1.2"}
    # a BENCH_rNN.json-style record: 32 cores, no host line
    base = tmp_path / "base.txt"
    base.write_text(json.dumps({"metric": "bench_total", "cpus": 32}) + "\n")
    with pytest.raises(SystemExit):
        run.compare(base, host, {})
    base.write_text(
        "perfbench bulk_crawl: host: " + json.dumps(dict(host, nproc=32))
        + "\n" + json.dumps({"metrics": {"x": {"value": 2.0}}}) + "\n")
    with pytest.raises(SystemExit):
        run.compare(base, host, {})
    base.write_text(
        "perfbench bulk_crawl: host: " + json.dumps(host) + "\n"
        + json.dumps({"metrics": {"x": {"value": 2.0}}}) + "\n")
    run.compare(base, host, {"x": {"value": 1.0, "unit": "s"}})
    assert "-50.0%" in capsys.readouterr().out
