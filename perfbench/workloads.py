"""The benchmark's workloads: corpus set-up, timed operations and checks.

``bulk_crawl``
    Range-mode crawl (seed -> frontier drained) of ``BULK_CARDS`` synthetic
    card numbers into a fresh snapshot store, in throughput mode (wave
    budget far above the corpus).  One operation = one whole crawl, on a
    driver warmed up by a smaller crawl.
``newcards_poll``
    One ``plans.discovery.newcards_cycle`` poll of a restarted poller: its
    known set is the 50 newest card numbers below the top of a site of
    ``NC_CARDS`` cards, its local store is empty and its driver is fresh.
    The poll finds the next ~175 cards through check-API probes and crawls
    them to a drained frontier in small waves, each streaming the whole
    fetch universe.

The workload seed shifts the window of card numbers; sizes stay fixed.
Set-up (session start, corpus build and persist, the bulk warm-up crawl)
is timed as ``setup_s``.  A traced run replays the first timed operation
twice on fresh stores, untraced and then with spans on, so that both do
the same work on a warm driver.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

import expect
from spans import Tracer

BULK_CARDS = 3_000
WARM_CARDS = 1_000      # the bulk warm-up crawl
NC_CARDS = 20_000       # card numbers the polled site holds
LOOKAHEAD = 200
WAVE_BUDGET_S = 3600 * 1000
PAGES_MARKER = "synthetic-photo"  # text only the corpus plan contains
TABLES = ("cards", "card_photos", "missing", "seen", "host_metrics",
          "crawl_log", "frontier", "wave_metrics")


def window_start(seed: int) -> int:
    """First document id of the seed's card-number window."""
    return (seed % 1000) * 1000


# ------------------------------------------------------------------ helpers
def tree_size(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def manifest(store: Path, table: str) -> list[dict]:
    """Snapshot lines of a store table, read directly from the manifest
    file (not through SnapshotStore, whose reads the trace counts)."""
    p = store / table / "_snapshots.json"
    if not p.exists():
        return []
    with p.open() as f:
        return [json.loads(line) for line in f if line.strip()]


def latest_ids(store: Path) -> dict[str, int]:
    return {t: (manifest(store, t) or [{"snapshot": -1}])[-1]["snapshot"]
            for t in TABLES}


def read_dirs(dirs: list[Path], columns: list[str]):
    """Rows of parquet snapshot dirs as a list of dicts (pyarrow, no Spark
    job, so checks do not disturb the job counts)."""
    import pyarrow.parquet as pq

    rows = []
    for d in dirs:
        for f in sorted(d.glob("*.parquet")):
            rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def table_rows(store: Path, table: str, columns: list[str], after: int = -1):
    """Rows of the table's latest snapshot written after snapshot ``after``."""
    snaps = manifest(store, table)
    if not snaps:
        return []
    live = snaps[-1]["dirs"]
    dirs = [store / table / d for d in live if int(d.split("-")[1]) > after]
    return read_dirs(dirs, columns)


def op_outputs(store: Path, before: dict[str, int]) -> dict:
    """Facts about what one operation wrote, for the parse and photo
    layers: card rows, parse errors, photo rows, valid images, fallbacks."""
    cards = table_rows(store, "cards", ["error"], after=before["cards"])
    photos = table_rows(store, "card_photos", ["image_ok"],
                        after=before["card_photos"])
    metrics = table_rows(store, "wave_metrics", ["parse_fallbacks"],
                         after=before["wave_metrics"])
    return {
        "cards_rows": len(cards),
        "parse_errors": sum(r["error"] is not None for r in cards),
        "photo_rows": len(photos),
        "images_ok": sum(bool(r["image_ok"]) for r in photos),
        "parse_fallbacks": sum(int(r["parse_fallbacks"] or 0) for r in metrics),
    }


class Checks:
    """Output checks; every failed check counts as a failed operation."""

    def __init__(self):
        self.run = 0
        self.failed: list[str] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        self.run += 1
        if not ok:
            self.failed.append(f"{name}: {detail}" if detail else name)


def jvm_rss_reset(spark, pid: int) -> None:
    """Collect garbage in the Spark driver JVM, then reset its peak-RSS
    mark so the mark covers only what follows."""
    spark._jvm.java.lang.System.gc()
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # kernel without the reset: the mark then includes set-up


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# ----------------------------------------------------------------- workload
class Workload:
    """Corpus set-up, the timed loop, tracing hooks and output checks
    common to both workloads.  Subclasses choose the corpus window and
    define the set-up, the warm-up and one timed operation."""

    name = ""

    def __init__(self, spark, work: Path, seed: int, seconds: float):
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.work = work
        self.seconds = seconds
        self.first_doc = window_start(seed)
        self.checks = Checks()
        self.pages = None
        self.last_store: Path | None = None
        # set in traced runs, which replay the first operation: then the
        # order-insensitive hash of their outputs must repeat
        self.repeats_checked = False
        self.robots = spark.createDataFrame(
            [("pet911.ru", "/admin", 1), ("cdn.pet911.ru", "/admin", 1)],
            "host string, disallow_prefix string, crawl_delay_ms int",
        )

    # ---- corpus
    def corpus_docs(self) -> tuple[int, int]:
        raise NotImplementedError

    def checkapi_docs(self) -> tuple[int, int] | None:
        return None

    def _docs(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        from crawler_spark.sources.pages import synthetic_docs_from_range

        return synthetic_docs_from_range(self.spark, hi).where(
            F.col("doc_id") >= lo)

    def build_corpus(self) -> None:
        """Build the fetch universe and persist it (materialized by a count)."""
        from crawler_spark.sources.pages import (
            build_pages, synthetic_checkapi_pages,
        )

        pages = build_pages(self.spark, "", include_fixtures=False,
                            docs_df=self._docs(*self.corpus_docs()))
        ck = self.checkapi_docs()
        if ck is not None:
            pages = pages.unionByName(
                synthetic_checkapi_pages(self.spark, "", self._docs(*ck)))
        self.pages = pages.repartition(self.cores, "url").persist()
        self.pages.count()

    def crawl_job(self, store: Path):
        from crawler_spark.plans.crawl_job import CrawlJob

        return CrawlJob(self.spark, str(store), self.pages,
                        wave_seconds=WAVE_BUDGET_S, robots_df=self.robots,
                        use_bloom=True, salted=True)

    # ---- the timed loop
    def prepare(self) -> None:
        """Set-up after the corpus."""

    def warm_up(self) -> None:
        """Work on a throwaway store that brings the driver to steady state
        before the timed operations (checked, counted in set-up)."""

    def op(self, i: int) -> dict:
        """One timed operation; returns at least wall, fetches, store_bytes."""
        raise NotImplementedError

    def replay(self, i: int) -> dict:
        """The work of operation 0 again, as operation ``i``."""
        return self.op(i)

    def loop(self) -> list[dict]:
        """Whole timed operations until ``seconds`` have passed (at least
        one)."""
        ops, t_end = [], time.perf_counter() + self.seconds
        while not ops or (time.perf_counter() < t_end
                          and self.can_run(len(ops))):
            ops.append(self.op(len(ops)))
        return ops

    def traced_replay(self, i: int, tracer: Tracer) -> dict:
        """``replay(i)`` with the call counts the tracer took during it."""
        c0 = dict(tracer.counts)
        r = self.replay(i)
        r["counts"] = {k: v - c0.get(k, 0) for k, v in tracer.counts.items()}
        return r

    def can_run(self, i: int) -> bool:
        return True

    def outputs(self, store: Path, before: dict[str, int]) -> dict:
        """``op_outputs``, checking that the parse UDF never fell back."""
        out = op_outputs(store, before)
        self.checks.expect(f"{self.name}.parse_fallbacks",
                           out["parse_fallbacks"] == 0,
                           str(out["parse_fallbacks"]))
        return out

    # ---- tracing
    def install_trace(self, tracer: Tracer) -> None:
        from crawler_spark.operators import politeness, seen
        from crawler_spark.plans import crawl_job, discovery
        from crawler_spark.sources.store import SnapshotStore

        CrawlJob = crawl_job.CrawlJob

        def wave_result(span, args, out):
            span.attrs["stats"] = out

        tracer.propagate_into_pools()
        # commit(self, table, df, ...); read_or_empty(self, spark, table, ...)
        tracer.wrap(SnapshotStore, "commit", "store",
                    suffix=lambda a, kw: a[1])
        tracer.wrap(SnapshotStore, "read_or_empty", "store",
                    suffix=lambda a, kw: a[2])
        tracer.count_calls(SnapshotStore, "snapshots", "manifest_reads")
        tracer.wrap(CrawlJob, "run_wave", "crawl_job", on_result=wave_result,
                    group=True)
        tracer.wrap(CrawlJob, "crawl", "crawl_job")
        tracer.wrap(CrawlJob, "seed_range", "crawl_job")
        tracer.wrap(CrawlJob, "enqueue_frontier", "crawl_job")
        tracer.wrap(CrawlJob, "_filter_add", "seen", name="seen.fold")
        for mod in (crawl_job, politeness):
            tracer.wrap(mod, "hot_host_list", "politeness")
            tracer.wrap(mod, "select_wave_salted", "politeness")
        for mod in (crawl_job, seen):
            tracer.wrap(mod, "filter_unseen", "seen")
            tracer.wrap(mod, "filter_not_missing", "seen")
            tracer.wrap(mod, "filter_unseen_with_bloom", "seen",
                        name="seen.prefilter")
            tracer.wrap(mod, "filter_unseen_with_bloom_sharded", "seen",
                        name="seen.prefilter")
        tracer.wrap(discovery, "newcards_cycle", "discovery")
        tracer.wrap(discovery, "get_new_cards_from_check_api", "discovery",
                    name="discovery.check_api")
        # single check-API searches (the existence check of a known card);
        # the lookahead probes are rows of a spark.range table, counted
        # from the event log
        tracer.count_calls(discovery, "search_card_urls_by_substring",
                           "check_api_searches")

    # ---- checks shared by both crawls
    def check_range_crawl(self, store: Path, exp: expect.Crawl,
                          stats: list[dict], label: str) -> None:
        ck = self.checks
        got = {k: sum(int(s[k] or 0) for s in stats)
               for k in ("fetched", "downloaded", "absent", "parsed_ok",
                         "enqueued_photos")}
        ck.expect(f"{label}.fetches", got["fetched"] == exp.fetches,
                  f"{got['fetched']} != {exp.fetches}")
        ck.expect(f"{label}.downloaded", got["downloaded"] == exp.downloaded,
                  f"{got['downloaded']} != {exp.downloaded}")
        ck.expect(f"{label}.parsed_ok", got["parsed_ok"] == len(exp.cards),
                  f"{got['parsed_ok']} != {len(exp.cards)}")
        ck.expect(f"{label}.photos_enqueued",
                  got["enqueued_photos"] == exp.photos_enqueued,
                  f"{got['enqueued_photos']} != {exp.photos_enqueued}")
        rows = table_rows(store, "crawl_log",
                          ["wave", "seq", "resource_type", "status"])
        log = {(r["wave"], r["seq"], r["resource_type"], r["status"])
               for r in rows}
        ck.expect(f"{label}.crawl_order",
                  log == exp.log and len(rows) == len(exp.log),
                  f"{len(log ^ exp.log)} (wave, seq) rows differ, "
                  f"{len(rows)} rows")
        cards = table_rows(store, "cards", ["id", "error"])
        ok_ids = {r["id"] for r in cards if r["error"] is None}
        ck.expect(f"{label}.cards", ok_ids == exp.cards and len(cards) == len(exp.cards),
                  f"{len(ok_ids ^ exp.cards)} ids differ, {len(cards)} rows")
        photos = table_rows(store, "card_photos", ["card_id", "url", "image_ok"])
        ck.expect(f"{label}.card_photos",
                  {(r["card_id"], r["url"]) for r in photos} == exp.photos
                  and all(r["image_ok"] for r in photos)
                  and len(photos) == len(exp.photos),
                  f"{len(photos)} rows vs {len(exp.photos)}")
        self.check_seen_set(store, label)

    def check_seen_set(self, store: Path, label: str) -> None:
        """Final URL-seen set = seen ∪ missing: every attempted id is in
        exactly one of them."""
        attempted = {r["id"] for r in table_rows(store, "crawl_log", ["id"])}
        seen_ids = [r["id"] for r in table_rows(store, "seen", ["id"])]
        missing = [r["id"] for r in table_rows(store, "missing", ["id"])]
        s, m = set(seen_ids), set(missing)
        self.checks.expect(
            f"{label}.seen_set",
            s | m == attempted and not (s & m)
            and len(s) == len(seen_ids) and len(m) == len(missing),
            f"|seen|={len(s)} |missing|={len(m)} |attempted|={len(attempted)}")

    def row_hash(self, store: Path) -> tuple:
        """Order-insensitive hash of every column of cards and card_photos."""
        from pyspark.sql import functions as F

        out = []
        for t in ("cards", "card_photos"):
            snaps = manifest(store, t)
            dirs = [str(store / t / d) for d in snaps[-1]["dirs"]]
            df = self.spark.read.parquet(*dirs)
            row = df.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
            ).collect()[0]
            out.append((t, row[0], str(row[1])))
        return tuple(out)


class BulkCrawl(Workload):
    name = "bulk_crawl"

    def corpus_docs(self):
        return self.first_doc, self.first_doc + BULK_CARDS

    def prepare(self) -> None:
        self.expected = expect.range_crawl(self.first_doc, BULK_CARDS)
        self.hashes = set()

    def warm_up(self) -> None:
        """A crawl of the window's first WARM_CARDS numbers: the driver
        compiles the crawl's plans and starts its Python workers, which
        otherwise double the first crawl's time (on a 4-core host, after a
        200-card warm-up the first timed crawl still ran ~30% slower than
        the second)."""
        store = self.work / "warm-up"
        job = self.crawl_job(store)
        first = expect.NUM_BASE + self.first_doc
        job.seed_range(first, first + WARM_CARDS - 1)
        stats = job.crawl(max_waves=4)
        self.check_range_crawl(
            store, expect.range_crawl(self.first_doc, WARM_CARDS), stats,
            f"{self.name}.warm_up")
        shutil.rmtree(store)

    def op(self, i: int) -> dict:
        if self.last_store is not None:  # keep only the newest crawl
            shutil.rmtree(self.last_store, ignore_errors=True)
        store = self.last_store = self.work / f"bulk-{i}"
        job = self.crawl_job(store)
        first = expect.NUM_BASE + self.first_doc
        t0, e0 = time.perf_counter(), time.time()
        job.seed_range(first, first + BULK_CARDS - 1)
        stats = job.crawl(max_waves=4)
        wall = time.perf_counter() - t0
        size, files = tree_size(store)
        fetches = sum(int(s["fetched"]) for s in stats)
        out = {"wall": wall, "t0": e0, "fetches": fetches, "store_bytes": size,
               "store_files": files, "stats": stats,
               **self.outputs(store, {t: -1 for t in TABLES})}
        self.check_range_crawl(store, self.expected, stats, self.name)
        if self.repeats_checked:
            self.hashes.add(self.row_hash(store))
            self.checks.expect(f"{self.name}.row_hash_repeats",
                               len(self.hashes) == 1, str(self.hashes))
        return out


class NewcardsPoll(Workload):
    name = "newcards_poll"

    def corpus_end(self) -> int:
        return self.first_doc + NC_CARDS

    def known_end(self) -> int:
        """Document id above every card the poller already knows."""
        return self.corpus_end() - 2 * LOOKAHEAD

    def corpus_docs(self):
        return self.first_doc, self.corpus_end()

    def checkapi_docs(self):
        # the check-API generator is a theta join sized for tests: its
        # pages cover only the numbers the polls probe, from a whole decade
        # below them, so that every probed prefix page lists exactly the
        # corpus cards it covers
        return (self.known_end() - 100) // 10 * 10, self.corpus_end()

    def known_below(self, end_doc: int) -> set:
        """The known set of a poller that has every card below ``end_doc``:
        its 50 newest card numbers."""
        return expect.top_known(
            expect.NUM_BASE + d for d in range(end_doc - 100, end_doc)
            if expect.card_exists(d))

    def prepare(self) -> None:
        # the poller restarts with the known set (the 50 newest cards) it
        # recovered from its last session, on an empty local store.  No
        # warm-up: one costs a whole cold poll (~30 s on a 4-core host,
        # even for a poll of 40 fetches), which the run budget has no
        # room for next to the bulk warm-up
        self.known = self.known0 = self.known_below(self.known_end())
        self.store = self.last_store = self.work / "store"
        self.job = self.crawl_job(self.store)

    def can_run(self, i: int) -> bool:
        # a second poll would run on a warm driver: cycle_s_p50 stays the
        # restarted poller's first poll however fast it gets
        return i == 0

    def replay(self, i: int) -> dict:
        """Poll 0 again: the first known set, on a fresh empty store."""
        self.store = self.last_store = self.work / f"store-{i}"
        self.job = self.crawl_job(self.store)
        self.known = self.known0
        return self.op(i)

    def op(self, i: int) -> dict:
        from crawler_spark.plans import discovery

        exp, exp_known = expect.poll(self.known, LOOKAHEAD, self.corpus_end())
        probes = expect.probe_count(self.known, LOOKAHEAD)
        before = latest_ids(self.store)
        size0, files0 = tree_size(self.store)
        t0, e0 = time.perf_counter(), time.time()
        known, stats = discovery.newcards_cycle(self.job, set(self.known),
                                                lookahead=LOOKAHEAD)
        wall = time.perf_counter() - t0
        size1, files1 = tree_size(self.store)
        fetches = sum(int(s["fetched"]) for s in stats)
        ck, label = self.checks, f"{self.name}.poll"
        ck.expect(f"{label}.fetches", fetches == exp.fetches,
                  f"{fetches} != {exp.fetches}")
        new_cards = {r["id"] for r in table_rows(
            self.store, "cards", ["id"], after=before["cards"])}
        ck.expect(f"{label}.found", new_cards == exp.cards,
                  f"{len(new_cards ^ exp.cards)} ids differ")
        photos = {(r["card_id"], r["url"]) for r in table_rows(
            self.store, "card_photos", ["card_id", "url"],
            after=before["card_photos"])}
        ck.expect(f"{label}.card_photos", photos == exp.photos,
                  f"{len(photos ^ exp.photos)} rows differ")
        ck.expect(f"{label}.known_set_fold", known == exp_known,
                  f"{sorted(known ^ exp_known)[:5]}")
        self.check_seen_set(self.store, label)
        self.known = known
        return {"wall": wall, "t0": e0, "fetches": fetches,
                "store_bytes": size1 - size0, "store_files": files1 - files0,
                "stats": stats, "found": len(new_cards),
                "probes_expected": probes,
                **self.outputs(self.store, before)}


WORKLOADS = {w.name: w for w in (BulkCrawl, NewcardsPoll)}
