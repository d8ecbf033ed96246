"""A short slice of the analytics queries, for the traced run.

One query per operator module, read from ``__spark_entry__.queries()`` and
run on the small fixed tables in ``data/sf0.001`` (a copy of the repo's
sf0.001 test tables, so the benchmark reads nothing outside its checkout).
Each query runs once inside its own span, after the crawl has warmed the
driver; its result is then compared, outside any timed interval, with the
query's DuckDB ``oracle_sql()`` twin by ``tools/oracle_check.py``'s
order-insensitive hash.
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data" / "sf0.001"

# query -> the operator module (or plain Spark SQL) it exercises
SLICE = {
    "seen_anti_join": "sql",
    "sessionize_gaps": "sql",
    "url_redirect_resolve": "graph",
    "emb_sq8_topk": "similarity",
    "doc_winnow_fingerprints": "dedup",
    "page_table_extract": "web",
    "corpus_context_pack": "corpus",
    "robots_wildcard_match": "robots",
    "corpus_hll_distinct": "sketches",
}


def check_inputs() -> None:
    from tools.oracle_check import TABLES

    missing = [t for t in TABLES if not (DATA / f"{t}.parquet").is_file()]
    if missing:
        raise FileNotFoundError(f"query tables missing under {DATA}: {missing}")


def run_slice(spark, tracer) -> list[dict]:
    """Run every slice query once in a ``query.<name>`` span; returns one
    dict per query with its wall time, span id, rows and columns, or the
    error it raised (a failed check, not a crash of the run)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    out = []
    for name in SLICE:
        def collect(fn=queries[name]):
            df = fn(spark, str(DATA))
            return [tuple(r) for r in df.collect()], list(df.columns)

        rows = cols = error = None
        t0 = time.perf_counter()
        try:
            rows, cols = tracer.call(f"query.{name}", "query", collect)
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            error = traceback.format_exc(limit=3)
            print(f"perfbench: query {name} raised {e!r}", file=sys.stderr)
        span = next(s for s in reversed(tracer.spans)
                    if s.name == f"query.{name}")
        out.append({"name": name, "wall": time.perf_counter() - t0,
                    "span": span.id, "rows": rows, "cols": cols,
                    "error": error})
    return out


def check_slice(results: list[dict], checks, work: Path) -> None:
    """Compare each query's rows with its DuckDB oracle twin: row count,
    column names and order-insensitive value hash."""
    import duckdb

    import __spark_entry__ as entry
    from tools.oracle_check import TABLES, value_hash

    oracles = entry.oracle_sql()
    spill = work / "duckdb"
    spill.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{spill}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
        for r in results:
            name = f"query.{r['name']}.oracle"
            if r["error"] is not None:
                checks.expect(name, False, f"Spark raised: {r['error']}")
                continue
            try:
                res = con.execute(oracles[r["name"]])
            except duckdb.Error as e:
                checks.expect(name, False, f"DuckDB raised: {e}")
                continue
            drows, dcols = res.fetchall(), [d[0] for d in res.description]
            ok = (len(r["rows"]) == len(drows)
                  and sorted(r["cols"]) == sorted(dcols)
                  and value_hash(r["rows"], r["cols"]) == value_hash(drows, dcols))
            checks.expect(name, ok,
                          f"{len(r['rows'])} rows vs {len(drows)} (DuckDB)")
    finally:
        con.close()
