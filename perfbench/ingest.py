"""``ingest``: the governed ingestion job, one candidate batch at a time.

Per batch: ``RunLedger`` create → running, ``pipelines.scan.run_scan``,
then ``DeltaLogTable.upsert`` on the main table, ``.append`` on the
review queue and ``.insert_if_absent`` on the lineage links, each commit
followed by a log-replay snapshot (``active_files``) and one
read-your-writes dashboard query on the table just written; then a
compaction of the main table and a checkpoint of every table; ledger →
completed. (The merge radar, ``pipelines.merge.radar_coverage``, is
timed in ``browse`` through ``x2_radar_coverage``.) The first two
batches belong to set-up (the first creates the tables, the second is the
first call of every write path); the measured window runs whole batches. A run holds only a few batches, so the checkpoint is taken once
per batch and table rather than at the Delta default of every 10 commits
(called explicitly, so it can be timed).

Batches carry in-batch duplicate URLs, re-crawls of earlier batches (so
every upsert rewrites files), a tier mix, disallowed domains and rows
outside the date window. A pandas replay of the generated parquet —
written from the routing rules, not from the package — gives the
expected table contents after every batch.
"""

from __future__ import annotations

import concurrent.futures as cf
import datetime as dt
import hashlib
import json
import os
import re
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

import gen
import metrics
import tracing

BATCH = 1000
#: batches run in set-up: batch 0 creates the tables, batch 1 takes the
#: upsert / insert / compact paths through their first (compiling) call
BOOTSTRAP = 2
MAX_BATCHES = 8
PREP_REPEATS = 3
ALLOWED = ("europa.eu", "unece.org", "nhtsa.gov", "example.com")
LINK_KEYS = ["from_type", "from_id", "to_type", "to_id", "relation"]


# -- the independent replay ---------------------------------------------------


def canonical_url(url: str) -> str:
    url = re.sub(r"utm_[^&#]*&?", "", url)
    url = re.sub(r"[?&]+(#|$)", r"\1", url)
    return re.sub(r"/$", "", url)


def _confidence(doc_id: str) -> Decimal:
    raw = int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16) / 65536.0 / 2 + 0.5
    return Decimal(raw).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)


def _allowed(url: str) -> bool:
    m = re.match(r"https?://([^/?#]+)", url)
    host = re.sub(r"^www\.", "", m.group(1) if m else "")
    return any(d in host for d in ALLOWED)


class Replay:
    """Expected main / review / links state after each batch."""

    def __init__(self) -> None:
        self.main: dict[str, tuple[str, str, int]] = {}  # item id → (summary, priority, batch)
        self.review = 0
        self.links: set[tuple] = set()

    def apply(self, path: str, batch: int, run_id: str, today: dt.date) -> int:
        """Fold one batch in; returns the number of rows routed to main."""
        t = pq.read_table(path).to_pandas().sort_values("arrival_seq")
        t["canon"] = [canonical_url(u) for u in t["url"]]
        docs = t.drop_duplicates("canon", keep="first")
        cutoff = today - dt.timedelta(days=gen.DAYS_WINDOW)
        docs = docs[[d is None or d != d or d >= cutoff for d in docs["published_date"]]]
        n_main = 0
        for row in docs.itertuples():
            item = f"item-of-{row.id}"
            self.links.add(("Run", run_id, "SourceDocument", row.id, "produced"))
            valid = _allowed(row.url) and _confidence(row.id) >= Decimal("0.7")
            if valid and row.source_profile_id == "profile_0":
                n_main += 1
                content = row.content or ""
                prio = "P0" if "urgent" in content.lower() else "P2"
                self.main[item] = (content[:400], prio, batch)
                self.links.add(("Run", run_id, "RegulationItem", item, "produced"))
                self.links.add(("SourceDocument", row.id, "RegulationItem", item, "extracted_from"))
            else:
                self.review += 1
                self.links.add(("Run", run_id, "RegulationItem", item, "queued_for_review"))
        return n_main

    def priorities(self) -> Counter:
        return Counter(p for _, p, _ in self.main.values())

    def matches(self, seen: dict) -> bool:
        """What a batch's reads saw equals the replayed state."""
        return (
            seen["main"] == dict(self.priorities())
            and seen["review"] == self.review
            and seen["links"] == len(self.links)
        )


# -- helpers -----------------------------------------------------------------


def _tree_bytes(roots: list[str]) -> int:
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(d, f))
                except OSError:
                    pass
    return total


def _num_records(add: dict) -> int:
    stats = add.get("stats")
    if isinstance(stats, str):
        stats = json.loads(stats or "{}")
    return int((stats or {}).get("numRecords", 0))


def run(h) -> dict:
    from pyspark.sql import functions as F

    from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
    from regpulse_lakehouse_spark.pipelines.scan import run_scan
    from regpulse_lakehouse_spark.streaming.ledger import RunLedger

    batch_dir = h.data_dir("batches")
    prep = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        paths = gen.write_ingest_batches(batch_dir, h.seed, MAX_BATCHES, BATCH)
        prep.append(time.perf_counter() - t0)
    t_setup = time.perf_counter()
    spark = h.start_session()
    root = h.data_dir("tables")
    tables = {
        name: DeltaLogTable(spark, os.path.join(root, name), checkpoint_interval=None)
        for name in ("main", "review", "links")
    }
    ledger = RunLedger(spark, os.path.join(root, "ledger"))
    replay = Replay()
    today = dt.datetime.now(dt.timezone.utc).date()
    reads: list[float] = []
    rewritten: list[float] = []
    n_files: list[int] = []
    main_files: dict[str, dict] = {}

    def commit(name: str, op: str, fn) -> list[dict]:
        """One commit and the snapshot after it."""
        table = tables[name]
        with h.span(f"operators.delta_log.{op}"):
            fn(table)
        with h.span("operators.delta_log.snapshot"):
            files = table.active_files()
        return files

    def read_back(name: str, col: str) -> dict:
        t0 = time.perf_counter()
        with h.span("ingest.read"):
            got = {r[0]: r[1] for r in tables[name].read().groupBy(col).count().collect()}
        reads.append(time.perf_counter() - t0)
        return got

    def ledger_run() -> str:
        with h.span("streaming.ledger.create_run"):
            run_id = ledger.create_run("scan", "EU", gen.DAYS_WINDOW)
        with h.span("streaming.ledger.transition"):
            ledger.transition(run_id, "running")
        return run_id

    def batch(b: int, run_id: str | None = None) -> dict:
        """Run batch ``b`` through the job (through the ledger unless
        ``run_id`` is given); returns what its reads saw."""
        in_ledger = run_id is None
        if in_ledger:
            run_id = ledger_run()
        seen = {"run_id": run_id}
        cands = spark.read.parquet(paths[b])
        with h.span("pipelines.scan.plan"):
            res = run_scan(cands, run_id, days_window=gen.DAYS_WINDOW, max_results=BATCH)
        stamp = F.lit(gen.ingest_epoch(b))
        main_rows = res.main_items.withColumn("_ingest_ts", stamp)
        review_rows = res.review_items.withColumn("_ingest_ts", stamp)
        first = not tables["main"].exists()

        before = dict(main_files)
        files = commit("main", "write" if first else "upsert",
                       (lambda t: t.write(main_rows)) if first
                       else (lambda t: t.upsert(main_rows, ["id"], "_ingest_ts")))
        main_files.clear()
        main_files.update((f["path"], f) for f in files)
        seen["rewritten"] = sum(_num_records(before[p]) for p in set(before) - set(main_files))
        seen["files"] = len(files)
        seen["main"] = read_back("main", "priority")

        commit("review", "write" if first else "append",
               (lambda t: t.write(review_rows)) if first else (lambda t: t.append(review_rows)))
        seen["review"] = sum(read_back("review", "route").values())

        commit("links", "write" if first else "insert_if_absent",
               (lambda t: t.write(res.links)) if first
               else (lambda t: t.insert_if_absent(res.links, LINK_KEYS)))
        seen["links"] = sum(read_back("links", "relation").values())

        if not first:
            files = commit("main", "compact", lambda t: t.compact())
            main_files.clear()
            main_files.update((f["path"], f) for f in files)
            for table in tables.values():
                with h.span("operators.delta_log.checkpoint"):
                    table.checkpoint()
        if in_ledger:
            with h.span("streaming.ledger.transition"):
                ledger.transition(run_id, "completed")
        return seen

    def bootstrap() -> None:
        """Batch 0 creates the tables while the ledger's first run goes
        through beside it; batch 1 follows the measured path."""
        with cf.ThreadPoolExecutor(2) as pool:
            first_run = pool.submit(lambda: ledger.transition(ledger_run(), "completed"))
            verify(0, batch(0, "run-bootstrap"))
            first_run.result()
        for b in range(1, BOOTSTRAP):
            verify(b, batch(b))

    def verify(b: int, seen: dict) -> None:
        n_main = replay.apply(paths[b], b, seen["run_id"], today)
        n_files.append(seen["files"])
        if n_main:
            rewritten.append(seen["rewritten"] / n_main)
        h.tally.record(f"batch {b}", replay.matches(seen), "tables differ from the replay")

    bootstrap()
    setup_s = time.perf_counter() - t_setup + metrics.median(prep)
    for samples in (reads, rewritten, n_files):
        samples.clear()

    roots = [t.root for t in tables.values()]
    bytes0 = _tree_bytes(roots)
    src_bytes = docs_in = 0
    lat: list[float] = []
    cpu: list[float] = []
    b = BOOTSTRAP
    deadline = h.deadline()
    while b < MAX_BATCHES and (not lat or time.perf_counter() < deadline):
        with h.request("ingest.batch"):
            c0 = tracing.tree_cpu_s()
            t0 = time.perf_counter()
            seen = batch(b)
            lat.append(time.perf_counter() - t0)
            cpu.append(tracing.tree_cpu_s() - c0)
        verify(b, seen)
        src_bytes += os.path.getsize(paths[b])
        docs_in += pq.ParquetFile(paths[b]).metadata.num_rows
        b += 1
    amplification = (_tree_bytes(roots) - bytes0) / src_bytes

    # latest-wins contents of the main table, row by row
    cols = ["id", "summary_1line", "priority", F.col("_ingest_ts").cast("long")]
    got = {r[0]: tuple(r[1:]) for r in tables["main"].read().select(*cols).collect()}
    want = {k: (s, p, int(gen.ingest_epoch(bb).timestamp())) for k, (s, p, bb) in replay.main.items()}
    h.tally.record("main latest-wins contents", got == want, f"{len(got)} rows vs {len(want)} expected")

    e2e = {"setup_s": setup_s, "cpu_s_per_op": sum(cpu) / len(cpu), "peak_rss_mb": h.rss.mb()}
    tail_p, tail_s = metrics.tail(lat)
    layer = {
        "run.latency_p50_s": metrics.median(lat),
        "run.latency_tail_s": tail_s,
        "run.throughput_per_s": docs_in / sum(lat),
        "run.cpu_s_per_op": e2e["cpu_s_per_op"],
        "operators.delta_log.files_active": metrics.median(n_files),
        "operators.delta_log.rewritten_rows_per_input_row": metrics.median(rewritten),
        "ingest.read_latency_p50_s": metrics.median(reads),
        "ingest.write_amplification": amplification,
    }
    return {"e2e": e2e, "layer": layer, "meta": {"batches": len(lat), "tail_percentile": tail_p, "reads": len(reads)}}
