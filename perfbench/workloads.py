"""The benchmark's workloads: one closed-loop client making sequential
calls into the engine's public functions.

``query_mix``   memo-hit reads. One seeded corpus; the memo-sharing query
                families plus a fixed stratified sample of the streaming
                modules. An untimed pass fills the memos and checks every
                result against ``ORACLES``; timed passes then build each
                query and run it to the noop sink, in a seeded shuffled
                order.
``corpus_arrival``
                memo-miss writes. Every cycle delivers a fresh seeded
                corpus and a fresh ELT batch, so every file identity is
                new: one ELT pass, the first touch of the gated tables,
                the memo-sharing query families, ``run_curation`` and
                ``run_layout_maintenance``, each checked after it runs.

A run's work is set by ``seconds`` alone (see ``rounds``), never by how
fast the code runs, so two commits measure the same calls.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import glob
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
import harness
from checks import Collected, OracleChecks
from data_pipeline__s3_to_postgres_s3_spark import catalog
from data_pipeline__s3_to_postgres_s3_spark.config import EngineConfig
from data_pipeline__s3_to_postgres_s3_spark.pipelines import elt
from data_pipeline__s3_to_postgres_s3_spark.pipelines.curation_run import run_curation
from data_pipeline__s3_to_postgres_s3_spark.pipelines.layout_run import (
    run_layout_maintenance,
)
from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

PKG = "data_pipeline__s3_to_postgres_s3_spark."
# The memo-sharing query families, in call order. The first call of a
# family builds its memo on a corpus; the next call reuses it. Both
# workloads run them: query_mix on one corpus (every memo hits after the
# untimed pass), corpus_arrival on a new corpus per cycle (every memo
# misses).
MEMO_FAMILIES = (
    ("dedup_ngram_jaccard", "dedup_containment"),
    ("dedup_clusters", "split_leakage_report"),
    ("similarity_ivf_topk",),
    ("sql_script_best_product",),
    ("pricing_summary",),
)
MEMO_QUERIES = tuple(q for family in MEMO_FAMILIES for q in family)
# The untimed pass runs the catalog touch and the families on this many
# threads at once; a family's calls stay in order on one thread, so no
# memo is built twice. Its calls leave cores idle between jobs: on 4
# cores five threads finish the pass in about 24 s, three in about 28 s.
FILL_THREADS = 5
# query_mix adds a seeded stratified sample of the streaming modules,
# whose ops run their query while the DataFrame is built. The sample is
# drawn with a fixed seed, so every run measures the same queries;
# --seed varies the data and the call order.
SAMPLED_ROWS = ("streaming.docs", "streaming.events")
SAMPLE_SEED = 0
QUERIES_PER_ROW = 1
QUERY_ROWS = (
    "operators.dedup", "operators.graph", "operators.curation",
    "operators.similarity", "operators.relational", "pipelines.sql_script",
    *SAMPLED_ROWS,
)
# The reference's calendar (FIXTURES.md): orders 2021-01-01..2022-09-05.
ELT_CFG = EngineConfig(
    run_date=dt.date(2022, 9, 10),
    as_of_date=dt.date(2022, 9, 5),
    holiday_year=2022,
    calendar_start=dt.date(2021, 1, 1),
    calendar_end=dt.date(2022, 12, 31),
)
ELT_FIRST_ORDERS = 4000
ELT_BATCH_ORDERS = 2000
# Half the sf0.01 test data's row counts: the calls stay dominated by their
# per-job and construction costs, which is what the layers change.
QUERY_MIX_SIZE = gen.CorpusSize(
    customers=750, suppliers=50, parts=1000, orders=7500, lineitems=30000,
    events=5000, users=75, documents=250, embeddings=250)
# corpus_arrival's documents drive the memo frames, which grow about with
# the square of the document count, so a corpus must be large enough to
# leave its memos' storage in plain view. 5,000 documents (sf0.1) leave
# about 120 MB, but their oracle checks alone take a minute, more than a
# run can spend; 1,000 leave several MB. Embeddings are at the sf0.1 count.
ARRIVAL_SIZE = dataclasses.replace(QUERY_MIX_SIZE, documents=1000, embeddings=2000)


# One query_mix pass per PASS_S seconds and one corpus_arrival cycle per
# CYCLE_S seconds of --seconds, at least one: roughly what each takes on
# 4 cores.
PASS_S = 10.0
CYCLE_S = 45.0


def rounds(seconds: float, per: float) -> int:
    """Passes or cycles a run of ``seconds`` makes: a count fixed by the
    command line, so a faster commit does not measure more calls."""
    return max(1, round(seconds / per))


def layer_of(name: str) -> str:
    return QUERIES[name].__module__.removeprefix(PKG)


def query_sample() -> list[str]:
    rng = random.Random(SAMPLE_SEED)
    by_row: dict[str, list[str]] = {r: [] for r in SAMPLED_ROWS}
    for name in sorted(QUERIES):
        if name in ORACLES and layer_of(name) in by_row:
            by_row[layer_of(name)].append(name)
    return [q for r in SAMPLED_ROWS for q in rng.sample(by_row[r], QUERIES_PER_ROW)]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Outcome:
    """What a workload leaves for the metrics: the timed calls, the count
    of calls failed or wrong, and layer values measured along the way."""

    calls: list = field(default_factory=list)
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    prep_s: dict[str, float] = field(default_factory=dict)  # untimed calls


def warmup(spark) -> None:
    """The set-up's warm-up call: one small job, so the session has run
    a stage before the workload's first timed call."""
    spark.range(1 << 16).selectExpr("sum(id)").collect()


def catalog_touch(rec: harness.Recorder, d: str):
    """First touch of every measure-gated table: ``load_table`` runs the
    dirtiness probe unless the memo already holds this file's verdict."""
    call = harness.Call("catalog.load_table", "catalog")
    try:
        for t in catalog.MEASURE_COLS:
            rec.phase(call, "build", lambda t=t: catalog.load_table(rec.spark, d, t))
    except Exception as exc:  # noqa: BLE001 - counted as a failed call
        call.ok, call.error = False, f"{type(exc).__name__}: {exc}"[:300]
    rec.calls.append(call)
    return call


# ---------------------------------------------------------------- query_mix

def query_mix(rec: harness.Recorder, work: str, seed: int, seconds: float) -> Outcome:
    out = Outcome()
    d = os.path.join(work, "corpus")
    gen.write_corpus(d, seed, QUERY_MIX_SIZE)
    names = [*MEMO_QUERIES, *query_sample()]

    # Untimed pass: fill the memos and check every result.
    checks = OracleChecks()

    def fill(family) -> None:
        for name in family:
            call = rec.query(name, layer_of(name),
                             lambda n=name: QUERIES[n](rec.spark, d), Collected)
            if call.ok:
                checks.submit(call, d, ORACLES[name])

    try:
        with ThreadPoolExecutor(FILL_THREADS) as pool:
            # The streaming ops are the longest calls: start them first.
            done = [pool.submit(fill, family) for family in
                    (*((q,) for q in query_sample()), *MEMO_FAMILIES)]
            done.append(pool.submit(catalog_touch, rec, d))
            for fut in done:
                fut.result()
        checks.drain()
    finally:
        checks.close()
    wrong = {c.op for c in rec.calls if not c.ok}
    out.notes += [f"{c.op}: {c.error}" for c in rec.calls if not c.ok]
    out.prep_s = {c.op: c.total_s for c in rec.calls}
    rec.calls.clear()
    rec.timed = 0.0
    harness.settle(rec.spark)

    rng = random.Random(seed)
    ops = names + ["catalog.load_table"]
    for _ in range(rounds(seconds, PASS_S)):
        rng.shuffle(ops)
        for name in ops:
            if name == "catalog.load_table":
                call = catalog_touch(rec, d)
            else:
                call = rec.query(name, layer_of(name),
                                 lambda n=name: QUERIES[n](rec.spark, d), noop)
            if not call.ok or name in wrong:
                out.failed += 1
    out.calls = list(rec.calls)
    n, mb = rec.storage()
    out.layers.update({
        "storage.persisted_rdds": n, "storage.mb.max": mb,
        "storage.mb_per_corpus": mb,
    })
    return out


# ----------------------------------------------------------- corpus_arrival

class Elt:
    """The ELT lane of corpus_arrival: one staging area that accretes a
    batch per cycle, with the counts the generator says it must hold."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.feed = gen.EltFeed(seed, ELT_FIRST_ORDERS, ELT_BATCH_ORDERS)
        self.paths = elt.EltPaths(
            os.path.join(work, "elt", "raw"),
            os.path.join(work, "elt", "staging"),
            os.path.join(work, "elt", "export"),
        )
        self.batches: list[gen.Batch] = []
        self.expected = dict.fromkeys(elt.STAGING_TABLES, 0)
        self.staged = dict.fromkeys(elt.STAGING_TABLES, 0)
        self.input_bytes = 0
        self.appended: list[int] = []
        self.rejected: list[int] = []
        self.rows_timed: list[tuple[int, float]] = []  # (CSV rows, seconds)

    def call(self, rec: harness.Recorder, export: bool = True) -> harness.Call:
        """Deliver the next batch and run extract → load → transform →
        export on it (only extract → load with ``export=False``); then
        check staging against the planted counts."""
        b = self.feed.batch(len(self.batches))
        gen.write_batch(b, self.paths.raw_dir)
        self.batches.append(b)
        self.input_bytes += sum(len(t) for t in b.csv.values())
        for t in ("orders", "shipment_deliveries"):
            self.expected[t] += b.new_orders
        self.expected["reviews"] += b.reviews

        spark, paths = rec.spark, self.paths
        call = harness.Call("pipelines.elt", "pipelines.elt")
        try:
            frames = rec.phase(call, "extract", lambda: elt.extract(spark, paths))
            rec.phase(call, "load", lambda: elt.load(spark, frames, paths))
            if export:
                out = rec.phase(call, "transform",
                                lambda: elt.transform(spark, paths, ELT_CFG))
                rec.phase(call, "export", lambda: elt.export(out, paths))
        except Exception as exc:  # noqa: BLE001 - counted as a failed call
            call.ok, call.error = False, f"{type(exc).__name__}: {exc}"[:300]
        rec.calls.append(call)
        self.rows_timed.append((b.rows, call.total_s))
        if call.ok:
            before = sum(self.staged.values())
            self.staged = {t: parquet_rows(paths.staging(t))
                           for t in elt.STAGING_TABLES}
            appended = sum(self.staged.values()) - before
            self.appended.append(appended)
            self.rejected.append(b.rows - appended)
            if self.staged != self.expected:
                call.ok = False
                call.error = f"staging {self.staged} != planted {self.expected}"
        return call

    def union_matches(self, spark) -> bool:
        """Load the union of every delivered batch in one shot into empty
        staging; its exports must equal the incremental run's."""
        once = elt.EltPaths(
            os.path.join(self.work, "elt_once", "raw"),
            os.path.join(self.work, "elt_once", "staging"),
            os.path.join(self.work, "elt_once", "export"),
        )
        gen.write_union(self.batches, once.raw_dir)
        elt.run(spark, once, ELT_CFG)
        return _exports(once.export_dir) == _exports(self.paths.export_dir)

    def layers(self) -> dict[str, float]:
        files = parquet_files(self.paths.staging_dir)
        return {
            "pipelines.elt.rows_per_s": sum(r for r, _ in self.rows_timed)
                / sum(t for _, t in self.rows_timed),
            "pipelines.elt.rows_appended": median(self.appended),
            "pipelines.elt.rows_rejected": median(self.rejected),
            "pipelines.elt.staging_files": len(files),
            "pipelines.elt.staging_bytes_per_input_byte":
                sum(os.path.getsize(f) for f in files) / self.input_bytes,
        }


def _exports(export_dir: str) -> dict[str, list[str]]:
    out = {}
    for d in sorted(glob.glob(os.path.join(export_dir, "*"))):
        lines = []
        for f in glob.glob(os.path.join(d, "part-*")):
            with open(f) as fh:
                lines += fh.read().splitlines()
        out[os.path.basename(d)] = sorted(lines)
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pipeline_call(rec: harness.Recorder, op: str, fn) -> harness.Call:
    call = harness.Call(op, op.rsplit(".", 1)[0])
    try:
        call.result = rec.phase(call, "run", fn)
    except Exception as exc:  # noqa: BLE001 - counted as a failed call
        call.ok, call.error = False, f"{type(exc).__name__}: {exc}"[:300]
    rec.calls.append(call)
    return call


def parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def parquet_rows(root: str) -> int:
    """Rows under ``root``, read from the parquet footers: the checks
    count what was written without running Spark jobs."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(root))


def check_curation(res: dict) -> str:
    """The accounting run_curation returns must match its shard tree."""
    files = parquet_files(res["out_dir"])
    doc_ids = set()
    for f in files:
        doc_ids.update(pq.read_table(f, columns=["doc_id"]).column(0).to_pylist())
    got = (len(doc_ids), parquet_rows(res["out_dir"]))
    want = (res["n_docs_written"], res["n_chunks"])
    return "" if got == want else f"shard tree (docs, chunks) {got} != accounting {want}"


def check_layout(res: dict) -> str:
    p = res["paths"]
    raw = parquet_rows(p["shards"])
    compacted = parquet_rows(p["shards_compacted"])
    if raw != compacted:
        return f"compaction changed row count {raw} -> {compacted}"
    if res["shard_files_after"] > res["shard_files_before"]:
        return "compaction added files"
    return ""


def corpus_arrival(rec: harness.Recorder, work: str, seed: int, seconds: float) -> Outcome:
    out = Outcome()
    spark = rec.spark
    lane = Elt(work, seed)
    # The initial load into empty staging, untimed; the first cycle's
    # batch exports the analytics.
    first = lane.call(rec, export=False)
    if not first.ok:
        out.notes.append(f"initial load: {first.error}")
    out.prep_s = {"initial_load": first.total_s}
    lane.appended.clear()
    lane.rejected.clear()
    lane.rows_timed.clear()
    rec.calls.clear()
    rec.timed = 0.0
    harness.settle(spark)

    storage, written, to_check = [], {}, []
    cycles = rounds(seconds, CYCLE_S)
    for cycle in range(cycles):
        d = os.path.join(work, f"corpus{cycle}")
        gen.write_corpus(d, seed, ARRIVAL_SIZE, stream=1 + cycle)
        ops = ["pipelines.elt", "catalog.load_table", *MEMO_QUERIES,
               "pipelines.curation_run.run_curation",
               "pipelines.layout_run.run_layout_maintenance"]
        for op in ops:
            if op == "pipelines.elt":
                call = lane.call(rec)
            elif op == "catalog.load_table":
                call = catalog_touch(rec, d)
            elif op.endswith("run_curation"):
                call = pipeline_call(
                    rec, op, lambda: run_curation(spark, d, f"{d}/curated"))
                if call.ok:
                    call.error = check_curation(call.result)
            elif op.endswith("run_layout_maintenance"):
                call = pipeline_call(
                    rec, op,
                    lambda: run_layout_maintenance(spark, d, f"{d}/layout"))
                if call.ok:
                    call.error = check_layout(call.result)
                    written["files_before"] = call.result["shard_files_before"]
                    written["files_after"] = call.result["shard_files_after"]
            else:
                call = rec.query(op, layer_of(op),
                                 lambda n=op: QUERIES[n](spark, d), Collected)
                if call.ok:
                    to_check.append((call, d))
            if call.error:
                call.ok = False
            storage.append(rec.storage())

    # Oracle checks run after the timed cycles, beside the ELT union check.
    t0 = time.perf_counter()
    checks = OracleChecks()
    try:
        for call, d in to_check:
            checks.submit(call, d, ORACLES[call.op])
        union_ok = lane.union_matches(spark)
        checks.drain()
    finally:
        checks.close()
    out.prep_s["checks"] = time.perf_counter() - t0
    out.calls = list(rec.calls)
    out.failed = sum(not c.ok for c in out.calls)
    out.notes += [f"{c.op}: {c.error}" for c in out.calls if not c.ok]
    if not union_ok:
        out.failed += 1
        out.notes.append("ELT exports differ from a one-shot load of the union")
    n_rdds, mb = storage[-1]
    out.layers.update(lane.layers())
    out.layers.update({
        "storage.persisted_rdds": n_rdds,
        "storage.mb.max": max(m for _, m in storage),
        "storage.mb_per_corpus": mb / cycles,
        "pipelines.layout_run.files_before": written.get("files_before", 0),
        "pipelines.layout_run.files_after": written.get("files_after", 0),
    })
    return out
