"""The four workloads, their correctness checks and the per-layer probes.

Every workload follows one shape, driven by ``run.py``:

1. ``prepare`` — untimed set-up through the engine's public API (corpus
   materialization, the 90% pre-commit, tick files), plus the benchmark's
   own fixtures (golden text, DuckDB oracle results);
2. ``op`` — one timed operation, repeated until the run's seconds are
   spent: a ``run_extract`` call, a streaming tick, or a pass over the
   headline queries;
3. ``check`` — the correctness check of every operation, outside the timed
   region, giving ``attempted`` and ``failed``.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from ollama_ocr_spark import corpus
from ollama_ocr_spark.functions.router import extract_document
from ollama_ocr_spark.operators.extract import extract_stage, synthesize_stage
from ollama_ocr_spark.operators.maintenance import (
    balance_by_url,
    latest_capture,
)
from ollama_ocr_spark.pipeline import run_extract
from ollama_ocr_spark.sources.icetbl import IceTable
from ollama_ocr_spark.streaming.incremental import incremental_extract
from pyspark.sql import functions as F

from perfbench.spans import TimedTable

BAND = 10_000_000          # doc_id stride between replicas (bench.py's)
# Replica offsets stay below 30 * 32 * BAND seconds past corpus.BASE_TS, so
# capture timestamps stay in datetime's range.
SEED_BANDS = 30
MAX_REPLICAS = 32
_DOC_ID_RE = re.compile(r"-(\d+)\.[a-z]+$")

WHY = {
    "crawl_full": "batch run_extract into empty tables; the extract kernel "
                  "and Arrow IPC dominate",
    "stream_ticks": "closed loop of incremental_extract ticks, one page file "
                    "each; per-tick fixed costs and commits dominate",
    "query_suite": "the 14 headline queries; planning, scheduling and "
                   "shuffle fixed costs dominate",
}


def doc_id_of(url: str) -> int:
    return int(_DOC_ID_RE.search(url).group(1))


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Base: subclasses set ``name`` and implement prepare/op/check."""

    name = ""
    #: untimed ops of the op's own plan before the timed ones (JIT warm-up)
    warmup_ops = 0
    #: tables the workload reads from the generated data set
    tables: tuple[str, ...] = ("documents",)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.op_walls: list[float] = []
        self.op_notes: list[dict] = []
        #: (results, metrics) tables written by probes, checked like ops
        self.extra_checks: list[tuple] = []

    def warmups(self) -> int:
        return min(1, self.warmup_ops) if self.ctx.smoke else self.warmup_ops

    def dir(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def table(self, role: str, path: str):
        tbl = IceTable(path)
        if self.ctx.tracer.enabled:
            return TimedTable(tbl, self.ctx.tracer, role)
        return tbl

    # -- shared corpus ----------------------------------------------------
    def replicated_docs(self, replicas: int):
        """The documents table replicated ``replicas`` times, replica r at
        doc_id offset ``(band * MAX_REPLICAS + r) * BAND`` with ``band`` taken
        from the seed: urls and url-hash placement change with the seed,
        archetype mix and host skew do not (both are functions of
        doc_id mod 100)."""
        if replicas > MAX_REPLICAS:
            raise ValueError(f"at most {MAX_REPLICAS} replicas")
        docs = self.spark.read.parquet(
            os.path.join(self.ctx.sf_dir, "documents.parquet"))
        reps = self.spark.range(replicas).withColumnRenamed("id", "rep")
        band = self.ctx.seed % SEED_BANDS
        return (
            docs.crossJoin(reps)
            .withColumn("doc_id", F.col("doc_id")
                        + (F.lit(band * MAX_REPLICAS) + F.col("rep")) * BAND)
            .drop("rep")
        )

    def base_texts(self) -> dict[int, str]:
        t = pq.read_table(os.path.join(self.ctx.sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
        return dict(zip(t.column("doc_id").to_pylist(),
                        t.column("text").to_pylist()))

    def materialize(self, out: str, replicas: int, files: int) -> list[str]:
        """Write the corpus (``synthesize_stage``, i.e. ``corpus.capture_rows``
        per document) to ``files`` parquet files; returns their names in
        order. Done through Spark on purpose: in a fresh JVM this first job
        also warms the paths the ops use (measured: without it the first
        warm-up pass of ``crawl_full`` took 13 s instead of 5.5 s, and the
        timed ops stayed 15% slower)."""
        docs = self.replicated_docs(replicas).repartition(files, "doc_id")
        synthesize_stage(docs).write.parquet(out)
        return sorted(f for f in os.listdir(out) if f.endswith(".parquet"))

    def layer_probes(self) -> dict:
        return {}

    def check_extra(self) -> tuple[int, int]:
        """Correctness of the tables the traced run's probes wrote."""
        return 0, 0

    def units_per_op(self) -> int:
        """Operations counted in ``attempted`` per timed op."""
        return 1

    def exhausted(self, i: int) -> bool:
        """True when the prepared inputs cannot feed op ``i``."""
        return False

    def timed_tables(self) -> list:
        """The ``TimedTable`` proxies the ops passed into the engine."""
        return []


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------

class CrawlFull(Workload):
    name = "crawl_full"
    warmup_ops = 3

    def prepare(self) -> None:
        c = self.ctx
        self.pages_dir = self.dir("pages")
        with c.setup_rep("corpus.materialize"):
            self.materialize(self.pages_dir, c.replicas, c.nproc)
        self.pages = self.spark.read.parquet(self.pages_dir)
        self.texts = self.base_texts()
        self.expected_urls = c.replicas * len(self.texts)
        self.results: list[tuple] = []
        self._golden: dict[str, str] = {}
        # JIT warm-up: the first passes of a fresh JVM run up to 2.5x slower
        # (5.2, 3.5, 2.7, 2.3, 2.1 s on 20k urls at local[4]). The warm-up
        # passes run the op's own plan: a pass over a slice of the urls
        # compiles different generated code, and the first timed op then
        # paid for compiling its own.
        for i in range(self.warmups()):
            with c.setup_rep("warmup.run_extract"):
                run_extract(self.spark, self.pages,
                            IceTable(self.dir(f"warm{i}", "results")),
                            IceTable(self.dir(f"warm{i}", "metrics")),
                            num_partitions=c.nproc)

    def fresh_tables(self, tag: str):
        return (self.table("results", self.dir(tag, "results")),
                self.table("metrics", self.dir(tag, "metrics")))

    def run_op(self, tag: str, tables=None) -> dict:
        """One timed ``run_extract`` over the corpus, into fresh tables
        unless ``tables`` are given."""
        res, met = tables or self.fresh_tables(tag)
        t0 = time.monotonic()
        with self.ctx.tracer.span("pipeline.run_extract"):
            stats = run_extract(self.spark, self.pages, res, met,
                                num_partitions=self.ctx.nproc)
        wall = time.monotonic() - t0
        return {"wall": wall, "docs": stats.docs_in,
                "extracted": stats.docs_extracted,
                "docs_per_s": stats.docs_in / wall, "tables": (res, met)}

    def op(self, i: int) -> float:
        note = self.run_op(f"op{i}")
        self.results.append(note["tables"])
        self.op_notes.append(note)
        return note["wall"]

    def golden(self, url: str) -> str:
        text = self._golden.get(url)
        if text is None:
            did = doc_id_of(url)
            text = corpus.golden_text(did, self.texts[did % BAND])
            self._golden[url] = text
        return text

    def check_tables(self, res, met) -> int:
        """Number of failed urls: missing, duplicated or with text that is
        not byte-identical to the golden; lineage must count every row."""
        rows = committed(res, ["url", "text"])
        seen: dict[str, int] = {}
        bad = 0
        for url, text in zip(rows["url"], rows["text"]):
            seen[url] = seen.get(url, 0) + 1
            if (text or "") != self.golden(url):
                bad += 1
        bad += sum(n - 1 for n in seen.values())
        bad += max(0, self.expected_urls - len(seen))
        if sum(committed(met, ["doc_count"])["doc_count"]) != len(rows["url"]):
            bad = max(bad, 1)
        return bad

    def check(self) -> tuple[int, int]:
        failed = sum(self.check_tables(res, met) for res, met in self.results)
        return self.expected_urls * len(self.results), failed

    def units_per_op(self) -> int:
        return self.expected_urls

    def timed_tables(self) -> list:
        return [t for pair in self.results for t in pair
                if isinstance(t, TimedTable)]

    def check_extra(self) -> tuple[int, int]:
        failed = sum(self.check_tables(res, met)
                     for res, met in self.extra_checks)
        return self.expected_urls * len(self.extra_checks), failed

    def summary(self) -> dict:
        return {"docs_per_s": median([n["docs_per_s"] for n in self.op_notes]),
                "urls_per_op": self.expected_urls,
                "captures_per_op": self.pages.count()}

    def layer_probes(self) -> dict:
        out = parse_us_stats(self.results[-1][0])
        out.update(ladder(self.spark, self.pages, self.ctx.nproc,
                          self.ctx.tracer))
        out.update(self.resume_probe())
        out.update(self.scaling_probe())
        return out

    def scaling_probe(self) -> dict:
        """``scaling_eff``: ``docs_per_s`` at local[cores] over cores x
        ``docs_per_s`` at local[1], same input, same run. Restarts the
        session at local[1]; runs last."""
        cores = self.ctx.nproc
        big = median([n["docs_per_s"] for n in self.op_notes])
        self.spark = self.ctx.start_spark(1)
        self.pages = self.spark.read.parquet(self.pages_dir)
        self.ctx.nproc = 1
        try:
            notes = [self.run_op(f"scale{i}") for i in range(2)]
        finally:
            self.ctx.nproc = cores
        self.extra_checks.extend(n["tables"] for n in notes)
        small = notes[-1]["docs_per_s"]
        return {"scaling.docs_per_s_n": big, "scaling.docs_per_s_1": small,
                "scaling_eff": big / (cores * small)}

    def resume_probe(self) -> dict:
        """The resume path: 90% of the urls (a url-hash slice) committed
        through ``run_extract`` first, then one timed ``run_extract`` over
        all captures, which must scan, exchange, dedup and anti-join all of
        them and extracts the remaining 10%. Spark's operator metrics of the
        timed call are reported under ``resume.*``."""
        from perfbench import sparkmetrics

        c = self.ctx
        res, met = self.fresh_tables("resume")
        t0 = time.monotonic()
        with c.tracer.span("resume.precommit"):
            run_extract(self.spark,
                        self.pages.filter(
                            F.pmod(F.xxhash64("url"), F.lit(10)) != 0),
                        res, met, num_partitions=c.nproc)
        precommit_s = time.monotonic() - t0
        done_rows = res.read(self.spark).count()
        last = sparkmetrics.last_execution_id(self.spark)
        note = self.run_op("resume", tables=(res, met))
        execs, totals = sparkmetrics.collect(self.spark, last)
        self.extra_checks.append((res, met))
        out = {f"resume.{k}": v for k, v in
               sparkmetrics.layers(totals, len(execs)).items()}
        out.update({
            "resume.precommit_s": precommit_s,
            "resume.wall_s": note["wall"],
            "resume.docs_per_s": note["docs_per_s"],
            "resume.done_rows": done_rows,
            "resume.todo_rows": note["extracted"],
        })
        return out


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

class StreamTicks(Workload):
    name = "stream_ticks"
    warmup_ops = 2

    def prepare(self) -> None:
        c = self.ctx
        self.staged = self.dir("staged")
        # ~2k captures per file: 1.2 captures per document
        docs_per_file = max(1, c.tick_captures * 5 // 6)
        self.texts = self.base_texts()
        n_docs = len(self.texts)
        ticks = c.max_ticks + self.warmups()
        replicas = max(1, -(-ticks * docs_per_file // n_docs))
        files = max(1, replicas * n_docs // docs_per_file)
        with c.setup_rep("corpus.materialize"):
            self.files = self.materialize(self.staged, replicas, files)
        # JIT warm-up: the first tick of a fresh JVM takes 1.8 s, the next
        # ones ~1 s; the warm-up ticks feed a table of their own
        warm = (self.dir("warm", "source"), IceTable(self.dir("warm", "tbl")),
                self.dir("warm", "checkpoint"))
        os.makedirs(warm[0])
        for name in self.files[:self.warmups()]:
            with c.setup_rep("warmup.tick"):
                self.tick(name, *warm)
        self.files = self.files[self.warmups():]
        self.source = self.dir("source")
        os.makedirs(self.source)
        self.results = self.table("results", self.dir("results"))
        self.checkpoint = self.dir("checkpoint")

    def tick(self, name: str, source: str, results, checkpoint: str) -> None:
        """Land one staged page file in ``source`` and drain it."""
        before = results.current_snapshot_id()
        os.rename(os.path.join(self.staged, name), os.path.join(source, name))
        incremental_extract(self.spark, source, results, checkpoint)
        if results.current_snapshot_id() == before:
            raise RuntimeError(f"landing {name} published no snapshot")

    def exhausted(self, i: int) -> bool:
        return i >= len(self.files)

    def timed_tables(self) -> list:
        return [self.results] if isinstance(self.results, TimedTable) else []

    def op(self, i: int) -> float:
        name = self.files[i]
        appends0 = getattr(self.results, "appends", 0)
        append_s0 = getattr(self.results, "append_s", 0.0)
        t0 = time.monotonic()
        with self.ctx.tracer.span("stream.tick"):
            self.tick(name, self.source, self.results, self.checkpoint)
        wall = time.monotonic() - t0
        self.op_notes.append({
            "wall": wall, "file": name,
            "batches": getattr(self.results, "appends", 0) - appends0,
            "append_s": getattr(self.results, "append_s", 0.0) - append_s0,
        })
        return wall

    def check(self) -> tuple[int, int]:
        rows = committed(self.results, ["url", "warc_ts", "text"])
        got: dict[tuple, list] = {}
        for url, ts, text in zip(rows["url"], rows["warc_ts"], rows["text"]):
            got.setdefault((url, ts), []).append(text or "")
        failed = 0
        for name in (n["file"] for n in self.op_notes):
            landed = read_spark_parquet(os.path.join(self.source, name),
                                        ["url", "warc_ts"])
            ok = True
            for url, ts in zip(landed.column("url").to_pylist(),
                               epoch_us(landed.column("warc_ts"))):
                texts = got.get((url, ts), [])
                if len(texts) != 1 or texts[0] != self.golden(url, ts):
                    ok = False
            failed += not ok
        return len(self.op_walls), failed

    def golden(self, url: str, ts_us: int) -> str:
        did = doc_id_of(url)
        text = self.texts[did % BAND]
        primary_us = (int(corpus.BASE_TS.timestamp()) + did) * 1_000_000
        if ts_us != primary_us and did % 10 != 0:
            # the older duplicate capture of a k=5 page carries stale text
            # (corpus.capture_rows)
            text = text + " stale capture"
        return corpus.golden_text(did, text)

    def summary(self) -> dict:
        return {"captures_per_tick": self.ctx.tick_captures}

    def layer_probes(self) -> dict:
        from perfbench.sparkmetrics import tail_percentile

        notes = self.op_notes
        out = parse_us_stats(self.results)
        out["stream.append_s"] = median([n["append_s"] for n in notes])
        out["stream.overhead_s"] = median(
            [n["wall"] - n["append_s"] for n in notes])
        out["stream.batches_per_tick"] = median([n["batches"] for n in notes])
        out["stream.log_bytes_last"] = self.results.log_bytes()
        out["stream.ticks"] = len(notes)
        tail = tail_percentile([n["wall"] for n in notes])
        out["stream.tick_tail"] = (
            {"percentile": tail[0], "s": tail[1], "beyond": tail[2]}
            if tail else None)
        return out


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# the headline suite, as bench.HEADLINE lists it
HEADLINE = (
    "extract_text_roundtrip", "extract_pdf_fold", "extract_route_counts",
    "latest_event_per_user", "dedup_exact", "ngram_jaccard_pairs",
    "minhash_lsh_candidates", "token_counts", "quality_scores",
    "ann_cosine_topk", "tpch_shipping_revenue", "nation_revenue",
    "events_daily", "sessionize",
)


class QuerySuite(Workload):
    name = "query_suite"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.order = list(HEADLINE)
        random.Random(self.ctx.seed).shuffle(self.order)
        self.outputs: list[dict] = []
        self.query_s: dict[str, list[float]] = {q: [] for q in HEADLINE}
        with self.ctx.fixture("bench.oracle"):
            self.expected = oracle_hashes(self.ctx.sf_dir,
                                          entry.oracle_sql(), HEADLINE)
        # warm-up: every query once on tables a tenth the size, so that the
        # timed pass runs with Python workers started and plans compiled;
        # across five seeds the timed pass spread by 9% after a warm-up on
        # sf0.001 and by 4% after one on sf0.01
        tiny, _ = self.ctx.data_dir(self.ctx.sf / 10, self.tables)
        with self.ctx.setup_rep("warmup.queries"):
            for name in self.order:
                self.queries[name](self.spark, tiny).toPandas()

    def op(self, i: int) -> float:
        outs = {}
        wall = 0.0
        for name in self.order:
            t0 = time.monotonic()
            with self.ctx.tracer.span(f"query.{name}"):
                outs[name] = self.queries[name](
                    self.spark, self.ctx.sf_dir).toPandas()
            secs = time.monotonic() - t0
            self.query_s[name].append(secs)
            wall += secs
        self.outputs.append(outs)
        return wall

    def check(self) -> tuple[int, int]:
        driver_canon_err, frame_hash = oracle_tools()
        failed = 0
        for outs in self.outputs:
            for name, pdf in outs.items():
                got = tuple(frame_hash(pdf))
                if driver_canon_err(pdf) or got != self.expected[name]:
                    failed += 1
        return len(HEADLINE) * len(self.outputs), failed

    def units_per_op(self) -> int:
        return len(HEADLINE)

    def summary(self) -> dict:
        return {"suite_s": median(self.op_walls), "order": self.order,
                "query_s": self.query_s}

    def layer_probes(self) -> dict:
        return {f"query.{q}_s": median(v) for q, v in self.query_s.items()}


def oracle_tools():
    """``driver_canon_err`` and ``frame_hash`` from ``tools/check_oracle.py``,
    the checker the project's oracle sweep uses. Importing it edits
    ``sys.path``, so the path is restored afterwards."""
    import sys

    saved = list(sys.path)
    try:
        from tools.check_oracle import driver_canon_err, frame_hash
    finally:
        sys.path[:] = saved
    return driver_canon_err, frame_hash


def oracle_hashes(sf_dir: str, oracles: dict, names) -> dict:
    """``frame_hash`` of each query's DuckDB oracle result over the
    generated tables, cached next to them under a key of the oracle SQL."""
    import hashlib
    import json

    import duckdb
    from ollama_ocr_spark.sources.testdata import TABLES

    key = hashlib.sha256(json.dumps(
        [[n, oracles[n]] for n in sorted(names)]).encode()).hexdigest()[:12]
    path = os.path.join(sf_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return {n: tuple(h) for n, h in json.load(fh).items()}
    _, frame_hash = oracle_tools()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
        hashes = {n: frame_hash(con.sql(oracles[n]).fetchdf()) for n in names}
    finally:
        con.close()
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(hashes, fh)
    os.replace(tmp, path)
    return hashes


WORKLOADS = {w.name: w for w in (CrawlFull, StreamTicks, QuerySuite)}


# ---------------------------------------------------------------------------
# per-layer probes
# ---------------------------------------------------------------------------

def committed(table, columns) -> dict[str, list]:
    """Columns of every row in the table's current snapshot, read with
    pyarrow from the files the snapshot lists (timestamps as epoch µs)."""
    files = table.snapshot().files
    t = pa.concat_tables(read_spark_parquet(f, columns) for f in files)
    return {c: epoch_us(t.column(c)) if pa.types.is_timestamp(t.column(c).type)
            else t.column(c).to_pylist() for c in columns}


def read_spark_parquet(path: str, columns) -> pa.Table:
    """A parquet file Spark wrote. Spark stores timestamps as INT96, which
    pyarrow reads as nanoseconds unless told otherwise; nanoseconds overflow
    past the year 2262, and the replicas of the higher seed bands capture
    pages up to ~300 years past ``corpus.BASE_TS``."""
    return pq.read_table(path, columns=columns,
                         coerce_int96_timestamp_unit="us")


def epoch_us(col) -> list[int]:
    """A timestamp column of any unit and zone as epoch microseconds."""
    return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(
        pa.int64()).to_pylist()


def parse_us_stats(results_tbl) -> dict:
    """Kernel time per document as committed in the ``parse_us`` column."""
    xs = sorted(committed(results_tbl, ["parse_us"])["parse_us"])
    if not xs:
        return {}
    return {
        "kernel.docs": len(xs),
        "kernel.parse_us_p50": xs[len(xs) // 2],
        "kernel.parse_us_p99": xs[min(len(xs) - 1, int(len(xs) * 0.99))],
        "kernel.parse_us_max": xs[-1],
        "kernel.parse_s_sum": sum(xs) / 1e6,
    }


def kernel_microbench(texts: dict[int, str], per_class: int = 40,
                      passes: int = 5) -> dict:
    """In-process ``router.extract_document`` cost per archetype class, in
    µs per document: the median over ``passes`` passes of each class's
    sample."""
    classes: dict[str, list] = {c: [] for c in
                                ("html", "pdf", "image", "text", "error")}
    for did in sorted(texts):
        k = did % 10
        cls = ("pdf" if k == 7 else "image" if k == 8 else "error" if k == 9
               else "text" if did % 20 == 14 else "html")
        if len(classes[cls]) < per_class:
            text, lang = texts[did], "en"
            classes[cls].append((corpus.url_for(did, "src0"),
                                 corpus.build_payload(did, text, lang)))
    out = {}
    for cls, sample in classes.items():
        if not sample:
            continue
        times = []
        for _ in range(passes):
            t0 = time.perf_counter()
            for url, payload in sample:
                extract_document(url, payload)
            times.append((time.perf_counter() - t0) / len(sample))
        out[f"kernel.us_per_doc.{cls}"] = median(times) * 1e6
    return out


def _noop_wall(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def ladder(spark, pages, nproc: int, tracer, repeats: int = 2) -> dict:
    """The ablation ladder: each step adds one layer, all to the noop sink.
    The identity ``mapInArrow`` runs once after the dedup shuffle and once
    straight after the scan, so that the two ``time to initialize Python
    workers`` readings show whether that metric includes waiting on the
    upstream exchange and sort."""
    from perfbench import sparkmetrics

    def identity(batches):
        yield from batches

    cols = pages.select("url", "warc_ts", "html", "lang")
    deduped = latest_capture(balance_by_url(cols, nproc))
    schema = cols.schema
    steps = {
        "ladder.scan_s": cols,
        "ladder.dedup_s": deduped,
        "ladder.ipc_s": deduped.mapInArrow(identity, schema),
        "ladder.extract_s": extract_stage(deduped),
        "ladder.ipc_scan_only_s": cols.mapInArrow(identity, schema),
    }
    out = {}
    for name, df in steps.items():
        walls = []
        for _ in range(repeats):
            last = sparkmetrics.last_execution_id(spark)
            with tracer.span(name):
                walls.append(_noop_wall(df))
        out[name] = min(walls)
        if name in ("ladder.ipc_s", "ladder.ipc_scan_only_s"):
            _, totals = sparkmetrics.collect(spark, last)
            key = name[:-2] + "_init_ms"
            out[key] = sparkmetrics.pick(
                totals, "MapInArrow", "time to initialize Python workers")
    return out
