"""The workloads: inputs, one pass, and the check of a pass's output.

Each workload writes its seeded input to parquet under the run's work
directory; the engine receives only that parquet. A pass is one call of
the engine path the workload exercises, run in a closed loop by
``run.py``. Every call into the engine is a public entry point and is
wrapped in a tracer span named after it.

``extract_job_skewed`` and ``curate_text`` are chains of 30-50 small
Spark jobs that run one task at a time at this size, so their pass time
follows the host's CPU steal (on a 4-vCPU VM a job pass took 6.1 s at 2%
steal and 8.1 s at 11%). They run as companions in the traced runs of
the two workloads ``BENCHMARK.json`` lists, and on their own when named.
"""

from __future__ import annotations

import shutil
import statistics
from collections import Counter
from collections.abc import Iterable
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import corpus

# Sizes, chosen so that one pass takes a few seconds on 4 cores and a run
# measures several passes (curate and the job are bound by per-job
# overhead, not by their input size).
FUSED_REPLICAS = 8  # 40k pages
JOB_URLS = 8_000
DEDUP_URLS = 32_000
CURATE_BASE_DOCS = 250
CURATE_REPLICAS = 4
# curate parameters, as in bench.py's run_curate_e2e
SELECT_MOD = 8
LM_FLOOR = -2.85
LOGIT_FLOOR = -20.0
PACK_BUDGET = 1024


def wrong_rows(expected: dict[str, str], got: Iterable[tuple[str, str]]) -> int:
    """Output rows that differ from the reference: a url with the wrong
    text, a url that is not expected, each extra row of a duplicated url,
    and each expected url that is missing."""
    seen: set[str] = set()
    wrong = 0
    for url, text in got:
        if url in seen or expected.get(url) != text:
            wrong += 1
        seen.add(url)
    return wrong + len(expected.keys() - seen)


def multiset_diff(a: Counter, b: Counter) -> int:
    """Size of the symmetric difference of two multisets of row hashes."""
    return sum(((a - b) + (b - a)).values())


def _write_texts(rows: list[tuple], names: list[str], path: Path) -> None:
    cols = list(zip(*rows))
    pq.write_table(pa.table(dict(zip(names, map(list, cols)))), path)


def _parquet_rows(path: Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in path.glob("*.parquet"))


def _parquet_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


class Workload:
    name = ""
    html = True  # the input is html pages for the extraction kernel
    checks_last_pass = True
    # a workload whose layers this workload's traced run also measures
    companion: str | None = None

    def __init__(self, spark, work: Path, seed: int, cores: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        work.mkdir(parents=True, exist_ok=True)
        self.corpus = str(work / "corpus")
        self.docs = 0
        self.input_bytes = 0
        self.passes = 0

    def _write_html_corpus(self, rows) -> None:
        """Wrap each text in the fixtures' two-paragraph html shell and
        write (url, warc_ts, html) parquet; the golden text stays out."""
        from comic_text_detector_spark.fixtures import wrap_html_expr

        texts = self.work / "texts.parquet"
        _write_texts(rows, ["url", "warc_ts", "text"], texts)
        df = self.spark.read.parquet(str(texts)).select(
            "url", "warc_ts",
            wrap_html_expr(F.col("text"), two_paragraphs=True).alias("html"),
        )
        df.repartition(4 * self.cores).write.mode("overwrite").parquet(
            self.corpus
        )
        self.docs = len(rows)
        html = pq.read_table(self.corpus, columns=["html"]).column("html")
        self.input_bytes = pc.sum(pc.binary_length(html)).as_py()

    def read(self):
        from comic_text_detector_spark.sources.readers import read_documents

        with self.tracer.span("sources.read_documents"):
            return read_documents(self.spark, self.corpus)

    def first_pass(self) -> int:
        """The cold warm-up pass, checked; returns its wrong rows."""
        self.run_pass()
        return self.check()

    def cleanup(self) -> None:
        """Remove the output of the last pass."""

    def layers(self, ledger) -> dict:
        """Per-layer metrics of the traced passes that only this workload's
        spans give; the base covers the ``extract_fused`` action."""
        spans = ledger.tracer.named("plans.extract.extract_fused")
        if not spans:
            return {}
        return {"extract.task_run_ms_per_kdoc": statistics.median(
            sum(t.run_ms for t in ledger.tasks(s)) / self.docs * 1000
            for s in spans)}

    def sample_pages(self, n: int) -> list[bytes]:
        """The first ``n`` input pages in url order, huge tier left out so
        that where a few huge pages fall does not move the per-page time,
        for single-process kernel timing."""
        t = pq.read_table(self.corpus, columns=["url", "html"])
        t = t.filter(pc.less(pc.binary_length(t.column("html")), 64 << 10))
        return t.sort_by("url").slice(0, n).column("html").to_pylist()


class FusedUniform(Workload):
    """Bounded-size pages through ``extract_fused`` into a noop sink."""

    name = "extract_fused_uniform"
    checks_last_pass = False
    companion = "curate_text"

    def prepare(self) -> None:
        rows = corpus.uniform_rows(self.seed, FUSED_REPLICAS)
        self.golden = {u: t for u, _, t in rows}
        self._write_html_corpus(rows)

    def run_pass(self) -> None:
        from comic_text_detector_spark.plans.extract import extract_fused

        docs = self.read()
        with self.tracer.span("plans.extract.extract_fused"):
            extract_fused(docs).write.format("noop").mode("overwrite").save()
        self.passes += 1

    def first_pass(self) -> int:
        return self.check()

    def check(self) -> int:
        """Extract and collect, and compare byte for byte with the source
        text (the noop sink of a timed pass keeps nothing to check)."""
        from comic_text_detector_spark.plans.extract import extract_fused
        from comic_text_detector_spark.sources.readers import read_documents

        t = extract_fused(read_documents(self.spark, self.corpus)).select(
            "url", "text").toArrow()
        return wrong_rows(self.golden, zip(t.column("url").to_pylist(),
                                           t.column("text").to_pylist()))


class JobSkewed(Workload):
    """The durable job path: ``run_extract`` with as-of dedup, writing
    parquet, over captures with duplicates and a tail of huge pages."""

    name = "extract_job_skewed"

    def prepare(self) -> None:
        rows, self.golden = corpus.skewed_rows(self.seed, JOB_URLS)
        self._write_html_corpus(rows)

    def run_pass(self) -> None:
        from comic_text_detector_spark.plans.runner import run_extract

        self.out = self.work / f"job-{self.passes}"
        docs = self.read()
        with self.tracer.span("plans.runner.run_extract") as sp:
            summary = run_extract(self.spark, docs, str(self.out),
                                  run_id=f"pass{self.passes}")
            if sp is not None:
                sp.attrs.update(summary)
        self.passes += 1

    def check(self) -> int:
        """One row per url with the latest capture's text, and a metrics
        table whose ``docs_in`` counts every distinct url once."""
        from comic_text_detector_spark.plans.runner import (
            read_extracted,
            read_metrics,
        )

        t = read_extracted(self.spark, str(self.out)).select(
            "url", "text").toArrow()
        wrong = wrong_rows(self.golden, zip(t.column("url").to_pylist(),
                                            t.column("text").to_pylist()))
        docs_in = read_metrics(self.spark, str(self.out)).agg(
            F.sum("docs_in")).collect()[0][0]
        wrong += abs((docs_in or 0) - len(self.golden))
        self.output_per_input = _parquet_bytes(
            self.out / "extracted") / _parquet_bytes(Path(self.corpus))
        return wrong

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layers(self, ledger) -> dict:
        runs = ledger.tracer.named("plans.runner.run_extract")
        med = statistics.median
        urls = len(self.golden)
        # chunk jobs: those submitted after the staging pass ended
        chunk_ms = [
            sum(t.run_ms for t in ledger.tasks(
                s, (s.start + s.attrs["staging_s"]) * 1000))
            for s in runs
        ]
        return {
            "runner.staging_s": med(s.attrs["staging_s"] for s in runs),
            "runner.chunks_s": med(s.attrs["chunks_s"] for s in runs),
            "runner.chunk_task_run_ms_per_kdoc": med(chunk_ms) / urls * 1000,
            "runner.output_mb_per_input_mb": self.output_per_input,
            "runner.spark_jobs": med(len(ledger.jobs(s)) for s in runs),
        }


class DedupSkewed(Workload):
    """The streaming micro-batch path (``streaming/stream_extract.py``):
    ``asof_dedup`` then ``extract_fused`` into parquet, over captures with
    duplicates and a tail of huge pages."""

    name = "extract_dedup_skewed"
    companion = "extract_job_skewed"

    def prepare(self) -> None:
        rows, self.golden = corpus.skewed_rows(self.seed, DEDUP_URLS)
        self._write_html_corpus(rows)

    def run_pass(self) -> None:
        from comic_text_detector_spark.operators.dedup import asof_dedup
        from comic_text_detector_spark.plans.extract import extract_fused

        self.out = self.work / f"out-{self.passes}"
        docs = self.read()
        with self.tracer.span("operators.dedup.asof_dedup"):
            latest = asof_dedup(docs)
        with self.tracer.span("plans.extract.extract_fused"):
            extract_fused(latest).write.mode("overwrite").parquet(str(self.out))
        self.passes += 1

    def check(self) -> int:
        """One row per url, with the latest capture's text."""
        t = pq.read_table(self.out, columns=["url", "text"])
        self.rows_out = t.num_rows
        return wrong_rows(self.golden, zip(t.column("url").to_pylist(),
                                           t.column("text").to_pylist()))

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layers(self, ledger) -> dict:
        """The as-of window's exchange is the only shuffle of the pass."""
        m = super().layers(ledger)
        m["dedup.asof_shuffle_write_mb"] = statistics.median(
            sum(t.shuffle_write for t in ledger.tasks(s)) / (1 << 20)
            for s in ledger.tracer.named("pass"))
        m["dedup.rows_dropped"] = float(self.docs - self.rows_out)
        return m


class CurateText(Workload):
    """The seven curation stages of bench.py's ``run_curate_e2e`` over a
    seeded text corpus; each stage writes its survivors to parquet and the
    next stage reads them back."""

    name = "curate_text"
    html = False
    STAGES = ("robots", "decontaminate", "line_dedup", "cut_spans",
              "lm_floor", "logit_floor", "pack")

    def prepare(self) -> None:
        rows, ref = corpus.curate_rows(self.seed, CURATE_REPLICAS,
                                       CURATE_BASE_DOCS)
        _write_texts(rows, ["url", "text"], self.work / "corpus.parquet")
        _write_texts(ref, ["doc_id", "text"], self.work / "ref.parquet")
        self.corpus = str(self.work / "corpus.parquet")
        self.docs = len(rows)
        self.input_bytes = sum(len(t.encode()) for _, t in rows)
        self.n_private = sum("/private/" in u for u, _ in rows)
        self.reference: tuple | None = None

    def read(self):
        return self.spark.read.parquet(self.corpus)

    def _robots_rules(self):
        from comic_text_detector_spark.operators.curation import (
            robots_rules_for_agent,
        )

        hosts = self.spark.range(50).select(
            F.concat(F.lit("h"), F.col("id").cast("string"),
                     F.lit(".example")).alias("host"),
            F.when(F.col("id") % 2 == 0, F.lit(
                "User-agent: ctdbot\nDisallow: /private/\n\n"
                "User-agent: archiver\nDisallow: /\n"
            )).otherwise(F.lit(
                "User-agent: *\nDisallow: /private/\nDisallow: /*.zip$\n"
            )).alias("robots_txt"),
        )
        return robots_rules_for_agent(hosts, "ctdbot")

    def _stage(self, name: str, df):
        path = self.out / name
        df.write.mode("overwrite").parquet(str(path))
        self.counts[name] = _parquet_rows(path)
        return self.spark.read.parquet(str(path))

    def run_pass(self) -> None:
        from comic_text_detector_spark.operators.curation import (
            contaminated_docs,
            cut_spans,
            line_freq_dedup,
            quality_logit,
            robots_filter,
            substring_dup_spans,
        )
        from comic_text_detector_spark.operators.lm import (
            lm_score,
            train_bigram_lm,
        )
        from comic_text_detector_spark.operators.packing import pack_sequences

        self.out = self.work / f"curate-{self.passes}"
        self.counts: dict[str, int] = {}
        span = self.tracer.span
        spark = self.spark
        ref = spark.read.parquet(str(self.work / "ref.parquet"))
        cur = self.read()
        with span("curate.robots"):
            cur = self._stage("robots", robots_filter(cur, self._robots_rules()))
        with span("curate.decontaminate"):
            leaks = contaminated_docs(cur, ref, id_col="url", text_col="text")
            cur = self._stage("decontaminate", cur.join(
                leaks.filter(F.col("n_shared") > 0)
                .select(F.col("id").alias("url")), "url", "left_anti"))
        with span("curate.line_dedup"):
            cur = self._stage("line_dedup", line_freq_dedup(
                cur, "url", "text", max_doc_freq=4 * CURATE_REPLICAS,
            ).select("url", "text"))
        with span("curate.cut_spans"):
            spans = substring_dup_spans(
                cur, "url", "text", k=20, min_len=50, select_mod=SELECT_MOD,
                merge_gap=20 + SELECT_MOD,
            )
            cur = self._stage("cut_spans", cut_spans(cur, spans, "url", "text")
                              .select("url", F.col("text_cut").alias("text")))
        with span("curate.lm_floor"):
            uni, big = train_bigram_lm(ref, id_col="doc_id", text_col="text")
            low = lm_score(cur, uni, big, id_col="url", text_col="text")
            cur = self._stage("lm_floor", cur.join(
                low.filter(F.col("score") < LM_FLOOR).select("url"),
                "url", "left_anti"))
        with span("curate.logit_floor"):
            low = quality_logit(cur, "url", "text")
            cur = self._stage("logit_floor", cur.join(
                low.filter(F.col("logit") < LOGIT_FLOOR).select("url"),
                "url", "left_anti"))
        with span("curate.pack"):
            self._stage("pack", pack_sequences(
                cur.select("url", F.size(F.split("text", " ")).alias("n_tokens")),
                id_col="url", tokens_col="n_tokens", budget=PACK_BUDGET,
                split_long=True,
            ))
        self.passes += 1

    def _hashes(self, stage: str) -> Counter:
        df = self._read(stage)
        t = df.select(F.xxhash64(*df.columns).alias("h")).toArrow()
        return Counter(t.column("h").to_pylist())

    def _read(self, stage: str):
        return self.spark.read.parquet(str(self.out / stage))

    def _invariant_violations(self) -> int:
        """What each stage must do by construction of the corpus."""
        c = self.counts
        read = self._read
        base_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
        bad = abs(self.docs - self.n_private - c["robots"])
        bad += read("robots").filter(F.col("url").contains("/private/")).count()
        bad += read("decontaminate").filter(
            base_id < corpus.BENCH_REF_DOCS).count()
        bad += read("line_dedup").filter(
            F.col("text").contains(corpus.BOILER_LINE)).count()
        bad += read("cut_spans").filter(
            F.col("text").contains(corpus.DUP_PASSAGE)).count()
        bad += abs(c["line_dedup"] - c["decontaminate"])
        bad += abs(c["cut_spans"] - c["line_dedup"])
        bad += max(0, c["logit_floor"] - c["lm_floor"])
        bad += int(c["logit_floor"] == 0)
        # packing keeps every survivor and every token of it
        want = read("logit_floor").select(
            "url", F.size(F.split("text", " ")).alias("want"))
        got = read("pack").groupBy("url").agg(F.sum("n_tokens").alias("got"))
        bad += want.join(got, "url", "full_outer").filter(
            ~F.col("want").eqNullSafe(F.col("got"))).count()
        return bad

    def check(self) -> int:
        """The first checked pass must meet every stage's invariant and
        becomes the reference; every later pass must reproduce its stage
        row counts and its order-insensitive output checksum."""
        result = (dict(self.counts), self._hashes("logit_floor"),
                  self._hashes("pack"))
        if self.reference is None:
            self.reference = result
            return self._invariant_violations()
        counts, surv, packed = self.reference
        wrong = sum(abs(counts[s] - result[0][s]) for s in self.STAGES)
        return wrong + multiset_diff(surv, result[1]) + multiset_diff(
            packed, result[2])

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layers(self, ledger) -> dict:
        med = statistics.median
        m = {}
        for st in self.STAGES:
            spans = ledger.tracer.named(f"curate.{st}")
            m[f"curate.{st}_s"] = med(s.seconds for s in spans)
            m[f"curate.{st}_rows_out"] = float(self.counts[st])
        cut = [ledger.tasks(s) for s in ledger.tracer.named("curate.cut_spans")]
        m["curate.cut_spans_shuffle_write_mb"] = med(
            sum(t.shuffle_write for t in ts) / (1 << 20) for ts in cut)
        m["curate.cut_spans_spill_mb"] = med(
            sum(t.spill for t in ts) / (1 << 20) for ts in cut)
        return m


WORKLOADS = {w.name: w for w in (FusedUniform, DedupSkewed, JobSkewed,
                                  CurateText)}
