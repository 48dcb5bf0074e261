"""The benchmark's workloads: one timed repetition each, the correctness
check of its output, and the traced run's layer probes.

crawl    run_extract_job(resume=False) of the seeded pages into a fresh table.
recrawl  run_extract_job(resume=True) of the same pages plus ~10% new urls
         into a restored copy of the committed crawl table.

The jobs/curate.py default chain (CurateWorkload) runs once in the traced
crawl run, over a sample of the crawl output with planted exact and
near-duplicate copies.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import inputs as inputs_mod

# urls per repetition whose id, error and text are compared with an
# in-process kernel.extract.extract reference
CHECK_SAMPLE = 48
# docs timed in-process, on one core, per public kernel function; at 2,400
# pages, 1,200 keep one AES-256 R6 PDF in the sample
KERNEL_SAMPLE = 1200
KERNEL_WARMUP = 40
MIN_QUALITY = 60       # jobs/curate.py defaults
JACCARD = 0.8


@dataclass
class Rep:
    wall_s: float
    docs: int                 # docs the repetition completed
    attempted: int            # docs whose output was checked
    failed: int               # of those, docs whose output was wrong
    stored_bytes: int         # bytes the repetition added to its output
    stored_docs: int          # docs in those bytes
    kernel_times: list[float] = field(default_factory=list)
    kernel_errors: int = 0


def file_rows_bytes(files: list[str]) -> tuple[int, int]:
    """(rows, bytes) of parquet files, from their footers and sizes."""
    import pyarrow.parquet as pq

    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files)


def _read_files(files: list[str], columns: list[str], urls=None):
    import pyarrow.parquet as pq

    filters = [("url", "in", sorted(urls))] if urls is not None else None
    return pq.ParquetDataset(files, filters=filters).read(columns=columns)


def _sample_reference(pages_dir: str, urls: list[str]) -> dict:
    """{url: (id, error, text)} from the kernel, called in-process."""
    import pyarrow.parquet as pq

    from docvision_spark.kernel.extract import extract

    tbl = pq.ParquetDataset(pages_dir, filters=[("url", "in", urls)]).read(
        columns=["url", "html"])
    ref = {}
    for url, html in zip(tbl.column("url").to_pylist(),
                         tbl.column("html").to_pylist()):
        r = extract(url, html)
        ref[url] = (r.id, r.error, r.text)
    if len(ref) != len(urls):
        raise RuntimeError(f"reference sample found {len(ref)} of "
                           f"{len(urls)} urls in {pages_dir}")
    return ref


def _sample_mismatches(files: list[str], ref: dict) -> int:
    got = _read_files(files, ["url", "id", "error", "text"], ref)
    rows: dict[str, list] = {}
    for r in got.to_pylist():
        rows.setdefault(r["url"], []).append((r["id"], r["error"], r["text"]))
    return sum(rows.get(u) != [want] for u, want in ref.items())


class ExtractWorkload:
    """crawl and recrawl: run_extract_job into a table; checks row counts
    and a seeded url sample against the in-process kernel."""

    def __init__(self, spark, inp, work_dir: str, tracer, resume: bool):
        import pyarrow.parquet as pq

        meta = inp.meta
        self.spark = spark
        self.tracer = tracer
        self.resume = resume
        self.pages = inp.path("pages")
        self.base = inp.path("base") if resume else None
        self.out = os.path.join(work_dir, "out")
        self.total_docs = meta["docs"]
        self.new_docs = len(meta["new_urls"]) if resume else meta["docs"]
        self.base_files = (set(inputs_mod.table_files(self.base))
                           if resume else set())
        urls = sorted(pq.read_table(self.pages, columns=["url"])
                      .column("url").to_pylist())
        rng = random.Random(meta["seed"])
        if resume:
            new = set(meta["new_urls"])
            sample = (rng.sample([u for u in urls if u not in new], CHECK_SAMPLE // 2)
                      + rng.sample(sorted(new), CHECK_SAMPLE // 2))
        else:
            sample = rng.sample(urls, CHECK_SAMPLE)
        self.reference = _sample_reference(self.pages, sample)

    def prepare(self) -> None:
        # the previous repetition's table stays until here: the traced run
        # reads the last one
        shutil.rmtree(self.out, ignore_errors=True)
        if self.resume:
            # the committed crawl table is restored by copy; its files keep
            # their names, so the manifest stays valid in the copy
            shutil.copytree(self.base, self.out)

    def run(self) -> dict:
        from docvision_spark.pipeline.extract_job import run_extract_job

        return run_extract_job(self.spark, self.pages, self.out,
                               resume=self.resume)

    def extract_all(self) -> None:
        """Untimed full extraction of the pages into a throwaway table: the
        work that building the recrawl base does, for runs whose inputs
        were cached. Without it a cached recrawl run measures ~20% slower
        than a fresh one."""
        from docvision_spark.pipeline.extract_job import run_extract_job

        full = self.out + "-full"
        run_extract_job(self.spark, self.pages, full, resume=False)
        shutil.rmtree(full)

    def check(self, wall_s: float, summary: dict) -> Rep:
        files = inputs_mod.table_files(self.out)
        rel_base = {os.path.relpath(f, self.base) for f in self.base_files}
        added = [f for f in files if os.path.relpath(f, self.out) not in rel_base]
        total_rows, _ = file_rows_bytes(files)
        added_rows, added_bytes = file_rows_bytes(added)
        failed = (abs(total_rows - self.total_docs)
                  + abs(summary["docs"] - self.new_docs)
                  + _sample_mismatches(files, self.reference))
        rep = Rep(wall_s=wall_s, docs=summary["docs"], attempted=self.new_docs,
                  failed=min(failed, self.new_docs), stored_bytes=added_bytes,
                  stored_docs=added_rows)
        if self.tracer.enabled:
            t = _read_files(added, ["processing_time", "error"])
            rep.kernel_times = t.column("processing_time").to_pylist()
            rep.kernel_errors = t.num_rows - t.column("error").null_count
        return rep

    def cleanup(self) -> None:
        pass

    def install_wrappers(self) -> list:
        """Spans around the calls run_extract_job makes into other modules:
        planning the resume anti-join and the extract stage, the snapshot
        commit and the lineage metrics (whose Spark jobs are labelled)."""
        from docvision_spark.pipeline import extract_job, lineage, snapshots

        return [
            self.tracer.wrap(snapshots, "committed_urls", "plan"),
            self.tracer.wrap(extract_job, "extract_pages", "plan"),
            self.tracer.wrap(snapshots, "commit", "commit"),
            self.tracer.wrap(lineage, "write_metrics", "lineage",
                             description="lineage", spark=self.spark),
        ]

    def probes(self) -> dict[str, float]:
        """Noop-sink timings of the scan, the Arrow feed and the extract
        plan (crawl), or of the resume anti-join (recrawl)."""
        from docvision_spark.pipeline.extract_job import (extract_pages,
                                                          read_pages)
        from docvision_spark.pipeline.snapshots import committed_urls

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        pages = read_pages(self.spark, self.pages)
        if self.resume:
            return {"resume.s": noop(pages.join(
                committed_urls(self.spark, self.base), "url", "left_anti"))}
        _, pages_bytes = file_rows_bytes(
            [os.path.join(d, f) for d, _, fs in os.walk(self.pages)
             for f in fs if f.endswith(".parquet")])
        scan_s = noop(pages)
        return {
            "scan.s": scan_s,
            "scan.mb_per_s": pages_bytes / 2**20 / scan_s,
            "feed.s": noop(pages.mapInPandas(_identity, schema=pages.schema)),
            "extract.s": noop(extract_pages(pages)),
        }


def _identity(batches):
    """mapInPandas body that returns its input: the Arrow feed floor."""
    yield from batches


def kernel_layers(pages_dir: str, seed: int) -> dict[str, float]:
    """Time each public kernel function over a seeded page sample, in this
    process on one core. The sample keeps the pages' stratum shares (see
    inputs.stratum). ``kernel.self_s`` is what extract() spends beyond the
    functions it calls."""
    import pyarrow.parquet as pq

    from docvision_spark.kernel import pdf_text
    from docvision_spark.kernel.charset import decode_html
    from docvision_spark.kernel.dom import segment_with_meta
    from docvision_spark.kernel.extract import extract
    from docvision_spark.kernel.feed import feed_blocks, looks_like_feed
    from docvision_spark.kernel.markdown import emit

    tbl = pq.read_table(pages_dir, columns=["url", "html"]).sort_by("url")
    pages = list(zip(tbl.column("url").to_pylist(),
                     tbl.column("html").to_pylist()))
    strata = [inputs_mod.stratum(u, h) for u, h in pages]
    docs = [pages[i] for i in inputs_mod.stratified_sample(
        strata, min(KERNEL_SAMPLE, len(pages)), random.Random(seed))]
    acc = dict.fromkeys(["charset", "dom", "feed", "markdown", "pdf",
                         "extract"], 0.0)

    def timed(key, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        # typed kernel errors (encrypted or unsupported PDFs) are part of
        # the corpus; extract() turns them into error rows the same way
        except Exception:  # noqa: BLE001
            return None
        finally:
            acc[key] += time.perf_counter() - t0

    for sample in (docs[:KERNEL_WARMUP], docs):
        acc.update(dict.fromkeys(acc, 0.0))
        for url, payload in sample:
            timed("extract", extract, url, payload)
            if payload[:5] == b"%PDF-":
                timed("pdf", pdf_text.parse_pdf, payload)
                continue
            decoded = timed("charset", decode_html, payload)[0]
            if looks_like_feed(decoded):
                blocks = timed("feed", feed_blocks, decoded)
            else:
                blocks = (timed("dom", segment_with_meta, decoded) or [None])[0]
            if blocks is not None:
                timed("markdown", emit, blocks)
    parts = sum(v for k, v in acc.items() if k != "extract")
    out = {f"kernel.{k}_s": v for k, v in acc.items() if k != "extract"}
    out["kernel.self_s"] = acc["extract"] - parts
    out["kernel.docs_per_s_core"] = len(docs) / acc["extract"]
    return out


class CurateWorkload:
    """The jobs/curate.py default chain from an extracted table; checks
    that every planted copy is dropped."""

    STAGES = ("urls", "validate", "canonical", "boilerplate", "quality",
              "exact", "minhash", "write", "artifacts")

    def __init__(self, spark, input_dir: str, planted: list[dict],
                 work_dir: str, tracer):
        import pyarrow.parquet as pq

        self.spark = spark
        self.tracer = tracer
        self.input = input_dir
        self.docs = pq.ParquetDataset(input_dir).read(columns=["url"]).num_rows
        self.planted = planted
        self.copies = {p["copy"] for p in self.planted}
        self.out = os.path.join(work_dir, "curated")
        self.cached: list = []
        self.last: dict = {}

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from docvision_spark.functions.boilerplate import strip_frequent_lines
        from docvision_spark.functions.dedup import (minhash_artifacts,
                                                     minhash_lsh_pairs)
        from docvision_spark.functions.text import with_quality
        from docvision_spark.functions.urls import resolve_href, url_dedup
        from docvision_spark.pipeline.validate import validation_flags

        span = self.tracer.span
        report: dict = {}
        df = self.spark.read.parquet(self.input)
        with span("urls"):
            # url_dedup adds its own canonical_url column: keep the
            # publisher's rel=canonical aside while it runs
            out = (url_dedup(df.withColumnRenamed("canonical_url", "_canon_href"))
                   .drop("canonical_url")
                   .withColumnRenamed("_canon_href", "canonical_url").cache())
            report["after_url_dedup"] = out.count()
        with span("validate"):
            valid = validation_flags(out).filter(
                F.col("valid") & F.col("error").isNull())
            valid = valid.filter(~F.coalesce(F.col("robots"), F.lit(""))
                                 .contains("noindex")).cache()
            report["after_robots"] = valid.count()
        with span("canonical"):
            tagged = valid.withColumn(
                "_canon_abs", resolve_href(F.col("url"), F.col("canonical_url")))
            is_variant = (F.col("_canon_abs").isNotNull()
                          & (F.col("_canon_abs") != F.col("url")))
            targets = (tagged.filter(~F.coalesce(is_variant, F.lit(False)))
                       .select(F.col("url").alias("_canon_abs")))
            deferred = (tagged.filter(is_variant)
                        .join(targets, "_canon_abs", "left_semi").select("url"))
            valid2 = valid.join(deferred, "url", "left_anti").cache()
            report["after_canonical"] = valid2.count()
        with span("boilerplate"):
            stripped = strip_frequent_lines(valid2, text_col="text", min_docs=4)
            stripped = stripped.filter(F.length(F.trim("text")) > 0).cache()
            report["after_strip"] = stripped.count()
        with span("quality"):
            kept = (with_quality(stripped, "text")
                    .filter(F.col("quality_score") >= MIN_QUALITY)
                    .select("url", "id", "text", "markdown", "page_count",
                            "lang", "quality_score", "n_stripped_lines")
                    .cache())
            report["quality_pass"] = kept.count()
            report["boiler_lines_stripped"] = (
                kept.agg(F.sum("n_stripped_lines")).first()[0] or 0)
        with span("exact"):
            kept = kept.withColumn("content_md5", F.md5(F.col("text")))
            w_min = kept.groupBy("content_md5").agg(F.min("url").alias("url"))
            exact = kept.join(w_min, ["content_md5", "url"])
            report["after_exact_dedup"] = exact.count()
        with span("minhash"):
            pairs = minhash_lsh_pairs(exact, id_col="url", text_col="text",
                                      jaccard_threshold=JACCARD)
            losers = pairs.select(F.col("id_b").alias("url")).distinct()
            curated = exact.join(losers, "url", "left_anti")
            report["after_near_dedup"] = curated.count()
        with span("write"):
            curated.write.mode("overwrite").parquet(os.path.join(self.out, "data"))
        with span("artifacts"):
            sh, bands = minhash_artifacts(curated, id_col="url", text_col="text")
            art = os.path.join(self.out, "artifacts")
            sh.write.mode("overwrite").parquet(os.path.join(art, "shingles"))
            bands.write.mode("overwrite").parquet(os.path.join(art, "bands"))
        with open(os.path.join(self.out, "report.json"), "w") as f:
            json.dump(report, f, indent=1)
        self.cached = [out, valid, valid2, stripped, kept]
        self.last = {"exact": exact, "pairs": pairs}
        return report

    def check(self, wall_s: float, report: dict) -> Rep:
        import pyarrow.parquet as pq

        data = os.path.join(self.out, "data")
        kept = set(pq.read_table(data, columns=["url"]).column("url").to_pylist())
        files = [os.path.join(data, f) for f in os.listdir(data)
                 if f.endswith(".parquet")]
        failed = (len(kept & self.copies)
                  + abs(report["after_near_dedup"] - len(kept)))
        return Rep(wall_s=wall_s, docs=self.docs, attempted=self.docs,
                   failed=min(failed, self.docs),
                   stored_bytes=sum(os.path.getsize(f) for f in files),
                   stored_docs=len(kept))

    def cleanup(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []
        shutil.rmtree(self.out, ignore_errors=True)

    def minhash_stats(self) -> dict[str, float]:
        """Pairs found and recall of the planted near copies whose both
        docs reach the near-dup stage, from the last repetition."""
        exact_urls = {r.url for r in self.last["exact"].select("url").collect()}
        pairs = {(r.id_a, r.id_b) for r in
                 self.last["pairs"].select("id_a", "id_b").collect()}
        reachable = [(p["orig"], p["copy"]) for p in self.planted
                     if p["kind"] == "near"
                     and p["orig"] in exact_urls and p["copy"] in exact_urls]
        found = sum(pair in pairs for pair in reachable)
        return {"minhash.pairs": float(len(pairs)),
                "minhash.recall": found / len(reachable) if reachable else 0.0}
