"""The three workloads: inputs, one pass, output checks, layer probes.

Each workload object is built from (seed, size) and used in this order:
``prepare`` (generate or load the cached input and the single-process
expectations), ``register`` (per Spark session), then ``run_pass`` and
``check`` for every pass, and in a traced run ``layers`` once at the end.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time

import inputs
import reference

# sizes: (normal, smoke)
LAKE = {"docs": (2000, 60), "files": (16, 4), "buckets": 16, "sample": (150, 20)}
WARC = {"docs": (2400, 60), "segments": (8, 2), "buckets": 16, "sample": (150, 20)}
CURATE = {"docs": (3000, 300), "passes_per_round": 2}

EXTRACTOR_GROUPS = ("html", "pdf", "ocr", "office", "legacy", "text", "archive")
_GROUP_OF_FMT = {
    "html": "html", "pdf": "pdf",
    "docx": "office", "xlsx": "office", "pptx": "office", "odt": "office",
    "ods": "office", "odp": "office", "epub": "office", "rtf": "office",
    "doc": "legacy", "xls": "legacy", "ppt": "legacy", "msg": "legacy",
    "ole": "legacy",
    "txt": "text", "xml": "text", "json": "text", "csv": "text",
    "eml": "text", "ps": "text",
    "zip": "archive", "tar": "archive",
}
P99_MIN_SAMPLES = 1000  # ten samples beyond the 99th percentile


def extractor_group(fmt: str, status: str) -> str | None:
    if status in ("ok_ocr", "needs_ocr"):
        return "ocr"
    return _GROUP_OF_FMT.get(fmt)


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"),
                                                     recursive=True)
               if os.path.isfile(p)) / 1e6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Extract:
    """Shared by lake_extract and warc_extract: each pass is one
    ``job.run(resume=False)`` into a fresh directory, and each generated
    document it extracts is one operation."""

    name = ""
    sizes: dict = {}
    round_ops = ("pass",)

    def __init__(self, seed: int, smoke: bool, work: str):
        self.seed, self.smoke, self.work = seed, smoke, work
        self.n_buckets = self.sizes["buckets"]
        self.out_root = os.path.join(work, "out", self.name)

    def _size(self, key: str) -> int:
        return self.sizes[key][1 if self.smoke else 0]

    def _expect(self, rows: list[dict]) -> None:
        """Single-process expectations from the generator's rows."""
        from cc_extract.extractors import extract_document

        self.n_rows_in = len(rows)
        self.bytes_in = sum(len(r["html"]) for r in rows)
        self.kept = reference.keep_newest(rows)
        # a seeded sample, plus every url with more than one crawl row, so
        # that the keep-newest choice is checked on each of them
        rng = random.Random(self.seed)
        urls = sorted(self.kept)
        multi = {r["url"] for r in rows if r is not self.kept[r["url"]]}
        self.sample = {}
        for u in set(rng.sample(urls, min(self._size("sample"), len(urls)))) | multi:
            r = extract_document(self.kept[u]["html"], u)
            self.sample[u] = (r["status"], reference.text_sha256(r["text"]))

    def register(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tr, k: int) -> str:
        from cc_extract import job

        out = os.path.join(self.out_root, f"pass{k}")
        tr.call("job.run", job.run, spark, self.docs, out,
                n_buckets=self.n_buckets, resume=False, spark_group=True)
        return out

    def check(self, out: str) -> tuple[list[str], int]:
        """Problems in one pass's output (empty list = correct) and the
        number of planted corrupt documents that did not come out as
        expected (the pass's failed operations); removes the output
        directory afterwards."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(out, "extracted"),
                          columns=["url", "fmt", "status", "text_sha256"])
        got = {r["url"]: r for r in t.to_pylist()}
        bad, failed = [], 0
        if t.num_rows != len(self.kept) or set(got) != set(self.kept):
            bad.append(f"{t.num_rows} rows / {len(got)} urls out, "
                       f"{len(self.kept)} distinct urls in")
        for u, row in self.kept.items():
            g = got.get(u)
            if g is None:
                continue
            fmt, status = reference.expected_outcome(row)
            wrong = []
            if (fmt is not None and g["fmt"] != fmt
                    and (fmt, g["fmt"]) not in reference.SEED_DEPENDENT_FMT_MISSES):
                wrong.append(f"{u}: fmt {g['fmt']} != {fmt}")
            if status is not None and g["status"] != status:
                wrong.append(f"{u}: status {g['status']} != {status}")
            if wrong and reference.is_planted_corrupt(row):
                failed += 1
            else:
                bad.extend(wrong)
        for u, (status, sha) in self.sample.items():
            g = got.get(u)
            if g is not None and (g["status"], g["text_sha256"]) != (status, sha):
                bad.append(f"{u}: ({g['status']}, {g['text_sha256']}) != "
                           f"single-process ({status}, {sha})")
        manifests = [json.load(open(p)) for p in
                     glob.glob(os.path.join(out, "manifest", "bucket_*.json"))]
        if sorted(m["bucket"] for m in manifests) != list(range(self.n_buckets)):
            bad.append(f"manifests cover {len(manifests)} of {self.n_buckets} buckets")
        if sum(m["n_docs"] for m in manifests) != t.num_rows:
            bad.append("manifest n_docs do not sum to the output row count")
        shutil.rmtree(out, ignore_errors=True)
        return bad[:20], failed

    @property
    def docs_per_pass(self) -> int:
        return self.n_rows_in

    @property
    def ops_per_pass(self) -> int:
        """One operation per generated document (the same count for every
        seed; its dup-url rows are part of it)."""
        return self._size("docs")

    @property
    def mb_per_pass(self) -> float:
        return self.bytes_in / 1e6

    # ---------------------------------------------------------- traced
    def extractor_layers(self) -> dict:
        """Direct single-process sniff/extract calls over the kept rows."""
        from time import perf_counter

        from cc_extract.extractors import extract_document
        from cc_extract.sniff import sniff_format

        sniff_s, ms, by_group = 0.0, [], {g: [] for g in EXTRACTOR_GROUPS}
        for u, row in self.kept.items():
            t0 = perf_counter()
            sniff_format(row["html"], u)
            t1 = perf_counter()
            r = extract_document(row["html"], u)
            t2 = perf_counter()
            sniff_s += t1 - t0
            ms.append((t2 - t1) * 1e3)
            g = extractor_group(r["fmt"], r["status"])
            if g is not None:
                by_group[g].append(ms[-1])
        m = {"sniff.us_per_doc": sniff_s / len(ms) * 1e6,
             "extractors.busy_s": sum(ms) / 1e3,
             "extractors.max_ms": max(ms)}
        for g, v in by_group.items():
            m[f"extractors.{g}.ms_p50"] = statistics.median(v) if v else 0.0
            if g in ("html", "pdf", "ocr"):
                m[f"extractors.{g}.busy_s"] = sum(v) / 1e3
        html = by_group["html"]
        m["extractors.html.ms_p99"] = (
            statistics.quantiles(html, n=100)[98]
            if len(html) >= P99_MIN_SAMPLES else 0.0)
        return m

    def layers(self, spark, tr) -> dict:
        from cc_extract import job, tableio

        m = self.extractor_layers()
        with tr.span("job.pipeline_df"):
            _noop(job.pipeline_df(self.docs, n_buckets=self.n_buckets))
        m["job.pipeline_df_s"] = tr.durations("job.pipeline_df")[-1]
        m["job.run_s"] = statistics.median(tr.durations("job.run"))
        for k, v in tr.counters["job.run"].items():
            m[f"job.{k}"] = v
        m["job.non_extract_core_s"] = m["job.executor_run_s"] - m["extractors.busy_s"]
        frame = job.pipeline_df(self.docs, n_buckets=self.n_buckets).cache()
        frame.count()
        out = os.path.join(self.out_root, "tableio")
        tr.call("tableio.write_partitioned", tableio.write_partitioned,
                frame.repartition(self.n_buckets, "bucket"), out, "bucket")
        frame.unpersist()
        m["tableio.write_partitioned_s"] = tr.durations("tableio.write_partitioned")[-1]
        m["tableio.out_mb"] = _du_mb(out)
        shutil.rmtree(out, ignore_errors=True)
        return m


class LakeExtract(_Extract):
    name = "lake_extract"
    sizes = LAKE

    def prepare(self) -> None:
        self.path = inputs.lake(os.path.join(self.work, "inputs"), self.seed,
                                self._size("docs"), self._size("files"))
        self._expect(inputs.read_rows(self.path))

    def register(self, spark) -> None:
        self.docs = spark.read.parquet(self.path)


class WarcExtract(_Extract):
    name = "warc_extract"
    sizes = WARC

    def prepare(self) -> None:
        self.path = inputs.warc_dir(os.path.join(self.work, "inputs"), self.seed,
                                    self._size("docs"), self._size("segments"))
        self.segments = sorted(glob.glob(os.path.join(self.path, "segments", "*.warc.gz")))
        self._expect(inputs.read_rows(os.path.join(self.path, "rows.parquet")))

    def register(self, spark) -> None:
        from cc_extract.warc import read_warc_dir

        self.docs = read_warc_dir(spark, os.path.join(self.path, "segments"))

    def layers(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from cc_extract.warc import iter_warc_gz, read_warc_dir

        m = super().layers(spark, tr)
        blobs = [open(p, "rb").read() for p in self.segments]
        t0 = time.perf_counter()
        with tr.span("warc.iter_warc_gz"):
            n = sum(1 for b in blobs for _ in iter_warc_gz(b))
        m["warc.iter_warc_gz_mb_per_s"] = (
            sum(map(len, blobs)) / 1e6 / (time.perf_counter() - t0))
        if n <= self.n_rows_in:
            raise RuntimeError(f"iter_warc_gz yielded {n} records for {self.n_rows_in} rows")
        with tr.span("warc.read_warc_dir", spark_group=True):
            read_warc_dir(spark, os.path.join(self.path, "segments")).agg(
                F.count("*"), F.sum(F.length("html"))).collect()
        m["warc.read_warc_dir_s"] = tr.durations("warc.read_warc_dir")[-1]
        return m


class Curate:
    """Each pass is ``textops.curation_funnel`` collected.  Each round is
    two passes plus one ``dup_clusters`` call on the chain table, the
    operation that fails while dup_clusters stops unconverged."""

    name = "curate"
    round_ops = ("pass",) * CURATE["passes_per_round"] + ("chain",)

    def __init__(self, seed: int, smoke: bool, work: str):
        self.seed, self.smoke, self.work = seed, smoke, work

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        root = os.path.join(self.work, "inputs")
        self.sf_dir = inputs.curate_dir(root, self.seed,
                                        CURATE["docs"][1 if self.smoke else 0])
        self.chain = inputs.chain_dir(root)
        rows = pq.read_table(os.path.join(self.sf_dir, "documents.parquet")).to_pylist()
        self.n_docs = len(rows)
        self.text_mb = sum(len(r["text"].encode()) for r in rows) / 1e6
        self.expected = reference.funnel(rows)
        chain_rows = pq.read_table(os.path.join(self.chain, "documents.parquet")).to_pylist()
        toks = {r["doc_id"]: reference.TOKEN_RX.findall(r["text"]) for r in chain_rows}
        comp = reference.cluster_ids(toks)
        if set(comp) != set(toks) or set(comp.values()) != {0}:
            raise RuntimeError("the chain table is not one near-dup component")
        self.chain_ids = set(toks)

    def register(self, spark) -> None:
        pass

    def run_pass(self, spark, tr, k: int):
        from cc_extract import textops

        with tr.span("textops.curation_funnel", spark_group=True):
            return textops.curation_funnel(spark, self.sf_dir).collect()

    def check(self, got) -> tuple[list[str], int]:
        rows = [(r["stage"], r["stage_name"], r["n_docs"], r["n_tokens"]) for r in got]
        bad = []
        if rows != self.expected:
            bad.append(f"funnel {rows} != single-process {self.expected}")
        if not rows or rows[0][2] != self.n_docs:
            bad.append(f"stage 0 holds {rows[0][2] if rows else None} of {self.n_docs} docs")
        if any(b[2] > a[2] for a, b in zip(rows, rows[1:])):
            bad.append("n_docs increases between stages")
        return bad, 0

    def run_chain(self, spark, tr) -> bool:
        """dup_clusters on the chain table: one cluster, id = smallest id?"""
        from cc_extract import textops

        with tr.span("textops.chain_components", spark_group=True):
            got = textops.dup_clusters(spark, self.chain).collect()
        return ({r["doc_id"] for r in got} == self.chain_ids
                and {r["cluster_id"] for r in got} == {min(self.chain_ids)})

    @property
    def docs_per_pass(self) -> int:
        return self.n_docs

    ops_per_pass = 1

    @property
    def mb_per_pass(self) -> float:
        return self.text_mb

    def layers(self, spark, tr) -> dict:
        from cc_extract import textops

        m = {"textops.curation_funnel_s": statistics.median(
            tr.durations("textops.curation_funnel"))}
        c = tr.counters["textops.curation_funnel"]
        for k in ("spark_jobs", "spark_stages", "spark_tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_write_mb"):
            m[f"textops.{k}"] = c[k]
        for fn in ("corpus_filter", "lsh_verified_near_dups", "dup_clusters",
                   "benchmark_decontamination"):
            with tr.span(f"textops.{fn}", spark_group=True):
                _noop(getattr(textops, fn)(spark, self.sf_dir))
            m[f"textops.{fn}_s"] = tr.durations(f"textops.{fn}")[-1]
        m["textops.dup_clusters.spark_jobs"] = tr.counters["textops.dup_clusters"]["spark_jobs"]
        m["textops.chain_components_s"] = statistics.median(
            tr.durations("textops.chain_components"))
        return m


WORKLOADS = {w.name: w for w in (LakeExtract, WarcExtract, Curate)}
