"""Seeded inputs and the timed call of each workload.

Every workload drives the pipeline only through its public entry points:
``CheckpointedExtraction.run(..., snapshots=True)`` (the body of
``jobs/run_extraction.py``) and ``plans.previsacion.run_previsacion``.
The program sees only the generated parquet files (and, for the co-located
workload, the doc_id-bucketed tables written from them).
"""

from __future__ import annotations

import math
import os
import random
import re
import shutil

import pyarrow.parquet as pq

# Corpus shape. One size for every workload, so the workloads differ only in
# layout and in the plan they run. The docs and media tables are written as
# N_FILES parquet files each, the way a batch written by an upstream job
# arrives; the scan then splits into several tasks.
N_DOCS = 3000
N_FILES = 8
N_BUCKETS = 8
GOLDEN_SAMPLE = 300
BUCKET_DB = "extractbench"

WORKLOADS = ("extract_colocated", "previsacion")


# -- inputs -------------------------------------------------------------------


def write_inputs(out_dir: str, seed: int, n_docs: int = N_DOCS) -> dict[str, str]:
    """Generate the seeded corpus under ``out_dir``; returns table -> path.

    Uses the repository's own corpus writer, then splits the documents and
    media tables into N_FILES contiguous parquet files."""
    from medical_ocr_service_spark.corpus import write

    one = os.path.join(out_dir, "_single")
    single = write.write_corpus(one, n_docs, seed=seed, with_golden=False)
    paths: dict[str, str] = {}
    for name, src in single.items():
        if name in ("documents_interleaved", "media"):
            dst = os.path.join(out_dir, name)
            os.makedirs(dst)
            tbl = pq.read_table(src)
            step = math.ceil(tbl.num_rows / N_FILES)
            for i in range(N_FILES):
                pq.write_table(
                    tbl.slice(i * step, step),
                    os.path.join(dst, f"part-{i:05d}.parquet"),
                )
        else:
            dst = os.path.join(out_dir, os.path.basename(src))
            os.replace(src, dst)
        paths[name] = dst
    shutil.rmtree(one)
    return paths


def golden_sample(paths: dict[str, str], seed: int, n: int = GOLDEN_SAMPLE):
    """Golden extraction of a seeded sample of doc_ids.

    Returns (all input doc_ids, {doc_id: golden.extract_document output}).
    The full-corpus golden costs ~1 ms/doc in pure Python, so only a sample
    is checked; exactly-once is checked on every doc."""
    from medical_ocr_service_spark.corpus import golden

    docs = pq.read_table(paths["documents_interleaved"]).to_pylist()
    ids = sorted(d["doc_id"] for d in docs)
    picked = set(random.Random(seed).sample(ids, min(n, len(ids))))
    media = pq.read_table(
        paths["media"], columns=["media_ref", "layout_json", "doc_id"]
    ).to_pylist()
    media_map = {m["media_ref"]: m["layout_json"] for m in media if m["doc_id"] in picked}
    gold = {
        d["doc_id"]: golden.extract_document(d, media_map)
        for d in docs
        if d["doc_id"] in picked
    }
    return ids, gold


def golden_previsacion(gold: dict, seed: int) -> dict:
    """{doc_id: GoldenMatcher.previsacion(...)} for the sampled docs."""
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.corpus.golden_matching import GoldenMatcher

    matcher = GoldenMatcher(generator.synthesize_dimensions(seed=seed))
    return {doc_id: matcher.previsacion(g) for doc_id, g in gold.items()}


# -- workloads ----------------------------------------------------------------


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle or broadcast) in the physical plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if re.search(r"Exchange\b", line))


class Workload:
    """One workload: untimed ``prepare`` (once) and ``before_rep`` (per rep),
    and the timed ``call`` (one closed-loop job over all ``n_input`` docs,
    returns the docs it committed)."""

    name = ""

    def __init__(self, spark, paths: dict[str, str], work: str, seed: int):
        self.spark = spark
        self.paths = paths
        self.work = work
        self.seed = seed
        self.n_input = 0  # set by prepare

    def inputs(self):
        """The (docs, media) DataFrames the job reads."""
        return (
            self.spark.read.parquet(self.paths["documents_interleaved"]),
            self.spark.read.parquet(self.paths["media"]),
        )

    def prepare(self, n_input: int) -> None:
        self.n_input = n_input

    def before_rep(self, rep: str) -> str:
        out = os.path.join(self.work, "out", rep)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        return out

    def call(self, out: str) -> int:
        raise NotImplementedError


class ExtractColocated(Workload):
    name = "extract_colocated"

    def prepare(self, n_input: int) -> None:
        """Write the doc_id-bucketed tables the job reads, and count the
        Exchange nodes of the co-located plan on them (expected 0)."""
        from medical_ocr_service_spark.operators import extract
        from medical_ocr_service_spark.sources import bucketed

        super().prepare(n_input)
        docs, media = Workload.inputs(self)
        bucketed.write_bucketed_corpus(
            docs,
            media,
            N_BUCKETS,
            database=BUCKET_DB,
            location=os.path.abspath(os.path.join(self.work, "bucketed")),
        )
        self.exchanges = count_exchanges(extract.extract_documents_colocated(*self.inputs()))

    def inputs(self):
        from medical_ocr_service_spark.sources import bucketed

        return bucketed.read_bucketed_corpus(self.spark, BUCKET_DB)

    def call(self, out: str) -> int:
        from medical_ocr_service_spark.plans.checkpoint import CheckpointedExtraction

        docs, media = self.inputs()
        m = CheckpointedExtraction(out, snapshots=True).run(docs, media, colocated=True)
        return int(m["docs_processed"])


class Previsacion(Workload):
    name = "previsacion"

    def prepare(self, n_input: int) -> None:
        super().prepare(n_input)
        self.dims = {
            k: self.paths[k]
            for k in ("prestadores", "nomencladores", "acuerdos_prestador")
        }

    def call(self, out: str) -> int:
        from medical_ocr_service_spark.plans.previsacion import run_previsacion

        docs, media = self.inputs()
        prest, nom, ac = (self.spark.read.parquet(p) for p in self.dims.values())
        header, detail = run_previsacion(docs, media, prest, nom, ac)
        header.write.parquet(os.path.join(out, "header"))
        detail.write.parquet(os.path.join(out, "detail"))
        # run_previsacion persists its provider-matched intermediate and
        # leaves it to the caller; release it so reps do not accumulate
        self.spark.catalog.clearCache()
        return pq.ParquetDataset(os.path.join(out, "header")).read(
            columns=["doc_id"]
        ).num_rows


WORKLOAD_CLASSES = {cls.name: cls for cls in (ExtractColocated, Previsacion)}
