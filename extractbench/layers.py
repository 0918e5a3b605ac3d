"""Traced run: each layer timed alone on a materialised input.

For every layer the input is persisted and counted first (outside the
span), then the layer's public function runs inside a span into the noop
sink. ``ledger`` attributes the event-log stages of each span to it.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import functions as F

from ledger import Tracer

# share of the docs already committed in the checkpoint the resume layers
# read; the rest are pending
CHECKPOINT_DONE_PCT = 90


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    """Persist ``df`` and compute it once; returns (cached df, row count)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def groupby_extraction(tr: Tracer, docs, media, counts: dict):
    """explode -> strip -> layout -> reassembly -> fields on cached inputs.
    Returns the cached (doc_id, full_text) frame the fields layer read."""
    from medical_ocr_service_spark.functions.extraction_udfs import (
        apply_pruned_layout,
        extract_fields_udf,
        strip_boilerplate_col,
    )
    from medical_ocr_service_spark.operators import extract

    with tr.span("extract.explode"):
        noop(extract.exploded_spans(docs))
    spans, counts["extract.explode.rows_out"] = materialize(extract.exploded_spans(docs))

    text, _ = materialize(spans.filter(F.col("kind") == "text"))
    with tr.span("extract.strip"):
        noop(text.withColumn("text", strip_boilerplate_col(F.col("text"))))

    media_spans, _ = materialize(
        spans.filter(F.col("kind") == "media")
        .drop("text")
        .join(media.select("media_ref", "layout_json"), "media_ref", "left")
    )
    with tr.span("extract.layout"):
        noop(apply_pruned_layout(media_spans, src="layout_json"))

    # reassembly self time = reassembled_docs - clean_spans on the same input
    with tr.span("extract.reassembly"):
        with tr.span("extract.reassembly.clean_spans"):
            noop(extract.clean_spans(docs, media))
        with tr.span("extract.reassembly.reassembled_docs"):
            noop(extract.reassembled_docs(docs, media))

    full_text, _ = materialize(
        extract.reassembled_docs(docs, media).select("doc_id", "full_text")
    )
    with tr.span("extract.fields"):
        noop(full_text.select("doc_id", extract_fields_udf(F.col("full_text"))))
    return full_text


def colocated_layer(tr: Tracer, wl, docs, media, counts: dict) -> None:
    """The co-located plan on doc_id-bucketed tables: the workload's own for
    extract_colocated, otherwise written here (untimed) from ``docs`` and
    ``media``. Self time = the plan minus its own bucketed scan."""
    from medical_ocr_service_spark.operators import extract
    from medical_ocr_service_spark.sources import bucketed
    from workloads import BUCKET_DB, N_BUCKETS, count_exchanges

    if wl.name != "extract_colocated":
        bucketed.write_bucketed_corpus(
            docs, media, N_BUCKETS, database=BUCKET_DB,
            location=os.path.abspath(os.path.join(wl.work, "bucketed")),
        )
    bdocs, bmedia = bucketed.read_bucketed_corpus(wl.spark, BUCKET_DB)
    counts["extract.colocated.exchanges"] = count_exchanges(
        extract.extract_documents_colocated(bdocs, bmedia)
    )
    with tr.span("extract.colocated"):
        with tr.span("extract.colocated.scan"):
            noop(bdocs)
            noop(bmedia)
        with tr.span("extract.colocated.plan"):
            noop(extract.reassembled_docs_colocated(bdocs, bmedia))


def checkpoint_done(seed: int):
    """Seeded, scattered ~CHECKPOINT_DONE_PCT% of doc_ids (xxhash64 of seed
    and doc_id): the docs a resumed run finds already committed."""
    h = F.pmod(F.xxhash64(F.lit(seed), F.col("doc_id")), F.lit(100))
    return h < F.lit(CHECKPOINT_DONE_PCT)


def checkpoint_layers(tr: Tracer, wl, docs, media, counts: dict) -> None:
    """The snapshot done-id read and checkpoint.pending (the anti-join)
    against a checkpoint that already holds ~CHECKPOINT_DONE_PCT% of the
    docs, committed untimed by the job itself on that subset."""
    from medical_ocr_service_spark.plans.checkpoint import CheckpointedExtraction
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable

    ck = CheckpointedExtraction(wl.before_rep("trace_ck"), snapshots=True)
    ck.run(docs.filter(checkpoint_done(wl.seed)), media)
    with tr.span("sources.snapshot.read"):
        noop(SnapshotTable(ck.results_path).read(wl.spark).select("doc_id"))
    with tr.span("checkpoint.pending"):
        noop(ck.pending(docs))
    counts["checkpoint.pending.rows_out"] = ck.pending(docs).count()


def snapshot_commit(tr: Tracer, committed, probe_root: str, counts: dict) -> None:
    """Commit the rows the timed job wrote into a fresh table, timed."""
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable

    rows, _ = materialize(committed)
    dst = SnapshotTable(probe_root)
    with tr.span("sources.snapshot.commit"):
        dst.commit_append(rows)
    files = dst.manifest()["added"]
    counts["sources.snapshot.files_written"] = len(files)
    counts["sources.snapshot.bytes_written"] = sum(os.path.getsize(f) for f in files)


def matching_layers(tr: Tracer, spark, full_text, paths: dict, counts: dict) -> None:
    """matching.prestador and matching.practices on the cached extraction
    output, with the same plan choice run_previsacion's defaults make."""
    from medical_ocr_service_spark import config
    from medical_ocr_service_spark.functions.extraction_udfs import extract_fields_udf
    from medical_ocr_service_spark.operators import matching
    from medical_ocr_service_spark.plans.previsacion import plan_id_col

    prest, nom, ac = (spark.read.parquet(paths[k]) for k in
                      ("prestadores", "nomencladores", "acuerdos_prestador"))
    prest_e, _ = materialize(matching.embed_prestadores(prest))
    nom_e, _ = materialize(matching.embed_nomencladores(nom))
    ac, n_ac = materialize(ac)
    doc_fields, _ = materialize(
        full_text.withColumn("fields", extract_fields_udf(F.col("full_text"))).select(
            "doc_id",
            *[F.col(f"fields.{c}").alias(c) for c in (
                "ruc", "prestador_nombre", "paciente_nombre", "paciente_ci",
                "fecha_orden", "diagnostico_texto", "diagnostico_codigo_cie",
                "medico_matricula", "matricula_valida", "urgente", "practicas",
                "confianza_extraccion",
            )],
            plan_id_col(),
        )
    )
    with tr.span("matching.prestador"):
        noop(matching.match_prestador(doc_fields, prest_e))
    with_prest, _ = materialize(matching.match_prestador(doc_fields, prest_e))
    practices, _ = materialize(
        with_prest.select(
            "doc_id", "prestador_id", "plan_id_plan", F.explode("practicas").alias("p")
        ).select(
            "doc_id",
            F.col("p.item").alias("item"),
            F.col("p.descripcion").alias("descripcion"),
            F.col("p.cantidad").alias("cantidad"),
            F.col("p.confianza").alias("confianza"),
            "prestador_id",
            "plan_id_plan",
        )
    )
    match = (
        matching.match_practices_fast
        if n_ac <= config.FAST_MATCH_MAX_AGREEMENTS
        else matching.match_practices
    )
    with tr.span("matching.practices"):
        noop(match(practices, nom_e, ac))
    counts["matching.practices.rows_out"] = match(practices, nom_e, ac).count()


def run_layers(tr: Tracer, wl, counts: dict, last_out: str) -> None:
    """Every layer on the corpus of workload ``wl`` (a workloads.Workload
    after prepare). Layers outside the workload's job are timed too, so each
    workload reports the whole ledger; traced.IN_JOB says which are in it."""
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable
    from workloads import Workload

    spark = wl.spark
    with tr.span("sources.scan"):
        docs_raw, media_raw = wl.inputs()
        noop(docs_raw)
        noop(media_raw)
    docs_all, n_docs = materialize(docs_raw)
    media, n_media = materialize(media_raw)
    counts["sources.scan.rows"] = n_docs + n_media

    full_text = groupby_extraction(tr, docs_all, media, counts)
    checkpoint_layers(tr, wl, docs_all, media, counts)
    colocated_layer(tr, wl, *Workload.inputs(wl), counts)
    matching_layers(tr, spark, full_text, wl.paths, counts)

    if wl.name == "previsacion":
        committed = spark.read.parquet(os.path.join(last_out, "header"))
    else:
        added = SnapshotTable(os.path.join(last_out, "results")).manifest()["added"]
        committed = spark.read.parquet(*added)
    snapshot_commit(tr, committed, os.path.join(wl.work, "out", "trace_commit"), counts)
