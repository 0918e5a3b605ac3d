"""Flagship end-to-end plan: interleaved docs -> pre-visacion tables.

Spark lifecycle (SURVEY §3.1): read docs -> extract (explode/clean/reassemble/
fields) -> provider match cascade -> explode practices -> vectorized candidate
match + agreement pick-best -> header + detail result tables, detail ordered
by item (the UNIQUE(visacion_previa_id, item) invariant,
/root/reference/database/schema_matching.sql:279-288).

Replaces reference boundaries 1-5 (HTTP->queue->subprocess->OpenAI->DB,
src/workers/previsacion.worker.js:18-227) with one declarative DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config
from ..operators import extract, matching


def plan_id_col() -> F.Column:
    """Deterministic plan assignment (stand-in for order metadata.plan_id,
    ordenes-batch.routes.js:44): last 2 digits of doc_id mod 2, + 1."""
    return (F.substring(F.col("doc_id"), -2, 2).cast("int") % 2 + 1).alias("plan_id_plan")


def run_previsacion(
    docs: DataFrame,
    media: DataFrame,
    prestadores: DataFrame,
    nomencladores: DataFrame,
    acuerdos: DataFrame,
    media_strategy: str = "join",
    tenant_id: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (visacion_previa, det_visacion_previa).

    ``media_strategy`` as in extract.clean_spans.

    The practice matcher is chosen by the agreements table's size:
    match_practices_fast ships the agreements dim in the UDF closure (zero
    extra shuffles — correct only while the dim fits driver/executor
    memory) up to config.FAST_MATCH_MAX_AGREEMENTS rows; above that,
    match_practices, the broadcast-join path that scales to any dim size.
    The size probe is a ``limit(cap+1)`` count (CollectLimit — scans
    partitions incrementally and stops at cap+1 rows), NOT a full-table
    count() action.

    ``tenant_id`` (P1, reference matching.service.js:25-29 / migration_
    multitenant.sql): when given, the whole run is scoped to ONE tenant —
    docs AND every dimension are filtered up front, exactly like the
    reference appending ``AND tenant_id = $n`` to each query. A tenant-a
    document can never match a tenant-b provider/nomenclador/agreement.
    Partition-prunable at scale when tables are partitioned by tenant."""
    if tenant_id is not None:
        if media_strategy == "denormalized":
            # the media sidecar is not tenant-filtered; unioned media rows
            # would resurrect other tenants' spans
            raise ValueError(
                "tenant_id scoping requires media_strategy 'join' "
                "(the denormalized sidecar is not tenant-scoped)"
            )
        docs = docs.filter(F.col("tenant_id") == tenant_id)
        prestadores = prestadores.filter(F.col("tenant_id") == tenant_id)
        nomencladores = nomencladores.filter(F.col("tenant_id") == tenant_id)
        acuerdos = acuerdos.filter(F.col("tenant_id") == tenant_id)
    prest_e = matching.embed_prestadores(prestadores)
    nom_e = matching.embed_nomencladores(nomencladores)

    extracted = extract.extract_documents(docs, media, media_strategy=media_strategy)

    doc_fields = extracted.select(
        "doc_id",
        F.col("fields.ruc").alias("ruc"),
        F.col("fields.prestador_nombre").alias("prestador_nombre"),
        F.col("fields.paciente_nombre").alias("paciente_nombre"),
        F.col("fields.paciente_ci").alias("paciente_ci"),
        F.col("fields.fecha_orden").alias("fecha_orden"),
        F.col("fields.diagnostico_texto").alias("diagnostico_texto"),
        F.col("fields.diagnostico_codigo_cie").alias("diagnostico_codigo_cie"),
        F.col("fields.medico_matricula").alias("medico_matricula"),
        F.col("fields.matricula_valida").alias("matricula_valida"),
        F.col("fields.urgente").alias("urgente"),
        F.col("fields.practicas").alias("practicas"),
        F.col("fields.confianza_extraccion").alias("confianza_extraccion"),
        plan_id_col(),
    )

    # Both outputs (header AND detail) hang off this intermediate; without
    # persistence the full extraction + provider-match lineage recomputes
    # once per output branch (measured 30s -> 20s at 300k docs/32 cores).
    # MEMORY_AND_DISK: spill-safe at scale; callers may unpersist after
    # writing both tables.
    from pyspark import StorageLevel

    with_prest = matching.match_prestador(doc_fields, prest_e).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    practices = with_prest.select(
        "doc_id",
        "prestador_id",
        "plan_id_plan",
        F.explode("practicas").alias("p"),
    ).select(
        "doc_id",
        F.col("p.item").alias("item"),
        F.col("p.descripcion").alias("descripcion"),
        F.col("p.cantidad").alias("cantidad"),
        F.col("p.confianza").alias("confianza"),
        "prestador_id",
        "plan_id_plan",
    )

    # fused closure-side matcher: identical rows to match_practices (pytest
    # asserts), but zero candidate-explode shuffles — dims ship in the UDF
    # closure per the broadcast-dimension pattern. Guarded: the closure-side
    # dict only works while the agreements dim fits in memory, so a bounded
    # probe (1-column CollectLimit, stops after cap+1 rows) picks the plan
    # without a full scan of the agreements table.
    cap = config.FAST_MATCH_MAX_AGREEMENTS
    if acuerdos.select(acuerdos.columns[0]).limit(cap + 1).count() <= cap:
        det = matching.match_practices_fast(practices, nom_e, acuerdos)
    else:
        det = matching.match_practices(practices, nom_e, acuerdos)

    # per-doc practice-match confidence mean (A13 component)
    det_stats = det.groupBy("doc_id").agg(
        F.round(F.avg(F.coalesce(F.col("similitud"), F.lit(0.0))), 4).alias(
            "_match_conf"
        ),
        F.count("*").alias("n_practicas"),
    )

    header = (
        with_prest.join(det_stats, "doc_id", "left")
        .withColumn(
            "confianza_general",
            F.round(
                (
                    F.col("confianza_extraccion")
                    + F.coalesce(F.col("prestador_confianza"), F.lit(0.0))
                    + F.coalesce(F.col("_match_conf"), F.lit(0.0))
                )
                / F.lit(3.0),
                2,
            ),
        )
        .withColumn(
            "requiere_revision",
            F.col("confianza_general") < F.lit(config.REVIEW_THRESHOLD),
        )
        .select(
            "doc_id",
            "paciente_ci",
            "paciente_nombre",
            F.to_date("fecha_orden").alias("fecha_orden"),
            F.col("prestador_id").alias("prestador_id_sugerido"),
            "prestador_confianza",
            "prestador_metodo",
            "medico_matricula",
            "diagnostico_texto",
            "diagnostico_codigo_cie",
            "urgente",
            F.coalesce("n_practicas", F.lit(0)).alias("n_practicas"),
            "confianza_extraccion",
            "confianza_general",
            "requiere_revision",
            F.lit("PENDIENTE").alias("estado"),
        )
    )
    if tenant_id is not None:
        # thread the owning tenant onto the header so downstream feedback can
        # enforce ownership (reference feedback.routes.js:63-69 re-checks
        # `WHERE id=$1 AND tenant_id=$2` before any mutation)
        header = header.withColumn("tenant_id", F.lit(tenant_id))

    detail = det.select(
        "doc_id",
        "item",
        F.col("descripcion").alias("descripcion_original"),
        "cantidad",
        "nomenclador_id_sugerido",
        "nomenclador_descripcion",
        "nomenclador_confianza",
        "similitud",
        "matches_alternativos",
        "tiene_acuerdo",
        "id_acuerdo",
        "precio_acuerdo",
        "alerta",
    )

    return header, detail
