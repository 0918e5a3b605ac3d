"""Output checker: golden equality on a seeded sample, exactly-once on all docs.

The pure functions (``normalize``, ``render_spans``, ``diff_docs``,
``exactly_once``) take plain Python values so they can be tested without
Spark; ``check_extraction`` / ``check_previsacion`` collect the committed
output and feed them.
"""

from __future__ import annotations

import datetime
from collections import Counter
from dataclasses import dataclass, field

FLOAT_DIGITS = 9

# extract_fields keys compared per doc (plus spans, full_text, confidence)
FIELD_KEYS = (
    "ruc",
    "prestador_nombre",
    "paciente_nombre",
    "paciente_ci",
    "fecha_orden",
    "diagnostico_texto",
    "diagnostico_codigo_cie",
    "medico_matricula",
    "matricula_valida",
    "urgente",
    "practicas",
    "practicas_fuente",
)
ALT_KEYS = ("id_nomenclador", "similitud", "tiene_acuerdo")


def normalize(v):
    """Comparable form: floats rounded, dates as ISO strings, Rows as dicts."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return {k: normalize(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [normalize(x) for x in v]
    if isinstance(v, float):
        return round(v, FLOAT_DIGITS)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def render_spans(spans: list[dict]) -> str:
    """A golden span list as Spark renders ``cast(spans as string)`` for
    array<struct<kind,text,media_ref,order>> (the results' spans_json)."""

    def s(x):
        return "null" if x is None else str(x)

    return (
        "["
        + ", ".join(
            "{" + ", ".join(s(sp[k]) for k in ("kind", "text", "media_ref", "order")) + "}"
            for sp in spans
        )
        + "]"
    )


def expected_extraction(g: dict) -> dict:
    """Committed-row form of a golden.extract_document result."""
    out = {k: g["fields"][k] for k in FIELD_KEYS}
    out["spans_json"] = render_spans(g["spans"])
    out["full_text"] = g["full_text"]
    out["confianza_extraccion"] = g["confianza_extraccion"]
    out["requiere_revision"] = g["requiere_revision"]
    return normalize(out)


def expected_previsacion(p: dict) -> dict:
    """{"header": {...}, "details": {item: {...}}} from GoldenMatcher.previsacion."""
    details = {}
    for d in p["details"]:
        row = {k: v for k, v in d.items() if k not in ("doc_id", "matches_alternativos")}
        row["matches_alternativos"] = [
            {k: a[k] for k in ALT_KEYS} for a in d["matches_alternativos"]
        ]
        details[d["item"]] = row
    return normalize({"header": p["header"], "details": details})


def diff_docs(expected: dict[str, dict], got: dict[str, dict]) -> list[str]:
    """doc_ids whose committed value differs from the golden one on any key
    the golden defines (a doc missing from ``got`` counts as a mismatch)."""
    bad = []
    for doc_id, exp in expected.items():
        g = got.get(doc_id)
        if g is None or any(g.get(k) != v for k, v in exp.items()):
            bad.append(doc_id)
    return sorted(bad)


def exactly_once(input_ids: list[str], committed_ids: list[str]) -> dict[str, int]:
    """Counts of input docs not committed exactly once, and of committed ids
    that are not inputs at all."""
    counts = Counter(committed_ids)
    want = set(input_ids)
    return {
        "missing": sum(1 for i in want if counts.get(i, 0) == 0),
        "duplicated": sum(1 for i in want if counts.get(i, 0) > 1),
        "unexpected": sum(1 for i in counts if i not in want),
    }


@dataclass
class CheckResult:
    n_input: int
    n_checked: int
    mismatched: list[str] = field(default_factory=list)
    once: dict[str, int] = field(default_factory=dict)

    @property
    def golden_mismatch_frac(self) -> float:
        return len(self.mismatched) / self.n_checked if self.n_checked else 1.0

    @property
    def docs_missing_frac(self) -> float:
        return sum(self.once.values()) / self.n_input if self.n_input else 1.0

    @property
    def ok(self) -> bool:
        return not self.mismatched and not any(self.once.values()) and self.n_checked > 0


# -- Spark glue -----------------------------------------------------------------


def check_extraction(spark, out: str, input_ids: list[str], gold: dict) -> CheckResult:
    """Check a CheckpointedExtraction output root: every committed row of the
    current snapshot for exactly-once, ``results()`` for golden equality."""
    from pyspark.sql import functions as F

    from medical_ocr_service_spark.plans.checkpoint import CheckpointedExtraction
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable

    ck = CheckpointedExtraction(out, snapshots=True)
    raw = SnapshotTable(ck.results_path).read(spark)
    committed = [r[0] for r in raw.select("doc_id").collect()]
    cols = ["doc_id", "spans_json", "full_text", "confianza_extraccion", "requiere_revision"]
    rows = (
        ck.results(spark)
        .filter(F.col("doc_id").isin(list(gold)))
        .select(*cols, *FIELD_KEYS)
        .collect()
    )
    got = {r["doc_id"]: normalize(r.asDict(recursive=True)) for r in rows}
    expected = {d: expected_extraction(g) for d, g in gold.items()}
    return CheckResult(
        n_input=len(input_ids),
        n_checked=len(expected),
        mismatched=diff_docs(expected, got),
        once=exactly_once(input_ids, committed),
    )


def check_previsacion(spark, out: str, input_ids: list[str], gold_prev: dict) -> CheckResult:
    """Check the header/detail parquet written by the previsacion workload."""
    from pyspark.sql import functions as F

    header = spark.read.parquet(f"{out}/header")
    detail = spark.read.parquet(f"{out}/detail")
    committed = [r[0] for r in header.select("doc_id").collect()]
    ids = list(gold_prev)
    got: dict[str, dict] = {}
    for r in header.filter(F.col("doc_id").isin(ids)).collect():
        got[r["doc_id"]] = {"header": normalize(r.asDict(recursive=True)), "details": {}}
    for r in detail.filter(F.col("doc_id").isin(ids)).collect():
        d = r.asDict(recursive=True)
        d["matches_alternativos"] = [
            {k: a[k] for k in ALT_KEYS} for a in d["matches_alternativos"] or []
        ]
        doc = got.setdefault(d.pop("doc_id"), {"header": {}, "details": {}})
        doc["details"][d["item"]] = normalize(d)
    expected = {d: expected_previsacion(p) for d, p in gold_prev.items()}
    # project the committed rows onto the keys the golden defines
    for doc_id, exp in expected.items():
        g = got.get(doc_id, {"header": {}, "details": {}})
        got[doc_id] = {
            "header": {k: g["header"].get(k) for k in exp["header"]},
            "details": {
                item: {k: row.get(k) for k in exp["details"].get(item, row)}
                for item, row in g["details"].items()
            },
        }
    return CheckResult(
        n_input=len(input_ids),
        n_checked=len(expected),
        mismatched=diff_docs(expected, got),
        once=exactly_once(input_ids, committed),
    )
