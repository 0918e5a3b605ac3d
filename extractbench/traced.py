"""Per-layer metrics of a traced run, from spans and the Spark event log."""

from __future__ import annotations

from ledger import Tracer, stages_in, totals
from measure import median

# name -> unit, in report order. Every layer is timed on every workload's
# corpus; IN_JOB below says which layers the workload's timed job runs.
# Figures that read 0 by design on some workload (the co-located plan's
# Exchange count, its job's shuffle bytes, spill and failed tasks at this
# size) are context, not metrics.
PER_LAYER_UNITS = {
    "sources.scan.task_core_s": "core-s",
    "sources.scan.rows": "count",
    "extract.explode.task_core_s": "core-s",
    "extract.explode.rows_out": "count",
    "extract.strip.task_core_s": "core-s",
    "extract.layout.task_core_s": "core-s",
    "extract.layout.py_bytes": "B",
    "extract.reassembly.task_core_s": "core-s",
    "extract.reassembly.shuffle_bytes": "B",
    "extract.fields.task_core_s": "core-s",
    "extract.fields.py_bytes": "B",
    "extract.colocated.task_core_s": "core-s",
    "checkpoint.pending.task_core_s": "core-s",
    "checkpoint.pending.rows_out": "count",
    "sources.snapshot.read_s": "s",
    "sources.snapshot.commit_s": "s",
    "sources.snapshot.bytes_written": "B",
    "sources.snapshot.files_written": "count",
    "matching.prestador.task_core_s": "core-s",
    "matching.practices.task_core_s": "core-s",
    "matching.practices.py_bytes": "B",
    "matching.practices.rows_out": "count",
    "session.start_s": "s",
    "job.task_core_s": "core-s",
    "job.gc_s": "s",
    "job.py_bytes_per_doc": "B/doc",
    "job.sched_wait_s": "s",
    "job.task_attempts": "count",
    "ledger.coverage": "fraction",
    "trace.overhead_frac": "fraction",
}

# The layers each workload's timed job runs; ledger.coverage sums their
# self task_core_s. The snapshot commit's write stages are the extraction
# job's output layer. The timed jobs start from an empty checkpoint, so
# checkpoint.pending (timed against a non-empty one) is in no job.
GROUPBY = (
    "extract.explode", "extract.strip", "extract.layout", "extract.reassembly",
    "extract.fields",
)
IN_JOB = {
    "extract_colocated": (
        "sources.scan", "sources.snapshot.commit", "extract.colocated", "extract.fields",
    ),
    "previsacion": ("sources.scan", *GROUPBY, "matching.prestador", "matching.practices"),
}
# self = first span minus second span, over the same input
SELF_TIME = {
    "extract.reassembly": (
        "extract.reassembly.reassembled_docs", "extract.reassembly.clean_spans"
    ),
    "extract.colocated": ("extract.colocated.plan", "extract.colocated.scan"),
}
# Stated tolerance of the reconciliation: isolated layers re-scan cached
# inputs and lose the fusion of the real job, and parts of the job (media
# join, union, observe() aggregate, pre-visación's dimension embedding and
# writes) belong to no named layer.
COVERAGE_TOLERANCE = (0.6, 1.4)


def layer_totals(stages: dict, tr: Tracer) -> dict[str, dict]:
    """Totals per layer span, with SELF_TIME layers as differences."""
    names = {s.name for s in tr.spans}
    out = {n: totals(stages_in(stages, tr.get(n))) for n in names if not n.startswith("job.")}
    for layer, (whole, part) in SELF_TIME.items():
        if whole in out:
            w, p = out.pop(whole), out.pop(part)
            out[layer] = {k: w[k] - p[k] for k in w}
    return out


def job_totals(stages: dict, tr: Tracer, reps: list[dict]) -> tuple[dict, dict]:
    """Median over the traced reps of the whole job's event-log totals:
    (metric values, context-only values)."""
    per_rep = []
    for i, rep in enumerate(reps):
        if rep["traced"] and rep["error"] is None:
            t = totals(stages_in(stages, tr.get(f"job.rep{i}")))
            t["docs"] = rep["committed"]
            per_rep.append(t)
    return {
        "task_core_s": median([t["run_s"] for t in per_rep]),
        "gc_s": median([t["gc_s"] for t in per_rep]),
        "py_bytes_per_doc": median(
            [(t["py_sent_b"] + t["py_returned_b"]) / t["docs"] for t in per_rep]
        ),
        "sched_wait_s": median([t["wait_s"] for t in per_rep]),
        "task_attempts": median([t["tasks"] for t in per_rep]),
    }, {
        "job.shuffle_bytes": median([t["shuffle_write_b"] for t in per_rep]),
        "job.spill_bytes": median([t["spill_b"] for t in per_rep]),
        "job.tasks_failed": sum(t["tasks_failed"] for t in per_rep),
    }


def per_layer_metrics(
    stages: dict,
    tr: Tracer,
    reps: list[dict],
    counts: dict,
    start_s: float,
    traced_job_s: float,
    untraced_job_s: float,
) -> tuple[dict[str, float], dict[str, float]]:
    """(per-layer metrics, context-only values)."""
    layers = layer_totals(stages, tr)
    job, extra = job_totals(stages, tr, reps)

    def core(name):
        return layers[name]["run_s"] if name in layers else 0.0

    def py(name):
        t = layers.get(name)
        return t["py_sent_b"] + t["py_returned_b"] if t else 0

    def wall(name):
        try:
            s = tr.get(name)
        except KeyError:
            return 0.0
        return s.end - s.start

    reasm = layers.get("extract.reassembly")
    m = {
        "sources.scan.task_core_s": core("sources.scan"),
        "sources.scan.rows": counts.get("sources.scan.rows", 0),
        "extract.explode.task_core_s": core("extract.explode"),
        "extract.explode.rows_out": counts.get("extract.explode.rows_out", 0),
        "extract.strip.task_core_s": core("extract.strip"),
        "extract.layout.task_core_s": core("extract.layout"),
        "extract.layout.py_bytes": py("extract.layout"),
        "extract.reassembly.task_core_s": core("extract.reassembly"),
        "extract.reassembly.shuffle_bytes": reasm["shuffle_write_b"] if reasm else 0,
        "extract.fields.task_core_s": core("extract.fields"),
        "extract.fields.py_bytes": py("extract.fields"),
        "extract.colocated.task_core_s": core("extract.colocated"),
        "checkpoint.pending.task_core_s": core("checkpoint.pending"),
        "checkpoint.pending.rows_out": counts.get("checkpoint.pending.rows_out", 0),
        "sources.snapshot.read_s": wall("sources.snapshot.read"),
        "sources.snapshot.commit_s": wall("sources.snapshot.commit"),
        "sources.snapshot.bytes_written": counts.get("sources.snapshot.bytes_written", 0),
        "sources.snapshot.files_written": counts.get("sources.snapshot.files_written", 0),
        "matching.prestador.task_core_s": core("matching.prestador"),
        "matching.practices.task_core_s": core("matching.practices"),
        "matching.practices.py_bytes": py("matching.practices"),
        "matching.practices.rows_out": counts.get("matching.practices.rows_out", 0),
        "session.start_s": start_s,
    }
    m.update({f"job.{k}": v for k, v in job.items()})
    m["ledger.coverage"] = sum(core(n) for n in IN_JOB[tr.workload]) / job["task_core_s"]
    m["trace.overhead_frac"] = traced_job_s / untraced_job_s - 1
    # local-mode shuffle reads never wait on a remote fetch, so this reads 0
    # in local mode; it is context, not a metric
    extra["extract.reassembly.fetch_wait_s"] = reasm["fetch_wait_s"] if reasm else 0.0
    extra["extract.colocated.exchanges"] = counts["extract.colocated.exchanges"]
    return m, extra
