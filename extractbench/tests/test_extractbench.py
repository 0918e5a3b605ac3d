"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest extractbench/tests -q
"""

from __future__ import annotations

import contextlib
import copy
import hashlib
import json
import os
import statistics
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import ledger  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

# -- event-log parser ------------------------------------------------------------


def _task(stage, launch, run_ms, gc_ms=0, reason="Success", shuffle_w=0, read=(0, 0),
          fetch_ms=0, spill=(0, 0), py=(0, 0)):
    acc = []
    if py[0]:
        acc.append({"Name": ledger.PY_SENT, "Update": str(py[0])})
    if py[1]:
        acc.append({"Name": ledger.PY_RETURNED, "Update": py[1]})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch, "Failed": reason != "Success", "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {
                "Local Bytes Read": read[0],
                "Remote Bytes Read": read[1],
                "Fetch Wait Time": fetch_ms,
            },
        },
    }


def _stage(event, sid, submit, complete=None):
    info = {"Stage ID": sid, "Stage Name": f"s{sid}", "Submission Time": submit}
    if complete is not None:
        info["Completion Time"] = complete
    return {"Event": event, "Stage Info": info}


CANNED = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
    _stage("SparkListenerStageSubmitted", 0, 1_000_000),
    _task(0, 1_000_000, 1500, gc_ms=100, shuffle_w=4096, py=(1000, 200)),
    _task(0, 1_000_250, 500, spill=(10, 5)),
    _task(0, 1_000_500, 700, reason="ExceptionFailure"),
    _stage("SparkListenerStageCompleted", 0, 1_000_000, 1_002_000),
    _stage("SparkListenerStageSubmitted", 1, 1_005_000),
    _task(1, 1_005_100, 2000, read=(3000, 1096), fetch_ms=40, py=(5, 7)),
    _stage("SparkListenerStageCompleted", 1, 1_005_000, 1_007_000),
]


def test_parser_on_canned_event_log(tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    lines = [json.dumps(e) for e in CANNED] + ["{not json"]
    (d / "local-1").write_text("\n".join(lines) + "\n")
    stages = ledger.parse_event_log(str(d))
    s0, s1 = stages[0], stages[1]
    assert s0["tasks"] == 3 and s0["tasks_failed"] == 1
    assert s0["run_s"] == pytest.approx(2.7)
    assert s0["gc_s"] == pytest.approx(0.1)
    assert s0["shuffle_write_b"] == 4096
    assert s0["spill_b"] == 15
    assert (s0["py_sent_b"], s0["py_returned_b"]) == (1000, 200)
    assert s0["wait_s"] == pytest.approx(0.75)  # launch - submission, summed
    assert s0["complete_ms"] == 1_002_000
    assert s1["shuffle_read_b"] == 4096
    assert s1["fetch_wait_s"] == pytest.approx(0.04)
    assert (s1["py_sent_b"], s1["py_returned_b"]) == (5, 7)


def test_stages_attributed_to_spans_by_window():
    stages = ledger.parse_event_lines(json.dumps(e) for e in CANNED)
    a = ledger.Span("a", 999.9, 1001.0, None, "w")
    b = ledger.Span("b", 1004.0, 1008.0, "a", "w")
    empty = ledger.Span("c", 1010.0, 1011.0, None, "w")
    assert [s["id"] for s in ledger.stages_in(stages, a)] == [0]
    assert [s["id"] for s in ledger.stages_in(stages, b)] == [1]
    t = ledger.totals(ledger.stages_in(stages, b))
    assert t["run_s"] == pytest.approx(2.0) and t["stages"] == 1
    assert ledger.totals(ledger.stages_in(stages, empty))["tasks"] == 0


def test_tracer_records_parent_and_dumps(tmp_path):
    tr = ledger.Tracer("extract_colocated")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.get("inner"), tr.get("outer")
    assert inner.parent == "outer" and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    assert [s["name"] for s in json.loads(path.read_text())] == ["inner", "outer"]


class _FakeWorkload:
    n_input = 5

    def __init__(self, root):
        self.root = root

    def before_rep(self, rep):
        return str(self.root / rep)

    def call(self, out):
        return self.n_input


class _FakeEventLog:
    def __init__(self):
        self.attached = 0

    @contextlib.contextmanager
    def logged(self):
        self.attached += 1
        yield


def test_traced_reps_interleave_in_whole_blocks(tmp_path):
    wl = _FakeWorkload(tmp_path)
    plain = run.measure_reps(wl, 0)
    assert [r["traced"] for r in plain] == [False] * run.MIN_REPS
    evlog, tr = _FakeEventLog(), ledger.Tracer("extract_colocated")
    reps = run.measure_reps(wl, 0, evlog, tr)
    assert [r["traced"] for r in reps] == [False, True, True, False]
    assert evlog.attached == 2
    assert [s.name for s in tr.spans] == ["job.rep1", "job.rep2"]
    assert all(r["committed"] == 5 and r["error"] is None for r in reps)


# -- summary statistics ----------------------------------------------------------


def test_median_and_quartiles():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    assert measure.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = measure.quartiles(vals)
    assert (q1, q2, q3) == tuple(statistics.quantiles(vals, n=4))
    assert measure.iqr_frac(vals) == pytest.approx((q3 - q1) / q2)
    assert measure.quartiles([7.0]) == (7.0, 7.0, 7.0)
    with pytest.raises(ValueError):
        measure.median([])


# -- seed determinism ------------------------------------------------------------


def _digest(paths: dict[str, str]) -> dict[str, str]:
    out = {}
    for name, p in paths.items():
        files = [os.path.join(p, f) for f in sorted(os.listdir(p))] if os.path.isdir(p) else [p]
        h = hashlib.sha256()
        for f in files:
            h.update(open(f, "rb").read())
        out[name] = h.hexdigest()
    return out


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _digest(workloads.write_inputs(str(tmp_path / "a"), seed=5, n_docs=60))
    b = _digest(workloads.write_inputs(str(tmp_path / "b"), seed=5, n_docs=60))
    c = _digest(workloads.write_inputs(str(tmp_path / "c"), seed=6, n_docs=60))
    assert a == b
    assert a["documents_interleaved"] != c["documents_interleaved"]
    assert a["media"] != c["media"]
    assert len(os.listdir(tmp_path / "a" / "documents_interleaved")) == workloads.N_FILES


def test_golden_sample_is_seeded(tmp_path):
    paths = workloads.write_inputs(str(tmp_path), seed=5, n_docs=60)
    ids, gold = workloads.golden_sample(paths, seed=5, n=10)
    _, again = workloads.golden_sample(paths, seed=5, n=10)
    _, other = workloads.golden_sample(paths, seed=6, n=10)
    assert len(ids) == 60 and len(gold) == 10
    assert gold == again and set(gold) != set(other)


# -- output checker ----------------------------------------------------------------


@pytest.fixture(scope="module")
def golden_docs():
    from medical_ocr_service_spark.corpus import generator, golden

    docs, media = generator.synthesize_corpus(12, seed=3)
    return {r["doc_id"]: r for r in golden.extract_corpus(docs, media)}


def _committed(golden_docs):
    """What a correct job commits, in the checker's row form."""
    return {d: check.expected_extraction(g) for d, g in golden_docs.items()}


def test_checker_green_on_correct_output(golden_docs):
    expected = _committed(golden_docs)
    got = copy.deepcopy(expected)
    assert check.diff_docs(expected, got) == []
    once = check.exactly_once(list(expected), list(got))
    assert once == {"missing": 0, "duplicated": 0, "unexpected": 0}
    assert check.CheckResult(len(expected), len(expected), [], once).ok


def test_checker_red_on_swapped_span_order(golden_docs):
    doc_id = next(d for d, g in golden_docs.items() if len(g["spans"]) >= 2)
    bad = copy.deepcopy(golden_docs[doc_id])
    bad["spans"][0]["order"], bad["spans"][1]["order"] = 2, 1
    bad["spans"][0], bad["spans"][1] = bad["spans"][1], bad["spans"][0]
    expected = _committed(golden_docs)
    got = dict(expected, **{doc_id: check.expected_extraction(bad)})
    assert check.diff_docs(expected, got) == [doc_id]
    res = check.CheckResult(len(expected), len(expected), check.diff_docs(expected, got), {})
    assert not res.ok and res.golden_mismatch_frac == pytest.approx(1 / len(expected))


def test_checker_red_on_dropped_and_duplicated_doc(golden_docs):
    ids = sorted(golden_docs)
    committed = ids[1:] + [ids[2]]  # first dropped, third committed twice
    once = check.exactly_once(ids, committed)
    assert once == {"missing": 1, "duplicated": 1, "unexpected": 0}
    res = check.CheckResult(len(ids), len(ids), [], once)
    assert not res.ok and res.docs_missing_frac == pytest.approx(2 / len(ids))
    expected = _committed(golden_docs)
    got = {d: v for d, v in expected.items() if d != ids[0]}
    assert check.diff_docs(expected, got) == [ids[0]]


def test_render_spans_matches_spark_cast_format():
    spans = [
        {"kind": "text", "text": "a, b", "media_ref": None, "order": 1},
        {"kind": "media", "text": None, "media_ref": "media://d/3", "order": 2},
    ]
    assert check.render_spans(spans) == "[{text, a, b, null, 1}, {media, null, media://d/3, 2}]"


def test_previsacion_expected_form():
    p = {
        "header": {"doc_id": "d1", "confianza_general": 0.5},
        "details": [
            {"doc_id": "d1", "item": 1, "similitud": 0.1234567891234,
             "matches_alternativos": [
                 {"id_nomenclador": 3, "descripcion": "x", "similitud": 0.2, "tiene_acuerdo": False}
             ]},
        ],
    }
    exp = check.expected_previsacion(p)
    assert exp["details"][1]["similitud"] == round(0.1234567891234, check.FLOAT_DIGITS)
    assert exp["details"][1]["matches_alternativos"] == [
        {"id_nomenclador": 3, "similitud": 0.2, "tiene_acuerdo": False}
    ]
