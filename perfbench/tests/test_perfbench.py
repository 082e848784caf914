"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, spans  # noqa: E402
from medical_pdf__ocr_structured_ccd_ccda_output_spark import (  # noqa: E402
    rules,
)


# --- generator determinism ----------------------------------------------------

def test_same_seed_same_hash_other_seed_other_hash():
    for fn in (gen.job_transcripts, gen.skewed_transcripts):
        a = gen.content_hash(fn(3, 40))
        assert a == gen.content_hash(fn(3, 40))
        assert a != gen.content_hash(fn(4, 40))
    d = gen.dedup_documents(3, 120)
    assert gen.content_hash(d["docs"]) == \
        gen.content_hash(gen.dedup_documents(3, 120)["docs"])
    assert gen.content_hash(d["docs"]) != \
        gen.content_hash(gen.dedup_documents(4, 120)["docs"])


def test_materialize_caches_by_workload_seed_size(tmp_path):
    a = gen.materialize(str(tmp_path), "job_full", 5, 30, 100)
    assert gen.materialize(str(tmp_path), "job_full", 5, 30, 100) == a
    b = gen.materialize(str(tmp_path), "job_full", 5, 31, 100)
    assert a != b
    meta = gen.load_meta(a)
    assert meta["props"]["rows"] == len(gen.read_transcripts(a))
    assert meta["props"]["input_bytes"] > 0


def test_skewed_transcripts_hot_key_and_unique_turns():
    rows = gen.skewed_transcripts(1, 400)
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert len(keys) == len(set(keys))
    props = gen.transcript_props(rows, rules.MAX_TURNS_PER_CONV)
    assert 0.4 < props["largest_conv_share"] < 0.6
    giant = sorted(r["turn_idx"] for r in rows
                   if r["conv_id"] == "conv_giant_0")
    assert giant == list(range(1, len(giant) + 1))


# --- ground-truth planting ----------------------------------------------------

def _norm(t: str) -> str:
    return " ".join(t.lower().split())


def _shingles(t: str) -> set:
    w = _norm(t).split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_planted_groups_are_what_they_claim():
    d = gen.dedup_documents(7, 300)
    text = dict(d["docs"])
    truth = d["truth"]
    orig = {truth["group"][i]: i for i, k in truth["kind"].items()
            if k == "original"}
    assert len(text) == len(truth["group"]) == len(truth["kind"])
    for did, k in truth["kind"].items():
        src = text[orig[truth["group"][did]]]
        if k == "exact":
            assert _norm(text[did]) == _norm(src) and text[did] != src
        elif k == "near":
            a, b = _shingles(text[did]), _shingles(src)
            assert _norm(text[did]) != _norm(src)
            assert len(a & b) / len(a | b) > 0.9
    # unrelated originals share no word 3-shingle
    origs = [_shingles(text[i]) for i in list(orig.values())[:40]]
    for i in range(len(origs)):
        for j in range(i + 1, len(origs)):
            assert not origs[i] & origs[j]


def test_batch_truth_covers_every_batch_doc():
    d = gen.dedup_documents(7, 300)
    truth = d["truth"]
    text = dict(d["docs"])
    norm_corpus = {_norm(t) for t in text.values()}
    for bid, t in d["batch"]:
        assert bid not in text
        if truth["batch_expect"].get(bid) == "exact_dup_of_corpus":
            assert _norm(t) in norm_corpus
        else:
            assert _norm(t) not in norm_corpus
        assert (bid in truth["batch_expect"]) != (bid in truth["batch_group"])


# --- span self-time arithmetic ------------------------------------------------

def _span(i, parent, start, end, name=None):
    return {"id": i, "name": name or f"s{i}", "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    s = [_span(0, None, 0, 10, "root"),
         _span(1, 0, 1, 4), _span(2, 0, 3, 6),   # overlap: union 1..6
         _span(3, 0, 8, 12),                      # clipped to 8..10
         _span(4, 1, 1, 2)]                       # grandchild: not root's
    assert spans.self_time(s[0], s) == 10 - (5 + 2)
    assert spans.self_time(s[1], s) == 3 - 1
    assert spans.self_time(s[4], s) == 1


def test_tracer_nesting_and_aggregate():
    tr = spans.Tracer()
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("a"):
            pass
    assert [x["parent"] for x in tr.spans] == [None, 0, 0]
    st = tr.self_times()
    assert abs(st["root"] + st["a"] - tr.duration("root")) < 1e-9
    assert tr.duration("a") == st["a"]


def test_group_busy_and_self_time():
    def g(i, parent, start, end, group):
        return {**_span(i, parent, start, end), "group": group}

    s = [g(0, None, 0, 10, "incremental"),
         g(1, 0, 1, 3, "graph"), g(2, 1, 1.5, 2, "graph"),  # nested, once
         g(3, 0, 5, 9, "incremental"),                     # same group
         g(4, 3, 6, 7, "graph")]
    assert spans.group_busy(s, "graph") == 2 + 1
    assert spans.group_busy(s, "incremental") == 10
    assert spans.group_self(s, "graph") == spans.group_busy(s, "graph")
    assert spans.group_self(s, "incremental") == 10 - 3


def test_layer_trace_patches_every_alias_and_restores():
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
        pipeline,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import (
        extract,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.sources import (
        manifest,
    )
    from perfbench import layers

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    orig, mark = extract.extract_turns, manifest.Manifest.mark_done
    count = DataFrame.count
    assert pipeline.extract_turns is orig
    tr = spans.Tracer()
    with layers.LayerTrace(tr) as lt:
        assert extract.extract_turns is not orig
        assert pipeline.extract_turns is extract.extract_turns
        assert manifest.Manifest.mark_done is not mark

        def f(x, y=2):
            return x + y

        assert lt._wrap(f, "graph")(1) == 3
    assert extract.extract_turns is orig and pipeline.extract_turns is orig
    assert manifest.Manifest.mark_done is mark
    assert DataFrame.count is count
    assert [(s["name"], s["group"]) for s in tr.spans] == [("graph.f",
                                                            "graph")]
    assert [(c.layer, c.fn, c.args) for c in lt.calls] == [
        ("graph", "f", {"x": 1, "y": 2})]


def test_stage_metrics_group_attribution():
    events = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "sessionize"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {}},
    ]
    for sid, dur in ((1, 1000), (1, 1000), (1, 4000), (2, 500)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 0, "Finish Time": dur,
                          "Accumulables": [{"Name": spans.PY_SENT,
                                            "Update": 10}]},
            "Task Metrics": {"Executor Run Time": dur,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": 7},
                             "Shuffle Read Metrics":
                                 {"Local Bytes Read": 1}}})
    st = spans.stage_metrics(events)
    t = spans.group_totals(st, "sessionize")
    assert t["tasks"] == 3 and t["shuffle_write_bytes"] == 21
    assert t["python_bytes_sent"] == 30
    assert spans.task_skew(st, "sessionize") == 4.0


# --- the correctness check catches a corrupted output row -----------------------

def _spark_like(expected: dict) -> list[dict]:
    from datetime import date

    rows = []
    for (conv, turn), e in expected.items():
        d = e["extracted_date"]
        rows.append({**e, "conv_id": conv, "turn_idx": turn,
                     "extracted_date": date.fromisoformat(d) if d else None})
    return rows


def test_turn_check_fails_on_corrupted_row():
    src = gen.job_transcripts(2, 12)
    expected = checks.expected_turns(src, workers=1)
    rows = _spark_like(expected)
    assert checks.check_turns(rows, expected).ok
    bad = [dict(r) for r in rows]
    bad[3]["text_clean"] += " "
    c = checks.check_turns(bad, expected)
    assert not c.ok and c.bad == 1
    bad = [dict(r) for r in rows]
    bad[0]["visit_id"] = "visit_999"
    assert checks.check_turns(bad, expected).bad == 1
    assert checks.check_turns(rows[1:], expected).bad == 1
    assert checks.check_turns(rows + rows[:1], expected).bad == 1


def test_quarantine_check_fails_on_wrong_set():
    src = gen.job_transcripts(1, 200)
    want = checks.expected_quarantine(src)
    assert want  # the long tail exceeds MAX_TURNS_PER_CONV
    got = [{"conv_id": c, "warnings": w} for c, w in want.items()]
    assert checks.check_quarantine(got, src).ok
    assert not checks.check_quarantine(got[1:], src).ok


def test_dedup_checks_fail_on_corrupted_decision():
    d = gen.dedup_documents(5, 200)
    truth = d["truth"]
    key = {}
    rows = []
    for did, kind in truth["kind"].items():
        g = truth["group"][did]
        k = key.setdefault((g, kind != "near" or did), f"k{g}-{did}")
        rows.append({"doc_id": did, "content_key": k,
                     "keep": kind == "original"})
    assert checks.check_base_decisions(rows, truth).ok
    bad = [dict(r) for r in rows]
    flip = next(r for r in bad if truth["kind"][r["doc_id"]] != "original")
    flip["keep"] = True
    assert not checks.check_base_decisions(bad, truth).ok

    brows = [{"doc_id": b, "reason": r, "keep": False}
             for b, r in truth["batch_expect"].items()]
    first = {}
    for b, g in sorted(truth["batch_group"].items()):
        kept = g not in first
        first.setdefault(g, b)
        kind = truth["batch_group_kind"][g]
        brows.append({"doc_id": b, "keep": kept, "reason": "kept" if kept
                      else f"{kind}_dup_in_batch"})
    assert checks.check_batch_decisions(brows, truth).ok
    bad = [dict(r) for r in brows]
    hit = next(r for r in bad if r["reason"] == "exact_dup_of_corpus")
    hit["reason"] = "kept"
    hit["keep"] = True
    assert not checks.check_batch_decisions(bad, truth).ok


# --- process clean-up ---------------------------------------------------------

def test_stop_resource_tracker_waits_for_it_to_exit():
    import multiprocessing as mp
    from multiprocessing import resource_tracker

    from perfbench import host

    q = mp.get_context("spawn").Queue()  # registers a semaphore
    resource_tracker.ensure_running()
    pid = resource_tracker._resource_tracker._pid
    assert pid and os.path.exists(f"/proc/{pid}")
    del q
    host.stop_resource_tracker()
    assert not os.path.exists(f"/proc/{pid}")
