"""Correctness checks against the reference extractor and the planted
ground truth.  Each check returns a ``Check``: rows checked, rows that
differ from the expectation, and a few examples of the differences."""

from __future__ import annotations

import multiprocessing as mp
from dataclasses import dataclass, field

TURN_FIELDS = ("text_clean", "confidence", "is_boundary", "extracted_date",
               "sections", "visit_id")


@dataclass
class Check:
    checked: int = 0
    bad: int = 0
    examples: list = field(default_factory=list)

    def add(self, ok: bool, example=None) -> None:
        self.checked += 1
        if not ok:
            self.bad += 1
            if len(self.examples) < 5:
                self.examples.append(example)

    def merge(self, other: "Check") -> "Check":
        self.checked += other.checked
        self.bad += other.bad
        self.examples.extend(other.examples[:5 - len(self.examples)])
        return self

    @property
    def ok(self) -> bool:
        return self.checked > 0 and self.bad == 0


# --- transcripts ------------------------------------------------------------

def _oracle_chunk(texts: list[str]) -> list[dict]:
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
        reference_oracle,
    )

    out = []
    for t in texts:
        r = reference_oracle.extract_turn(t)
        out.append({k: r[k] for k in TURN_FIELDS if k in r})
    return out


def expected_turns(rows: list[dict], workers: int) -> dict:
    """(conv_id, turn_idx) -> expected TURN_FIELDS, from
    reference_oracle.extract_turn per turn (fanned out over a spawn
    pool — it is pure Python) and reference_oracle.sessionize per
    conversation."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
        reference_oracle,
    )

    texts = [r["text"] for r in rows]
    step = max(1, -(-len(texts) // (workers * 4)))
    chunks = [texts[i:i + step] for i in range(0, len(texts), step)]
    if workers > 1 and len(chunks) > 1:
        with mp.get_context("spawn").Pool(workers) as pool:
            parts = pool.map(_oracle_chunk, chunks)
    else:
        parts = [_oracle_chunk(c) for c in chunks]
    extracted = [e for part in parts for e in part]
    by_conv: dict[str, list[dict]] = {}
    for r, e in zip(rows, extracted):
        by_conv.setdefault(r["conv_id"], []).append(
            {**e, "conv_id": r["conv_id"], "turn_idx": r["turn_idx"]})
    out = {}
    for conv in by_conv.values():
        for t in reference_oracle.sessionize(conv):
            out[(t["conv_id"], t["turn_idx"])] = {
                k: t[k] for k in TURN_FIELDS}
    return out


def _norm_got(row: dict) -> dict:
    d = row.get("extracted_date")
    got = {k: row.get(k) for k in TURN_FIELDS}
    got["extracted_date"] = d.strftime("%Y-%m-%d") if d else None
    return got


def check_turns(got_rows: list[dict], expected: dict) -> Check:
    """Every expected turn must appear exactly once with every field
    equal; unexpected or duplicated output rows count as differences."""
    c = Check()
    seen = set()
    for row in got_rows:
        key = (row["conv_id"], row["turn_idx"])
        want = expected.get(key)
        if want is None or key in seen:
            c.add(False, {"key": key, "why": "unexpected or duplicate row"})
            continue
        seen.add(key)
        got = _norm_got(row)
        diff = [k for k in TURN_FIELDS if got[k] != want[k]]
        c.add(not diff, {"key": key, "fields": diff})
    for key in expected.keys() - seen:
        c.add(False, {"key": key, "why": "missing row"})
    return c


def expected_quarantine(rows: list[dict]) -> dict[str, list[str]]:
    """conv_id -> warning codes for every conversation that
    rules.conversation_warnings quarantines."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules

    agg: dict[str, list] = {}
    for r in rows:
        t = r["text"] or ""
        a = agg.setdefault(r["conv_id"], [0, 0, 0, False])
        a[0] += 1
        a[1] += len(t)
        a[2] += bool(t.strip())
        a[3] = a[3] or rules.ENCRYPTED_MARKER in t
    out = {}
    for conv, (n, chars, nonempty, enc) in agg.items():
        w = rules.conversation_warnings(n, chars, nonempty, enc)
        if w:
            out[conv] = w
    return out


def check_quarantine(got_rows: list[dict], rows: list[dict]) -> Check:
    """One row per conversation: quarantined with the same warnings, or
    absent from the quarantine sink when the rules pass it."""
    want = expected_quarantine(rows)
    got: dict[str, list] = {}
    dup = set()
    for r in got_rows:
        if r["conv_id"] in got:
            dup.add(r["conv_id"])
        got[r["conv_id"]] = list(r["warnings"])
    c = Check()
    for conv in {r["conv_id"] for r in rows} | set(got):
        ok = conv not in dup and got.get(conv) == want.get(conv)
        c.add(ok, {"conv_id": conv, "got": got.get(conv),
                   "want": want.get(conv)})
    return c


def filter_expected(expected: dict, quarantined) -> dict:
    q = set(quarantined)
    return {k: v for k, v in expected.items() if k[0] not in q}


# --- corpus dedup -------------------------------------------------------------

def check_base_decisions(got_rows: list[dict], truth: dict) -> Check:
    """One decision row per corpus doc; exactly one kept doc per planted
    group (original + exact variants + near variants); exact variants
    share their original's content key, near variants do not."""
    group, kind = truth["group"], truth["kind"]
    rows: dict[int, dict] = {}
    dup = set()
    for r in got_rows:
        if r["doc_id"] in rows:
            dup.add(r["doc_id"])
        rows[r["doc_id"]] = r
    kept: dict[int, int] = {}
    orig_key: dict[int, str] = {}
    for did, r in rows.items():
        g = group.get(did)
        if r["keep"]:
            kept[g] = kept.get(g, 0) + 1
        if kind.get(did) == "original":
            orig_key[g] = r["content_key"]
    c = Check()
    for did in group.keys() | rows.keys():
        r = rows.get(did)
        g = group.get(did)
        ok = r is not None and g is not None and did not in dup \
            and kept.get(g, 0) == 1
        if ok and kind[did] != "original":
            same = r["content_key"] == orig_key.get(g)
            ok = same == (kind[did] == "exact")
        c.add(ok, {"doc_id": did, "group": g, "kept_in_group": kept.get(g)})
    return c


def check_batch_decisions(got_rows: list[dict], truth: dict) -> Check:
    """Batch docs derived from corpus docs get exact_dup_of_corpus /
    near_dup_of_corpus; every fresh batch group keeps exactly one doc
    and marks the others with its in-batch reason."""
    expect, bgroup, bkind = (truth["batch_expect"], truth["batch_group"],
                             truth["batch_group_kind"])
    rows: dict[int, dict] = {}
    dup = set()
    for r in got_rows:
        if r["doc_id"] in rows:
            dup.add(r["doc_id"])
        rows[r["doc_id"]] = r
    kept: dict[int, int] = {}
    for did, r in rows.items():
        if did in bgroup and r["keep"]:
            kept[bgroup[did]] = kept.get(bgroup[did], 0) + 1
    in_batch = {"exact": "exact_dup_in_batch", "near": "near_dup_in_batch"}
    c = Check()
    for did in expect.keys() | bgroup.keys() | rows.keys():
        r = rows.get(did)
        if r is None or did in dup:
            c.add(False, {"doc_id": did, "why": "missing or duplicate"})
            continue
        reason = r["reason"]
        if did in expect:
            ok = reason == expect[did] and not r["keep"]
        elif did in bgroup:
            g = bgroup[did]
            ok = kept.get(g, 0) == 1 and (
                r["keep"] and reason == "kept"
                or not r["keep"] and reason == in_batch.get(bkind[g]))
        else:
            ok = False
        c.add(ok, {"doc_id": did, "reason": reason,
                   "want": expect.get(did, bkind.get(bgroup.get(did)))})
    return c
