"""Seeded input generators for the three benchmark workloads.

Self-contained on purpose: the program under test receives only the
parquet files written here, and a change to the program's own fixture
module cannot change what the benchmark measures.  Every generator is a
pure function of (seed, size); ``materialize`` caches the written
tables under ``perfbench/.cache/<workload>-s<seed>-n<size>/``.

* ``skewed_transcripts`` — fixture-shaped conversations, with the turns
  of every other conversation merged (and renumbered) into a few giant
  conversations: one hot conv_id key holding about half of all turns.
* ``job_transcripts`` — the same conversation shape, unmerged; the long
  tail (> rules.MAX_TURNS_PER_CONV turns) is what ingest quarantines.
* ``dedup_documents`` — a corpus with planted exact and near duplicate
  groups plus a held-out batch, and the ground truth for both.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
ROLES = ("user", "assistant", "tool")
TOOLS = (None, "ocr", "upload", None, None)

# rule triggers: visit-boundary lines with every date format the
# extractor parses (incl. 2-digit-year century pivots and an invalid
# date followed by a valid one), section headers, confidence/uncertainty
# triggers, ALL-CAPS abbreviations, blocked strings, pipe tables and
# symbols — wrapped in boilerplate the cleaner must strip
_BOUNDARY = (
    "Visit Date: {d}", "Date of Service: {d}", "Encounter Date: {d}",
    "Admission Date: {d}", "Discharge Date: {d}", "{d} Follow-up note",
)
_DATES = (
    "03/15/2024", "2024-03-15", "12/01/23", "01/02/49", "01/02/51",
    "7/4/2023", "2023-7-4", "11-30-2022", "99/99/2024 then 04/01/2024",
    "02/29/2024", "2022-12-31",
)
_SECTIONS = (
    "CHIEF COMPLAINT:\nFatigue and increased thirst for {n} days.",
    "HPI:\n{n} yo with polydipsia and blurred vision.",
    "PAST MEDICAL HISTORY:\n- Type 2 Diabetes Mellitus\n- Hypertension\n- HTN",
    "MEDICATIONS:\nMetformin {n}00mg BID PO\nLisinopril 10mg daily\naspirin 81mg",
    "ALLERGIES:\nPenicillin - rash\nNKDA per patient (?)",
    "PHYSICAL EXAM:\nBP 1{n}/88  HR 76  T 98.6F\nLungs clear",
    "ASSESSMENT:\nType 2 Diabetes, uncontrolled. A1c pending.",
    "PLAN:\n1. Increase Metformin to 1000mg\n2. CBC CMP A1C labs\n3. RTC {n} months",
    "IMPRESSION:\nStable. Continue current regimen.",
    "LABORATORY:\nGlucose | 1{n} | mg/dL | H\nA1c | 8.{n} | % | H",
    "VITAL SIGNS:\nBP 130/80 ± 5\nTemp 37.0 °C ↑\nPulse {n}",
    "REVIEW OF SYSTEMS:\nNegative except as noted. RA in hands possibly.",
)
_NOISE = (
    "Patient seen today. [UNCLEAR: medication name] prescribed.",
    "Signature illegible, hard to read ~~~",
    "l1lI O0O lIl 1O0 Il1O",
    "ok",
    "Response blocked by safety filter",
    "HTN DM2 BID PRN PO CBC QID TID",
    "Checkboxes: ✓ done ☐ pending ☑ reviewed",
    "MS noted in chart. PC follow-up. AS murmur.",
    "[UNCLEAR: dose] [UNCLEAR: frequency] [UNCLEAR: route]",
)
_HEADERS = (
    "Home | About Us | Contact | Help",
    "Printed on 2024-01-15 by MedPortal EHR v3.2",
    "https://portal.example-hospital.test/records",
)
_FOOTERS = (
    "Page {p} of {n}",
    "(c) 2024 Example Hospital System",
    "CONFIDENTIALITY NOTICE: intended recipient only",
    "This document may contain privileged information.",
    "Electronically signed by J. Smith MD",
)

TRANSCRIPT_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])
DOCUMENT_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string()),
])


def _turn_text(rng: random.Random, page: int, total: int,
               boundary: bool) -> str:
    parts = []
    if boundary:
        parts.append(rng.choice(_BOUNDARY).format(d=rng.choice(_DATES)))
    for _ in range(rng.randint(1, 3)):
        parts.append(rng.choice(_SECTIONS).format(n=rng.randint(2, 9)))
    if rng.random() < 0.5:
        parts.append(rng.choice(_NOISE))
    if rng.random() < 0.08:
        parts = [rng.choice(_NOISE)]
    out = [f"--- Page {page} ---"]
    out += rng.sample(_HEADERS, rng.randint(0, 2))
    if rng.random() < 0.3:
        out.append("=====")
    out.append("\n".join(parts))
    if rng.random() < 0.3:
        out += ["", ""]
    out += [f.format(p=page, n=total)
            for f in rng.sample(_FOOTERS, rng.randint(1, 3))]
    return "\n".join(out)


def _stratified(n: int, lo: int, hi: int) -> list[int]:
    """n lengths evenly spaced over [lo, hi] (midpoint quantiles)."""
    return [lo + int((hi - lo + 1) * (i + 0.5) / n) for i in range(n)]


def conversation_lengths(seed: int, n_convs: int) -> list[int]:
    """Fixture-shaped length mix — 2% of 50-200 turns (the tail over the
    quarantine page limit), 13% of 10-50, the rest 1-10 — drawn as
    stratified quantiles, so the turn count and the quarantined share
    are the same for every seed; the seed only shuffles the order."""
    n_long = max(1, round(n_convs * 0.02))
    n_mid = round(n_convs * 0.13)
    lengths = (_stratified(n_long, 50, 200) + _stratified(n_mid, 10, 50)
               + _stratified(n_convs - n_long - n_mid, 1, 10))
    random.Random(seed).shuffle(lengths)
    return lengths


def _conversations(seed: int, n_convs: int) -> list[list[dict]]:
    rng = random.Random(seed)
    convs = []
    for c, n in enumerate(conversation_lengths(seed, n_convs)):
        turns = []
        for t in range(1, n + 1):
            turns.append({
                "conv_id": f"conv_{c:06d}",
                "turn_idx": t,
                "role": ROLES[(t - 1) % 3],
                "text": _turn_text(rng, t, n, t == 1 or rng.random() < 0.18),
                "tool": rng.choice(TOOLS),
                "ts": BASE_TS + timedelta(minutes=t, seconds=c % 60),
            })
        convs.append(turns)
    return convs


def job_transcripts(seed: int, n_convs: int) -> list[dict]:
    rows = [t for conv in _conversations(seed, n_convs) for t in conv]
    random.Random(seed + 1).shuffle(rows)
    return rows


def skewed_transcripts(seed: int, n_convs: int) -> list[dict]:
    """Every odd conversation merges into conv_giant_0 (about half of
    all turns); every tenth even one into conv_giant_1 / _2.  Merged
    turns are renumbered 1..N in (source conversation, turn) order so
    (conv_id, turn_idx) stays unique."""
    giants: dict[str, list[dict]] = {}
    rows: list[dict] = []
    for c, conv in enumerate(_conversations(seed, n_convs)):
        if c % 2:
            target = "conv_giant_0"
        elif c % 20 == 0:
            target = "conv_giant_1"
        elif c % 20 == 10:
            target = "conv_giant_2"
        else:
            rows.extend(conv)
            continue
        giants.setdefault(target, []).extend(conv)
    for gid, turns in giants.items():
        for i, t in enumerate(turns, 1):
            rows.append({**t, "conv_id": gid, "turn_idx": i,
                         "ts": BASE_TS + timedelta(seconds=i)})
    random.Random(seed + 1).shuffle(rows)
    return rows


# --- documents with planted duplicates --------------------------------------

def _vocab(rng: random.Random, n: int = 6000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _fresh_doc(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(110, 170)))


def _exact_variant(rng: random.Random, text: str) -> str:
    """Same content after the digest's normalization (lowercase, ASCII
    whitespace collapse, trim) but different raw bytes."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = words[i].upper()
    return "  " + "\t".join(words[:5]) + " " + " ".join(words[5:]) + "\n"


def _near_variant(rng: random.Random, text: str, vocab: list[str]) -> str:
    """One word substituted: word 3-shingle Jaccard ~0.95 against the
    source, far above the 0.7 threshold, so LSH finds it with
    probability 1 - 1e-6 at 8 bands x 4 rows."""
    words = text.split(" ")
    i = rng.randrange(2, len(words) - 2)
    words[i] = words[i][::-1] + rng.choice(vocab)  # never equal to words[i]
    return " ".join(words)


def dedup_documents(seed: int, n_docs: int) -> dict:
    """Corpus of ~n_docs documents plus a held-out batch of n_docs // 4.

    Corpus: singletons, and planted groups (an original with 1-3 exact
    variants and/or 1-2 near variants).  Ground truth ``group`` maps
    every corpus doc to its group id: the base build must keep exactly
    one doc per group and write one decision row per doc.

    Batch: exact variants of corpus docs (expect exact_dup_of_corpus),
    near variants of corpus originals (near_dup_of_corpus), fresh docs
    with in-batch exact variants (one kept, the rest exact_dup_in_batch),
    fresh docs with in-batch near variants (one kept, the rest
    near_dup_in_batch), and fresh singletons (kept)."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    docs: list[tuple[int, str]] = []
    group: dict[int, int] = {}
    kind: dict[int, str] = {}
    originals: list[tuple[int, str]] = []
    n_exact = n_near = 0
    g = 0
    while len(docs) < n_docs:
        text = _fresh_doc(rng, vocab)
        did = len(docs)
        docs.append((did, text))
        group[did] = g
        kind[did] = "original"
        originals.append((did, text))
        r = rng.random()
        if r < 0.12:
            for _ in range(rng.randint(1, 3)):
                group[len(docs)] = g
                kind[len(docs)] = "exact"
                docs.append((len(docs), _exact_variant(rng, text)))
                n_exact += 1
        if 0.08 < r < 0.2:
            for _ in range(rng.randint(1, 2)):
                group[len(docs)] = g
                kind[len(docs)] = "near"
                docs.append((len(docs), _near_variant(rng, text, vocab)))
                n_near += 1
        g += 1

    # batch ids start past the corpus range (the caller owns id
    # allocation in the incremental contract)
    batch: list[tuple[int, str]] = []
    expect: dict[int, str] = {}
    bgroup: dict[int, int] = {}
    bkind: dict[int, str] = {}
    base = 10 ** 9
    sources = rng.sample(originals, min(len(originals), n_docs // 8))
    half = len(sources) // 2
    for did, text in sources[:half]:
        bid = base + len(batch)
        batch.append((bid, _exact_variant(rng, text)))
        expect[bid] = "exact_dup_of_corpus"
    for did, text in sources[half:]:
        bid = base + len(batch)
        batch.append((bid, _near_variant(rng, text, vocab)))
        expect[bid] = "near_dup_of_corpus"
    n_batch = max(len(batch) + 8, n_docs // 4)
    bg = 0
    while len(batch) < n_batch:
        text = _fresh_doc(rng, vocab)
        members = [text]
        r = rng.random()
        bkind[bg] = "exact" if r < 0.15 else "near" if r < 0.3 else "single"
        if bkind[bg] == "exact":
            members += [_exact_variant(rng, text)
                        for _ in range(rng.randint(1, 2))]
        elif bkind[bg] == "near":
            members += [_near_variant(rng, text, vocab)
                        for _ in range(rng.randint(1, 2))]
        for m in members:
            bid = base + len(batch)
            batch.append((bid, m))
            bgroup[bid] = bg
        bg += 1
    return {
        "docs": docs, "batch": batch,
        "truth": {"group": group, "kind": kind, "batch_expect": expect,
                  "batch_group": bgroup, "batch_group_kind": bkind},
        "props": {
            "corpus_docs": len(docs),
            "corpus_groups": len(originals),
            "planted_exact_share": round(n_exact / len(docs), 4),
            "planted_near_share": round(n_near / len(docs), 4),
            "batch_docs": len(batch),
            "batch_vs_corpus_share": round(len(expect) / len(batch), 4),
        },
    }


# --- parquet cache -----------------------------------------------------------

def content_hash(rows) -> str:
    """Order-sensitive digest of generated rows (dicts or tuples)."""
    h = hashlib.sha256()
    for r in rows:
        vals = r.values() if isinstance(r, dict) else r
        h.update(repr(tuple(vals)).encode())
    return h.hexdigest()


def _write(rows: list, schema: pa.Schema, path: str,
           row_group: int) -> None:
    if rows and isinstance(rows[0], dict):
        cols = {f.name: [r[f.name] for r in rows] for f in schema}
    else:
        cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema)}
    table = pa.table(cols, schema=schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   row_group_size=row_group, compression="snappy")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def transcript_props(rows: list[dict], max_turns: int) -> dict:
    per_conv: dict[str, int] = {}
    for r in rows:
        per_conv[r["conv_id"]] = per_conv.get(r["conv_id"], 0) + 1
    over = sum(n for n in per_conv.values() if n > max_turns)
    return {
        "rows": len(rows),
        "conversations": len(per_conv),
        "largest_conv_share": round(max(per_conv.values()) / len(rows), 4),
        "quarantined_turn_share": round(over / len(rows), 4),
    }


def _generator_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def materialize(cache_root: str, workload: str, seed: int,
                size: int, max_turns: int) -> str:
    """Write (once) the inputs for (workload, seed, size); returns the
    cache directory, keyed also by this file's digest so a generator
    change never reuses stale inputs.  Layout: ``input/`` is what the
    program reads (``transcripts.parquet`` or ``documents.parquet``),
    ``batch/`` the incremental batch, ``meta.json`` properties and
    ground truth."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-n{size}-"
                     f"{_generator_digest()}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "corpus_dedup":
        g = dedup_documents(seed, size)
        _write(g["docs"], DOCUMENT_SCHEMA,
               os.path.join(tmp, "input", "documents.parquet"), 500)
        _write(g["batch"], DOCUMENT_SCHEMA,
               os.path.join(tmp, "batch", "documents.parquet"), 500)
        meta = {
            "props": g["props"],
            "content_hash": content_hash(g["docs"] + g["batch"]),
            "truth": g["truth"],
        }
    else:
        gen = skewed_transcripts if workload == "extract_skewed" \
            else job_transcripts
        rows = gen(seed, size)
        _write(rows, TRANSCRIPT_SCHEMA,
               os.path.join(tmp, "input", "transcripts.parquet"), 2000)
        meta = {"props": transcript_props(rows, max_turns),
                "content_hash": content_hash(rows)}
    meta["props"]["input_bytes"] = _dir_bytes(os.path.join(tmp, "input"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def load_meta(cache_dir: str) -> dict:
    with open(os.path.join(cache_dir, "meta.json")) as f:
        meta = json.load(f)
    truth = meta.get("truth")
    if truth:  # JSON object keys are strings; doc ids are ints
        for k in truth:
            truth[k] = {int(i): v for i, v in truth[k].items()}
    return meta


def read_transcripts(cache_dir: str) -> list[dict]:
    path = os.path.join(cache_dir, "input", "transcripts.parquet")
    return pq.read_table(path).to_pylist()
