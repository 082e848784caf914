"""The three workloads: one execution each through the program's
public entry points, and the output check.

Execution shapes (closed loop: one driver, one job at a time):

* extract_skewed — operators.extract.extract_turns ->
  operators.sessionize.assign_visits over the hot-key transcripts,
  collected to the driver as Arrow (the checked sink).
* job_full — job.main end to end: quarantine, extraction, entities,
  dedup, XML, rollups and every parquet sink.
* corpus_dedup — corpus_job.main base build; ``extra`` adds the
  --incremental admit of the held-out batch against the written index.

The traced run (perfbench/layers.py) runs ``execute`` and ``extra``
with every layer function wrapped, so every layer function is reached
through a module attribute here.
"""

from __future__ import annotations

import contextlib
import io
import os

import pyarrow.parquet as pq

from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
    corpus_job,
    job,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import (
    extract as ox,
    sessionize as osz,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
    tune_scan_splits,
)

from perfbench import checks, gen

# input sizes (conversations / documents); see perfbench/README.md
SIZES = {"extract_skewed": 2000, "job_full": 200, "corpus_dedup": 800}


def _read(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


class Workload:
    """One workload bound to a live SparkSession and its cached inputs.

    ``execute`` runs the workload once and returns the output handle
    that ``check`` verifies; they are separate so only ``execute`` is
    timed.  Reference results are computed on the first check."""
    name = ""

    def __init__(self, spark, cache_dir: str, tmp: str, workers: int):
        self.spark = spark
        self.cache_dir = cache_dir
        self.input_dir = os.path.join(cache_dir, "input")
        self.tmp = tmp
        self.workers = workers
        self.meta = gen.load_meta(cache_dir)
        self.n_exec = 0

    def extra(self, out) -> None:
        """Work the traced run adds after ``execute``, too slow to repeat
        in every untraced run (corpus_dedup's admit)."""

    def out_dir(self) -> str:
        self.n_exec += 1
        return os.path.join(self.tmp, f"{self.name}-out{self.n_exec}")

    @property
    def input_rows(self) -> int:
        p = self.meta["props"]
        return p.get("rows") or p["corpus_docs"]


class ExtractSkewed(Workload):
    name = "extract_skewed"

    def execute(self):
        path = os.path.join(self.input_dir, "transcripts.parquet")
        tune_scan_splits(self.spark, path)
        src = self.spark.read.parquet(path)
        return osz.assign_visits(
            ox.extract_turns(src, with_sections=True)).toArrow()

    def check(self, out) -> checks.Check:
        if not hasattr(self, "_expected"):
            self._expected = checks.expected_turns(
                gen.read_transcripts(self.cache_dir), self.workers)
        return checks.check_turns(out.to_pylist(), self._expected)


class JobFull(Workload):
    name = "job_full"

    def execute(self):
        out = self.out_dir()
        with contextlib.redirect_stdout(io.StringIO()):
            job.main(["--input", self.input_dir, "--output", out,
                      "--run-id", f"bench{self.n_exec}"])
        return out

    def check(self, out) -> checks.Check:
        if not hasattr(self, "_rows"):
            self._rows = gen.read_transcripts(self.cache_dir)
            self._expected = checks.expected_turns(self._rows, self.workers)
        quarantine = _read(os.path.join(out, "quarantine.parquet"))
        c = checks.check_quarantine(quarantine, self._rows)
        want = checks.filter_expected(
            self._expected, checks.expected_quarantine(self._rows))
        got = _read(os.path.join(out, "extracted_turns.parquet"))
        return c.merge(checks.check_turns(got, want))


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def execute(self):
        out = self.out_dir()
        with contextlib.redirect_stdout(io.StringIO()):
            corpus_job.main(["--input", self.input_dir, "--output", out,
                             "--run-id", f"base{self.n_exec}"])
        return out

    def extra(self, out: str) -> None:
        with contextlib.redirect_stdout(io.StringIO()):
            corpus_job.main(["--incremental",
                             "--input", os.path.join(self.cache_dir, "batch"),
                             "--output", out, "--run-id", f"base{self.n_exec}",
                             "--inc-run-id", f"inc{self.n_exec}"])

    def check(self, out) -> checks.Check:
        got = _read(os.path.join(out, "dedup_decisions.parquet"))
        c = checks.check_base_decisions(got, self.meta["truth"])
        inc = [f for f in os.listdir(out) if f.startswith("inc_decisions_")]
        for f in inc:
            c.merge(checks.check_batch_decisions(
                _read(os.path.join(out, f)), self.meta["truth"]))
        return c


WORKLOADS = {w.name: w for w in (ExtractSkewed, JobFull, CorpusDedup)}
