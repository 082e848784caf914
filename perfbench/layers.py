"""Outside-in tracing of the program's own run, layer by layer.

``LayerTrace`` wraps every layer's public function (the table below) in
place, under its defining module or class and under every alias a
``from ... import`` made of it inside the package, for the duration of
a ``with`` block.  The workload then runs through its normal entry
point (``job.main``, ``corpus_job.main``, ...) and each wrapped call:

1. persists and materializes its DataFrame arguments (outside the span:
   that time lands in the enclosing span's self time);
2. opens a span named ``<layer>.<function>`` whose group is the layer
   (the group is also the Spark job group, so the event log attributes
   task metrics to the layer);
3. calls the function and persists and materializes every DataFrame in
   its result before the span closes.

Calls nest: the admit's ``incremental_dedup`` reaches minhash, LSH and
the closure through their module attributes, so those spans sit inside
the incremental span and count toward their own layers.  The per-layer
counts are computed afterwards from the recorded inputs and outputs
(``counts``); run them outside every span so their Spark jobs carry no
job group.
"""

from __future__ import annotations

import dataclasses
import importlib
import inspect
import sys

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

PKG = "medical_pdf__ocr_structured_ccd_ccda_output_spark"

# (module under the package, function or Class.method, layer)
LAYER_FUNCTIONS = (
    ("pipeline", "conversation_quality", "quarantine"),
    ("pipeline", "apply_quarantine", "quarantine"),
    ("operators.extract", "extract_turns", "extract"),
    ("operators.sessionize", "assign_visits", "sessionize"),
    ("operators.sessionize", "visit_rollup", "sessionize"),
    ("operators.rollups", "document_rollup", "rollups"),
    ("operators.rollups", "data_quality_rollup", "rollups"),
    ("operators.rollups", "stage_metrics", "rollups"),
    ("operators.entities", "extract_medications", "entities"),
    ("operators.entities", "extract_problems", "entities"),
    ("operators.entities", "extract_lab_results", "entities"),
    ("operators.entities", "extract_vitals", "entities"),
    ("operators.entities", "extract_allergies", "entities"),
    ("operators.entities", "extract_plan_items", "entities"),
    ("operators.entities", "extract_visit_texts", "entities"),
    ("operators.dedup", "dedup_entities", "dedup"),
    ("operators.dedup", "split_dedup_output", "dedup"),
    ("renderers.xml", "entity_sections", "xml"),
    ("renderers.xml", "render_ccd_xml", "xml"),
    ("sources.io", "write_table", "io"),
    ("sources.manifest", "Manifest.mark_done", "io"),
    ("sources.manifest", "StageManifest.mark_done", "io"),
    ("corpus_pipeline", "content_keyed", "exact"),
    ("corpus_pipeline", "exact_map_of", "exact"),
    ("operators.corpus", "minhash_signatures", "corpus.minhash"),
    ("operators.corpus", "lsh_pairs_from_signatures", "corpus.lsh"),
    ("operators.graph", "near_dup_clusters", "graph"),
    ("corpus_incremental", "incremental_dedup", "incremental"),
)
LAYERS = tuple(dict.fromkeys(layer for _, _, layer in LAYER_FUNCTIONS))
# the entity rows entities.entities_out counts (extract_visit_texts
# yields per-visit text fields, not entities)
ENTITY_EXTRACTORS = {"extract_medications", "extract_problems",
                     "extract_lab_results", "extract_vitals",
                     "extract_allergies", "extract_plan_items"}


@dataclasses.dataclass
class Call:
    layer: str
    fn: str
    args: dict    # bound arguments, defaults applied
    out: object


def _frames(obj):
    """Every DataFrame in a result or argument: the object itself, or
    the items of a tuple/list/dict, or the fields of a dataclass."""
    if isinstance(obj, DataFrame):
        yield obj
    elif isinstance(obj, (tuple, list)):
        for x in obj:
            yield from _frames(x)
    elif isinstance(obj, dict):
        for x in obj.values():
            yield from _frames(x)
    elif dataclasses.is_dataclass(obj) and not isinstance(obj, type):
        for f in dataclasses.fields(obj):
            yield from _frames(getattr(obj, f.name))


class LayerTrace:
    def __init__(self, tracer):
        self.tr = tracer
        self.calls: list[Call] = []
        self.iterations = 0   # graph._cc_loop convergence probes
        self._undo: list[tuple] = []   # (owner, name, value or None)
        # id -> materialized DataFrame (held, so ids are not reused)
        self._done: dict[int, DataFrame] = {}

    def _materialize(self, obj) -> None:
        for df in _frames(obj):
            if id(df) in self._done:
                continue
            df.persist(StorageLevel.MEMORY_AND_DISK)
            df.write.format("noop").mode("overwrite").save()
            self._done[id(df)] = df

    def _wrap(self, orig, layer: str):
        sig = inspect.signature(orig)
        span = f"{layer}.{orig.__name__}"

        def wrapped(*args, **kwargs):
            self._materialize((args, kwargs))
            with self.tr.span(span, layer):
                out = orig(*args, **kwargs)
                self._materialize(out)
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            self.calls.append(Call(layer, orig.__name__,
                                   dict(bound.arguments), out))
            return out

        return wrapped

    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, vars(owner).get(name)))
        setattr(owner, name, value)

    def __enter__(self):
        pkg_modules = [m for n, m in list(sys.modules.items())
                       if m is not None and (n == PKG
                                             or n.startswith(PKG + "."))]
        for path, attr, layer in LAYER_FUNCTIONS:
            owner = importlib.import_module(f"{PKG}.{path}")
            cls, _, name = attr.rpartition(".")
            if cls:
                owner = getattr(owner, cls)
            orig = vars(owner)[name]
            wrapped = self._wrap(orig, layer)
            self._set(owner, name, wrapped)
            if cls:
                continue
            for mod in pkg_modules:   # `from .x import f` aliases
                for alias, v in list(vars(mod).items()):
                    if v is orig and mod is not owner:
                        self._set(mod, alias, wrapped)
        self._count_cc_iterations()
        return self

    def __exit__(self, *exc):
        while self._undo:
            owner, name, orig = self._undo.pop()
            if orig is None:   # was inherited
                delattr(owner, name)
            else:
                setattr(owner, name, orig)
        return False

    def _count_cc_iterations(self) -> None:
        """graph._cc_loop runs exactly one DataFrame.count() per closure
        iteration (its convergence probe); count the calls made directly
        from it."""
        try:  # Spark 4 classic DataFrames subclass pyspark.sql.DataFrame
            from pyspark.sql.classic.dataframe import DataFrame as Cls
        except ImportError:
            Cls = DataFrame
        orig = Cls.count

        def count(df):
            if sys._getframe(1).f_code.co_name == "_cc_loop":
                self.iterations += 1
            return orig(df)

        self._set(Cls, "count", count)

    # --- per-layer counts, from the recorded inputs and outputs -----------

    def _of(self, fn: str) -> list[Call]:
        return [c for c in self.calls if c.fn == fn]

    def counts(self, input_bytes: int) -> dict[str, dict]:
        """layer -> {metric: value}.  Runs Spark jobs: call it outside
        every span."""
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import (  # noqa: E501
            corpus,
        )

        out = {layer: {} for layer in LAYERS}

        def first(c: Call) -> DataFrame:
            return next(iter(c.args.values()))

        q = out["quarantine"]
        q["turns_in"] = q["turns_quarantined"] = 0
        for c in self._of("apply_quarantine"):
            n = first(c).count()
            q["turns_in"] += n
            q["turns_quarantined"] += n - c.out[0].count()

        e = out["extract"]
        e["turns"] = e["chars_in"] = e["chars_out"] = 0
        for c in self._of("extract_turns"):
            a = first(c).agg(F.count("*").alias("n"),
                             F.sum(F.length("text")).alias("c")).first()
            b = c.out.agg(F.sum(F.length("text_clean"))).first()[0]
            e["turns"] += a["n"]
            e["chars_in"] += a["c"] or 0
            e["chars_out"] += b or 0

        shares = [_largest_share(c.out) for c in self._of("assign_visits")]
        out["sessionize"]["largest_conv_share"] = max(shares, default=0.0)

        out["entities"]["entities_out"] = sum(
            c.out.count() for c in self.calls if c.fn in ENTITY_EXTRACTORS)

        d = out["dedup"]
        d["entities_in"] = sum(first(c).count()
                               for c in self._of("dedup_entities"))
        d["entities_kept"] = sum(c.out[0].count()
                                 for c in self._of("split_dedup_output"))
        d["kept_ratio"] = (d["entities_kept"] / d["entities_in"]
                           if d["entities_in"] else 0.0)

        out["xml"]["xml_bytes"] = sum(
            c.out.agg(F.sum(F.octet_length("ccd_xml"))).first()[0] or 0
            for c in self._of("render_ccd_xml"))

        from perfbench.gen import _dir_bytes

        locations = {c.args["location"] for c in self._of("write_table")}
        n = sum(_dir_bytes(loc) for loc in locations)
        out["io"]["bytes_written"] = n
        out["io"]["bytes_written_per_input_byte"] = (
            n / input_bytes if input_bytes else 0.0)

        x = out["exact"]
        x["docs_in"] = sum(first(c).count() for c in self._of("content_keyed"))
        x["distinct_contents"] = sum(c.out.count()
                                     for c in self._of("exact_map_of"))

        k = out["corpus.lsh"]
        k["candidate_pairs"] = sum(
            corpus._banded_candidates(
                c.args["sigs"], c.args["num_hashes"], c.args["bands"],
                c.args["hash_fn"]).count()
            for c in self._of("lsh_pairs_from_signatures"))
        k["pairs_kept"] = sum(c.out.count()
                              for c in self._of("lsh_pairs_from_signatures"))
        k["pair_yield"] = (k["pairs_kept"] / k["candidate_pairs"]
                           if k["candidate_pairs"] else 0.0)

        g = out["graph"]
        g["edges"] = sum(c.args["pairs"].count()
                         for c in self._of("near_dup_clusters"))
        g["iterations"] = self.iterations

        i = out["incremental"]
        i["batch_docs"] = i["batch_kept"] = 0
        for c in self._of("incremental_dedup"):
            r = c.out.decisions.agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("keep"), 1)).alias("k")).first()
            i["batch_docs"] += r["n"]
            i["batch_kept"] += r["k"]
        return out


def _largest_share(turns: DataFrame) -> float:
    agg = turns.groupBy("conv_id").count().agg(
        F.max("count").alias("m"), F.sum("count").alias("n")).first()
    return agg["m"] / agg["n"] if agg["n"] else 0.0
