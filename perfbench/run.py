"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload job_full --seed 1 --seconds 1 --trace 0

Generates (or reuses) the seeded inputs, starts one SparkSession on
local[nproc], runs the workload through the program's public entry
points, checks every output against the reference, and prints a report
line followed by the result as the LAST stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
execution and reports the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host, spans  # noqa: E402
PKG = "medical_pdf__ocr_structured_ccd_ccda_output_spark"

END_TO_END = {  # name -> unit; the metrics BENCHMARK.json bounds
    "setup_s": "s", "run_s": "s", "rows_per_s": "rows/s",
    "correct_rate": "ratio",
}
# also printed in the report line, without a bound: failed_share is 0 on
# a passing run, and peak RSS jumps from ~3.3 to 5.6-8.3 GB on some
# job_full runs under host contention, when Spark holds more Python
# workers alive at once
REPORTED = {"peak_rss_mb": "MB", "failed_share": "ratio"}
_S, _N, _B, _R = "s", "count", "bytes", "ratio"
# layer counts (perfbench/layers.py) and event-log figures; every layer
# also reports <layer>.busy_s and <layer>.self_s
LAYER_COUNTS = {
    "quarantine.turns_in": _N, "quarantine.turns_quarantined": _N,
    "extract.turns": _N, "extract.chars_in": _N, "extract.chars_out": _N,
    "extract.python_bytes_sent": _B,
    "sessionize.shuffle_write_bytes": _B, "sessionize.task_skew": _R,
    "sessionize.largest_conv_share": _R,
    "entities.entities_out": _N,
    "dedup.entities_in": _N, "dedup.entities_kept": _N,
    "dedup.kept_ratio": _R,
    "xml.xml_bytes": _B,
    "io.bytes_written": _B, "io.bytes_written_per_input_byte": _R,
    "exact.docs_in": _N, "exact.distinct_contents": _N,
    "corpus.lsh.candidate_pairs": _N, "corpus.lsh.pairs_kept": _N,
    "corpus.lsh.pair_yield": _R,
    "graph.iterations": _N, "graph.edges": _N,
    "incremental.batch_docs": _N, "incremental.batch_kept": _N,
}
SPARK = {
    "spark.executor_cpu_s": _S, "spark.gc_s": _S,
    "spark.shuffle_write_bytes": _B, "spark.spill_bytes": _B,
    "spark.tasks": _N, "spark.slot_utilization": _R,
}
TRACE = {"trace.total_s": _S, "trace.untraced_run_s": _S,
         "trace.overhead_s": _S, "trace.self_s": _S, "trace.extra_s": _S}
# timings taken while the hypervisor gave other tenants more than this
# share of the CPU are flagged in the report line as unresolved: over
# thirty runs on the reference box, the runs past it were the slowest
# of their workload, while the spin probe's core ratio did not track
# run time
NOISY_STEAL_SHARE = 0.02


def _per_layer_units(layers) -> dict:
    out = {}
    for layer in layers:
        out[f"{layer}.busy_s"] = out[f"{layer}.self_s"] = _S
        out.update({k: u for k, u in LAYER_COUNTS.items()
                    if k.startswith(layer + ".")})
    return {**out, **SPARK, **TRACE}


def _args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=("extract_skewed", "job_full", "corpus_dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measuring window: executions repeat until it "
                        "has passed (at least one)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _proc_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env(tmp: str, cpus: int, trace: bool) -> None:
    """Launch settings: local[nproc], driver heap sized from physical
    RAM, spill/shuffle dirs under the run's temp dir, the package
    shipped to Python workers (they import it to run the Arrow UDFs),
    and the event log for traced runs."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    mem_mb = max(1024, min(4096, host.physical_mem_bytes() // (8 << 20)))
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_mb}m"
    local = os.path.join(tmp, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a fixed, pre-touched heap: G1's heap expansion is timing-dependent
    # (peak RSS varied 2.0-3.7 GB over identical cold runs), so the
    # heap is committed up front and peak RSS moves with what the
    # program adds on top — off-heap Arrow buffers, Python workers —
    # while heap pressure shows as GC time
    # -XX:-UsePerfData: no hsperfdata file under /tmp (the launcher JVM
    # that spark-submit runs first takes SPARK_LAUNCHER_OPTS)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = ["spark.ui.showConsoleProgress=false",
             "spark.driver.extraJavaOptions="
             f"-Djava.io.tmpdir={local} -Xms{mem_mb}m -XX:+AlwaysPreTouch "
             "-XX:-UsePerfData"]
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir={events}",
                  "spark.eventLog.rolling.enabled=false",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"


def _shutdown(spark) -> None:
    """Stop Spark, close the gateway JVM and wait until it and every
    Python worker under it have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = host.descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for pid in host.wait_gone(tree):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    host.wait_gone(tree, timeout=10)


class Runner:
    def __init__(self, wl, jvm_pid: int):
        self.wl = wl
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.bad = 0
        self.examples: list = []
        self.peak_rss = 0
        self.check_s = 0.0

    def once(self, fn=None) -> float | None:
        """One checked execution; returns its seconds, or None when it
        raised or its output was wrong."""
        fn = fn or self.wl.execute
        self.attempted += 1
        poller = host.RssPoller(self.jvm_pid)
        poller.start()
        t0 = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            self.peak_rss = max(self.peak_rss, poller.stop())
        t_check = time.perf_counter()
        try:
            c = self.wl.check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.check_s += time.perf_counter() - t_check
        self.checked += c.checked
        self.bad += c.bad
        self.examples += c.examples[:3]
        if not c.ok:
            self.failed += 1
            return None
        return dt


def _layer_metrics(tr, counts: dict, events: list, cpus: int,
                   untraced_s: float, units: dict) -> dict:
    st = spans.stage_metrics(events)
    m = {}
    for layer, kv in counts.items():
        m[f"{layer}.busy_s"] = tr.group_busy(layer)
        m[f"{layer}.self_s"] = tr.group_self(layer)
        m.update({f"{layer}.{k}": v for k, v in kv.items()})
    m["extract.python_bytes_sent"] = \
        spans.group_totals(st, "extract")["python_bytes_sent"]
    m["sessionize.shuffle_write_bytes"] = \
        spans.group_totals(st, "sessionize")["shuffle_write_bytes"]
    m["sessionize.task_skew"] = spans.task_skew(st, "sessionize")
    # the traced execution's stages: the root groups "trace" and
    # "extra" (the program's work between layer calls and the layers'
    # input materialization) and every layer group.  The warm-up, the
    # untraced comparison and the count probes run with no job group.
    traced = {k: 0 for k in ("tasks", "run_s", "cpu_s", "gc_s",
                             "spill_bytes", "shuffle_write_bytes")}
    for s in st.values():
        if s["group"]:
            for k in traced:
                traced[k] += s[k]
    total = tr.duration("trace")
    wall = total + tr.duration("extra")
    m["spark.executor_cpu_s"] = traced["cpu_s"]
    m["spark.gc_s"] = traced["gc_s"]
    m["spark.shuffle_write_bytes"] = traced["shuffle_write_bytes"]
    m["spark.spill_bytes"] = traced["spill_bytes"]
    m["spark.tasks"] = traced["tasks"]
    m["spark.slot_utilization"] = (traced["run_s"] / (wall * cpus)
                                   if wall else 0.0)
    m["trace.total_s"] = total
    m["trace.untraced_run_s"] = untraced_s
    m["trace.overhead_s"] = total - untraced_s
    m["trace.self_s"] = tr.group_self("trace")
    m["trace.extra_s"] = tr.duration("extra")
    return {k: m[k] for k in units}


def _untraced(wl, runner, seconds: float, report: dict):
    """End-to-end metrics.  The first execution in a fresh process is
    run_s: what a spark-submit user pays per job (JIT, codegen, Python
    worker start-up included).  Executions repeat, checked, until
    ``seconds`` have passed; later (warm) ones are reported only."""
    times = []
    t_measure = time.perf_counter()
    while True:
        dt = runner.once()
        if dt is None:
            break
        times.append(dt)
        if time.perf_counter() - t_measure >= seconds:
            break
    report["run_s_cold"], report["run_s_warm"] = times[:1], times[1:]
    run_s = times[0] if times else 0.0
    return {
        "run_s": run_s,
        "rows_per_s": wl.input_rows / run_s if run_s else 0.0,
        "correct_rate": (1 - runner.bad / runner.checked
                         if runner.checked else 0.0),
        "peak_rss_mb": runner.peak_rss / 2 ** 20,
        "failed_share": runner.failed / runner.attempted,
    }, END_TO_END


def _traced(spark, wl, runner, tmp: str, cpus: int, report: dict):
    """Per-layer metrics; stops Spark.  ``execute`` runs once untraced
    to warm the JVM and Python workers, then traced with every layer
    function wrapped (perfbench/layers.py) under the root span
    ``trace``, followed by the workload's ``extra`` under the root span
    ``extra``.  After the cache is cleared ``execute`` runs once more
    untraced for comparison: ``trace`` minus that time is the tracing
    overhead.  The comparison runs last, so it is the warmer of the two
    and the overhead errs high, not low."""
    from perfbench import layers

    units = _per_layer_units(layers.LAYERS)
    tr = spans.Tracer(spark)

    def traced():
        with tr.span("trace", "trace"):
            out = wl.execute()
        with tr.span("extra", "extra"):
            wl.extra(out)
        return out

    ex = report["executions_s"] = {"warm_up": runner.once()}
    ok = ex["warm_up"] is not None
    if ok:
        with layers.LayerTrace(tr) as lt:
            ex["traced"] = runner.once(traced)
        ok = ex["traced"] is not None
    if ok:
        t0 = time.perf_counter()
        counts = lt.counts(wl.meta["props"]["input_bytes"])
        ex["counts"] = time.perf_counter() - t0
        spark.catalog.clearCache()
        warm_s = ex["untraced"] = runner.once()
        ok = warm_s is not None
    _shutdown(spark)
    if not ok:
        return {k: 0.0 for k in units}, units
    events = spans.read_event_log(os.path.join(tmp, "events"))
    report["spans"] = [
        {"name": s["name"], "group": s["group"], "parent": s["parent"],
         "dur_s": s["end"] - s["start"]} for s in tr.spans]
    return _layer_metrics(tr, counts, events, cpus, warm_s, units), units


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    try:
        __import__(PKG)
    except ImportError as e:
        print(f"perfbench: cannot import the program package {PKG}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import gen, workloads

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(HERE, ".tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = None
    try:
        _configure_env(tmp, cpus, bool(args.trace))
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (  # noqa: E501
            get_spark,
        )

        spark = get_spark("perfbench")
        setup_s = _proc_age_s()
        jvm_pid = spark.sparkContext._gateway.proc.pid

        from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules

        cache_dir = gen.materialize(
            os.path.join(HERE, ".cache"), args.workload, args.seed,
            workloads.SIZES[args.workload], rules.MAX_TURNS_PER_CONV)
        wl = workloads.WORKLOADS[args.workload](spark, cache_dir, tmp, cpus)
        runner = Runner(wl, jvm_pid)

        report = {"workload": args.workload, "seed": args.seed,
                  "cpus": cpus, "input": wl.meta["props"],
                  "content_hash": wl.meta["content_hash"]}
        ticks0 = host.cpu_ticks()
        if args.trace:
            metrics, units = _traced(spark, wl, runner, tmp, cpus, report)
            spark = None
        else:
            metrics, units = _untraced(wl, runner, args.seconds, report)
            metrics["setup_s"] = setup_s
            report["end_to_end"] = {
                k: {"value": metrics[k], "unit": u}
                for k, u in {**END_TO_END, **REPORTED}.items()}
            _shutdown(spark)
            spark = None
        ticks1 = host.cpu_ticks()
        noise = {**host.noise_probe(cpus),
                 "steal_share_measured": (
                     (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
                     if ticks1[1] > ticks0[1] else 0.0)}
        noisy = noise["steal_share_measured"] > NOISY_STEAL_SHARE
        report.update({
            "attempted": runner.attempted, "failed": runner.failed,
            "checked_rows": runner.checked, "bad_rows": runner.bad,
            "check_s": runner.check_s,
            "bad_examples": runner.examples[:5],
            "host": {**noise, "noisy": noisy},
            # host contention moves every timing together (see
            # perfbench/README.md): a noisy run's times are not evidence
            "unresolved": sorted(k for k, u in units.items()
                                 if noisy and u in ("s", "rows/s")),
            "wall_s": time.perf_counter() - t_start,
        })
        print("perfbench report " + json.dumps(report, default=str))
        print(json.dumps({
            "correct": runner.failed == 0 and runner.bad == 0
            and runner.checked > 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units},
        }))
        return 0
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        host.stop_resource_tracker()


if __name__ == "__main__":
    sys.exit(main())
