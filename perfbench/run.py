#!/usr/bin/env python3
"""Oracle-checked benchmark of checkpointed extraction and pre-visación.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``extract``      CheckpointedExtraction(snapshots=True).run(quarantine=True)
                   over 90% of a skewed corpus with malformed media, then a
                   resume over the whole corpus (the traced run adds a
                   local[1] leg pinned to one CPU over a quarter of it);
* ``previsacion``  run_previsacion with default settings, both outputs to
                   the noop sink.

The load is a closed loop: one driver process runs one job at a time on
local[N], N = CPUs this process may use. Inputs are generated from
``--seed`` (cached under .perfbench/inputs) before the clock starts. Every
timed pass is repeated until ``--seconds`` have passed and the median pass
is reported. Outputs are then checked against the pure-Python oracles.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` additionally
runs each plan's public-function prefixes under their own Spark job group
with the event log on, and prints per-layer metrics. The last stdout line
is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "medical_ocr_service_spark"
WORKLOADS = ("extract", "previsacion")
MIN_PASSES = 2
# The host's speed drifts by up to 1.7x over minutes (shared machine). The
# reported setup_s and docs_per_s are scaled to a reference speed: the run's
# median tracing.cpu_probe reading against its typical value on the 4-core
# reference host. Raw figures go to the report.
REF_PROBE_S = 0.26
PREFIX_REPS = 2  # traced prefixes run this often; layers report the median

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s"}

# Per-layer metrics. Layers that run Python or move data carry the full set;
# JVM-only narrow layers carry time and rows. A layer that does not run on a
# workload reports 0 there.
FULL = ("wall_s", "core_s", "gc_s", "py_bytes", "shuffle_bytes", "rows_out")
JVM_SHUFFLE = ("wall_s", "core_s", "gc_s", "shuffle_bytes", "rows_out")
NARROW = ("wall_s", "core_s", "rows_out")
LAYERS = {
    "session": ("start_s", "warmup_s"),
    "extract.scan": NARROW,
    "extract.strip": NARROW + ("overhead_x",),
    "extract.layout": FULL + ("overhead_x",),
    "extract.reassemble": FULL + ("skew_x",),
    "extract.fields": FULL + ("overhead_x",),
    "checkpoint.commit": FULL + ("bytes_written", "files_written"),
    "checkpoint.pending": JVM_SHUFFLE + ("done_rows_read", "spark_jobs"),
    "checkpoint.quarantine": ("wall_s", "core_s", "gc_s", "py_bytes", "shuffle_bytes",
                              "docs_quarantined", "spark_jobs"),
    "matching.embed": ("wall_s", "core_s", "py_bytes"),
    "matching.prestador": FULL + ("match_rate",),
    "matching.practices": FULL + ("match_rate",),
    "previsacion.assemble": JVM_SHUFFLE + ("cache_bytes",),
    "run": ("spark_jobs", "exchanges", "trace_overhead", "resume_s",
            "output_bytes_per_doc", "scaling_eff_1to4"),
}
UNITS = {
    "wall_s": "s", "core_s": "s", "gc_s": "s", "start_s": "s", "warmup_s": "s",
    "py_bytes": "B", "shuffle_bytes": "B", "bytes_written": "B", "cache_bytes": "B",
    "overhead_x": "ratio", "skew_x": "ratio", "match_rate": "ratio", "trace_overhead": "ratio",
    "resume_s": "s", "output_bytes_per_doc": "B/doc", "scaling_eff_1to4": "ratio",
    "docs_per_s_raw": "docs/s", "setup_s_raw": "s", "peak_rss_mb": "MiB",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    return {
        f"{layer}.{m}": UNITS.get(m, "count")
        for layer, metrics in LAYERS.items()
        for m in metrics
    }


class Bench:
    """State of one benchmark run: its scratch dirs, Spark session, spans
    and the metrics gathered so far."""

    def __init__(self, args, manifest: dict, run_id: str, run_dir: str):
        self.args = args
        self.m = manifest
        self.run_id = run_id
        self.dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.spans = tracing.Spans(run_id)
        self.spark = None
        self.report: dict = {}  # end-to-end values, with extras for the report
        self.layers: dict[str, dict] = {}
        self.notes: dict = {}
        self.evdir = os.path.join(run_dir, "events")
        self.probes: list[float] = []  # tracing.cpu_probe readings
        self._n = 0

    # -- files ---------------------------------------------------------------

    def input(self, name: str) -> str:
        return os.path.join(self.m["dir"], name)

    def scratch(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.dir, "out", f"{self._n:03d}-{tag}")

    # -- session -------------------------------------------------------------

    def start(self, cores: int, event_log: bool = False):
        from medical_ocr_service_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dir}/tmp",
        }
        if event_log:
            os.makedirs(self.evdir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.evdir}",
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench-{self.run_id}", master=f"local[{cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, close the JVM and wait until every child process
        (JVM, Python workers) has exited."""
        self.stop_context()
        try:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
        except ImportError:
            pass
        deadline = time.time() + 30
        while tracing.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in tracing.descendants(os.getpid()):
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except (OSError, ChildProcessError):
                pass

    # -- timing --------------------------------------------------------------

    def span(self, name: str, fn):
        """Run fn under Spark job group `name` and record its span. Returns
        fn's result."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t = time.time()
        try:
            return fn()
        finally:
            self.spans.record(name, t, time.time())
            sc.setJobGroup("-", "-")

    def probe(self) -> None:
        self.probes.append(tracing.cpu_probe(self.cores))

    def host_factor(self) -> float:
        """Reference host speed over this run's: the median CPU probe of
        the run over REF_PROBE_S (above 1 on a slower host)."""
        return statistics.median(self.probes) / REF_PROBE_S

    def window(self, seconds: float, one_pass, min_passes: int = MIN_PASSES) -> list[float]:
        """Closed loop: run passes back to back until `seconds` have passed
        (at least `min_passes`), probing the host after each. Returns each
        pass's wall time."""
        walls: list[float] = []
        end = time.time() + seconds
        while len(walls) < min_passes or time.time() < end:
            t = time.time()
            one_pass(len(walls))
            walls.append(time.time() - t)
            self.probe()
        return walls

    def setup(self, warm_up) -> None:
        """setup_s: process start until the session is up and the warm-up
        (same plan shape) has run, less the input generation."""
        self.probe()
        t0 = time.time()
        self.start(self.cores)
        t1 = time.time()
        warm_up()
        t2 = time.time()
        self.probe()
        self.spans.record("session", t0, t2)
        self.report["setup_s_raw"] = (
            t2 - tracing.process_start() - self.notes["inputs_s"] - self.probes[0]
        )
        self.layers["session"] = {"start_s": t1 - t0, "warmup_s": t2 - t1}

    def jvm_gc_s(self) -> float:
        """Total collection time of the driver JVM's garbage collectors."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def timed(self, n_docs: int, one_pass) -> None:
        """The untraced timed window: docs/s of the median pass, and the
        peak process-tree RSS while it runs."""
        gc_before = self.jvm_gc_s()
        with tracing.RssSampler() as rss:
            walls = self.window(self.args.seconds, one_pass)
        self.notes["window_jvm_gc_s"] = self.jvm_gc_s() - gc_before
        self.notes["jvm_heap_committed_mb"] = (
            self.spark._jvm.java.lang.Runtime.getRuntime().totalMemory() / 2**20
        )
        self.report["docs_per_s_raw"] = n_docs / statistics.median(walls)
        self.report["peak_rss_mb"] = rss.peak / 2**20
        self.report["pass_walls_s"] = walls

    # -- traced prefixes -------------------------------------------------------

    def prefix(self, layer: str, make_df) -> int:
        """Materialize make_df() to the noop sink PREFIX_REPS times, each
        under its own job group `layer#rep` and with the cache cleared
        between repetitions (plans that persist must recompute); returns its
        row count (observed on the same pass)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        for rep in range(PREFIX_REPS):
            obs = Observation(f"{layer}#{rep}")
            counted = make_df().observe(obs, F.count(F.lit(1)).alias("rows"))
            self.span(
                f"{layer}#{rep}",
                lambda: counted.write.format("noop").mode("overwrite").save(),
            )
            self.spark.catalog.clearCache()
        rows = int(obs.get["rows"])
        self.layers.setdefault(layer, {})["rows_out"] = rows
        return rows

    def restart_traced(self, warm_up) -> None:
        """Swap the untraced session for one with the event log on (same
        JVM), and warm its fresh Python workers up."""
        self.stop_context()
        self.start(self.cores, event_log=True)
        self.quiet()
        self.span("warmup.traced", warm_up)

    def quiet(self) -> None:
        """After a context restart the package's module-level pandas UDFs
        keep the JVM handle built for the first context, whose Python
        accumulator server is gone: every task then logs a harmless
        'Failed to update accumulator' error. Keep only fatal logs."""
        self.spark.sparkContext.setLogLevel("FATAL")

    def layer_metrics(self, chain: list[tuple[str, str | None]]) -> dict:
        """Parse the event log (after the traced session stopped) and derive
        each layer's metrics as the difference between its prefix and the
        prefix it extends."""
        groups = tracing.group_metrics(self.evdir)

        def summary(layer: str | None) -> dict:
            """Median over a layer's repetitions of wall and task metrics."""
            if layer is None:
                return {"wall_s": 0.0, **{k: 0 for k in tracing.SUMMED}, "reduce_task_s": []}
            names = [n for n in groups if n == layer or n.startswith(layer + "#")]
            out = {
                k: statistics.median([groups[n][k] for n in names]) if names else 0
                for k in tracing.SUMMED
            }
            out["wall_s"] = statistics.median(self.spans.walls(layer) or [0.0])
            out["reduce_task_s"] = [t for n in names for t in groups[n]["reduce_task_s"]]
            return out

        for layer, base in chain:
            g, b = summary(layer), summary(base)
            out = self.layers.setdefault(layer, {})
            for k in ("wall_s", "core_s", "gc_s", "py_bytes", "shuffle_bytes"):
                out[k] = max(0, g[k] - b[k])
            out["_group"] = g
        return groups


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _bare_seconds(fn, items) -> float:
    """Single-core wall time of an oracle function over the same rows."""
    t = time.process_time()
    for x in items:
        fn(x)
    return time.process_time() - t


def _text_branch(docs):
    """The text-span branch of extract.clean_spans, on its own."""
    from pyspark.sql import functions as F

    from medical_ocr_service_spark.functions.extraction_udfs import strip_boilerplate_col
    from medical_ocr_service_spark.operators import extract

    return (
        extract.exploded_spans(docs)
        .filter(F.col("kind") == "text")
        .withColumn("text", strip_boilerplate_col(F.col("text")))
    )


def _exchanges(df) -> int:
    """Exchange nodes in the (initial, for an unexecuted frame) physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange" in line)


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def run_extract(b: Bench) -> tuple[int, int, dict]:
    from collections import Counter

    import checks
    from medical_ocr_service_spark.operators import extract
    from medical_ocr_service_spark.plans.checkpoint import CheckpointedExtraction
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable

    m = b.m

    def read(name):
        return b.spark.read.parquet(b.input(name))

    outputs: list[CheckpointedExtraction] = []

    def fresh(docs_file: str, tag: str) -> CheckpointedExtraction:
        ck = CheckpointedExtraction(b.scratch(tag), snapshots=True)
        ck.run(read(docs_file), read("media.parquet"), quarantine=True)
        outputs.append(ck)
        return ck

    # Warm up with two passes over the phase-1 input itself: a cold pass
    # costs about the same on a sample, and the JIT needs the second pass
    # to get near steady state.
    b.setup(lambda: [fresh("phase1.parquet", f"warm{i}") for i in range(2)])
    if not b.args.trace:
        b.timed(m["phase1_docs"], lambda i: fresh("phase1.parquet", f"pass{i}"))
    ck = outputs[-1]  # phase 2 resumes the last phase-1 output
    t = time.time()
    ck.run(read("docs.parquet"), read("media.parquet"), quarantine=True)
    b.report["resume_s"] = time.time() - t

    # -- checks (outside every timed window) ----------------------------------
    cols = ["doc_id", "spans_json", "full_text", *checks.EXTRACT_FIELDS, "practicas",
            "practicas_fuente", "confianza_extraccion", "requiere_revision"]
    results_rows = {
        r["doc_id"]: checks.extract_row_record(r.asDict(recursive=True))
        for r in ck.results(b.spark).select(*cols).collect()
    }
    res_tab = SnapshotTable(ck.results_path)
    committed = Counter(
        {r["doc_id"]: r["count"] for r in res_tab.read(b.spark).groupBy("doc_id").count().collect()}
    )
    quarantined = {
        r["doc_id"]
        for r in SnapshotTable(ck.quarantine_path).read(b.spark).select("doc_id").distinct().collect()
    }
    out_bytes = sum(os.path.getsize(f) for f in res_tab.files())
    b.report["output_bytes_per_doc"] = out_bytes / max(1, sum(committed.values()))
    verdict = checks.check_extract(m, results_rows, committed, quarantined)
    if not b.args.trace:
        return verdict

    # -- traced run: prefixes of the quarantine plan, then the full pass -------
    b.restart_traced(lambda: fresh("warm.parquet", "warm-traced"))
    docs, media = read("phase1.parquet"), read("media.parquet")
    b.prefix("extract.scan", lambda: extract.exploded_spans(docs))
    b.prefix("extract.strip", lambda: _text_branch(docs))
    b.prefix("extract.layout", lambda: extract.clean_spans(docs, media, with_errors=True))
    results, _ = extract.extract_documents_quarantine(docs, media)
    b.prefix("extract.reassemble", lambda: results.select("doc_id", "spans", "full_text"))
    b.prefix("extract.fields", lambda: results)
    b.layers["run"] = {"exchanges": _exchanges(results)}

    # Each snapshot commit inside run() gets its own job group, which stays
    # set for the jobs that follow it (the quarantine count).
    orig_commit = SnapshotTable.commit_append
    starts: dict[str, float] = {}
    traced = CheckpointedExtraction(b.scratch("traced"), snapshots=True)

    def grouped_commit(table, df, *a, **kw):
        layer = (
            "checkpoint.quarantine" if table.root == traced.quarantine_path
            else "checkpoint.commit"
        )
        b.spark.sparkContext.setJobGroup(layer, layer)
        starts[layer] = time.time()
        try:
            return orig_commit(table, df, *a, **kw)
        finally:
            if layer == "checkpoint.commit":
                b.spans.record(layer, starts[layer], time.time())

    SnapshotTable.commit_append = grouped_commit
    try:
        t = time.time()
        lineage = b.span("checkpoint.run", lambda: traced.run(docs, media, quarantine=True))
        traced_wall = time.time() - t
    finally:
        SnapshotTable.commit_append = orig_commit
    b.spans.record("checkpoint.quarantine", starts["checkpoint.quarantine"], t + traced_wall)
    b.prefix("checkpoint.pending", lambda: traced.pending(read("docs.parquet")))
    # the same pass with no job group or span
    (plain_wall,) = b.window(0, lambda i: fresh("phase1.parquet", "plain"), 1)
    b.stop_context()  # flushes the event log

    groups = b.layer_metrics(
        [
            ("extract.scan", None),
            ("extract.strip", "extract.scan"),
            ("extract.layout", "extract.strip"),
            ("extract.reassemble", "extract.layout"),
            ("extract.fields", "extract.reassemble"),
            ("checkpoint.commit", "extract.fields"),
            ("checkpoint.quarantine", None),
            ("checkpoint.pending", None),
        ]
    )
    L = b.layers
    L["extract.reassemble"]["skew_x"] = tracing.skew_x(
        L["extract.reassemble"]["_group"]["reduce_task_s"]
    )
    commit = L["checkpoint.commit"]
    commit["bytes_written"] = commit["_group"]["bytes_written"]
    commit["files_written"] = len(SnapshotTable(traced.results_path).files() or [])
    commit["rows_out"] = lineage["docs_processed"]
    quar = L["checkpoint.quarantine"]
    quar["docs_quarantined"] = lineage["docs_quarantined"]
    quar["spark_jobs"] = quar["_group"]["spark_jobs"]
    pend = L["checkpoint.pending"]
    pend["spark_jobs"] = pend["_group"]["spark_jobs"]
    pend["done_rows_read"] = max(0, pend["_group"]["records_read"] - m["docs"])
    L["run"]["spark_jobs"] = sum(
        groups.get(g, {}).get("spark_jobs", 0)
        for g in ("checkpoint.run", "checkpoint.commit", "checkpoint.quarantine")
    )
    L["run"]["trace_overhead"] = traced_wall / plain_wall
    L["run"]["resume_s"] = b.report["resume_s"]
    L["run"]["output_bytes_per_doc"] = b.report["output_bytes_per_doc"]
    _overheads(b, "phase1.parquet", set(m["malformed_media"]))
    L["run"]["scaling_eff_1to4"] = _one_core_leg(b, fresh, m["phase1_docs"] / plain_wall)
    return verdict


def _overheads(b: Bench, docs_file: str, bad_media: set[str]) -> None:
    """overhead_x: a layer's Spark core-s over the core-s of the oracle's
    bare function on the same rows, run here on one core."""
    import pyarrow.parquet as pq

    from medical_ocr_service_spark.corpus import golden

    docs = pq.read_table(b.input(docs_file)).to_pylist()
    media_map = {
        r["media_ref"]: r["layout_json"]
        for r in pq.read_table(
            b.input("media.parquet"), columns=["media_ref", "layout_json"]
        ).to_pylist()
    }
    spans = [s for d in docs for s in d["spans"]]
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    layouts = [media_map[s["media_ref"]] for s in spans
               if s["kind"] == "media" and s["media_ref"] not in bad_media]
    bad_docs = {ref.split("/")[2] for ref in bad_media}  # media://<doc_id>/<offset>
    full_texts = [golden.extract_document(d, media_map)["full_text"]
                  for d in docs if d["doc_id"] not in bad_docs]

    def fields_body(text):
        golden.confidence_fold(golden.extract_fields(text))

    for layer, fn, items in (
        ("extract.strip", golden.strip_boilerplate, texts),
        ("extract.layout", golden.layout_to_text, layouts),
        ("extract.fields", fields_body, full_texts),
    ):
        bare = _bare_seconds(fn, items)
        b.layers[layer]["overhead_x"] = b.layers[layer]["core_s"] / bare if bare > 0 else 0.0
        b.notes[f"{layer}.bare_core_s"] = bare


def _one_core_leg(b: Bench, fresh, docs_per_s: float) -> float:
    """Phase 1 again, untraced, on a fixed quarter of the corpus with
    local[1] and every thread of the driver JVM and its Python workers
    pinned to one CPU. Returns docs_per_s (the untraced local[N] pass) over
    N x docs_per_s(local[1])."""
    cpu = max(os.sched_getaffinity(0))
    tracing.pin_tree(cpu)
    b.start(1)
    b.quiet()
    fresh("warm.parquet", "warm-1core")
    n_probes = len(b.probes)
    walls = b.window(b.args.seconds, lambda i: fresh("quarter.parquet", f"1core{i}"))
    del b.probes[n_probes:]  # pinned probes do not measure the host
    b.notes["one_core_pinned"] = tracing.tree_cpus() == {cpu}
    b.notes["one_core_walls_s"] = walls
    one = b.m["quarter_docs"] / statistics.median(walls)
    b.notes["docs_per_s_1core"] = one
    return docs_per_s / (b.cores * one)


PREV_FIELDS = (
    "ruc", "prestador_nombre", "paciente_nombre", "paciente_ci", "fecha_orden",
    "diagnostico_texto", "diagnostico_codigo_cie", "medico_matricula",
    "matricula_valida", "urgente", "practicas", "confianza_extraccion",
)


def run_previsacion(b: Bench) -> tuple[int, int, dict]:
    from pyspark.sql import functions as F

    import checks
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.operators import extract, matching
    from medical_ocr_service_spark.plans import previsacion

    m = b.m
    dims: dict = {}  # dimension frames of the current session

    def plan(docs_file: str):
        if "prest" not in dims:
            dims["prest"], dims["nom"], dims["ac"] = generator.dims_dataframes(
                b.spark, seed=m["dims_seed"]
            )
        return previsacion.run_previsacion(
            b.spark.read.parquet(b.input(docs_file)),
            b.spark.read.parquet(b.input("media.parquet")),
            dims["prest"], dims["nom"], dims["ac"],
        )

    def both_writes(header, detail):
        header.write.format("noop").mode("overwrite").save()
        detail.write.format("noop").mode("overwrite").save()

    def one_pass(docs_file: str):
        both_writes(*plan(docs_file))
        b.spark.catalog.clearCache()  # the plan persists its provider match

    got: dict[str, list] = {}

    def checked_pass():
        # The set-up's warm-up is one pass over the full input whose outputs
        # are collected for the checks: a cold first pass costs about the
        # same on a sample, and this saves a separate check pass.
        header, detail = plan("docs.parquet")
        got["headers"] = [r.asDict(recursive=True) for r in header.collect()]
        got["details"] = [r.asDict(recursive=True) for r in detail.collect()]
        b.spark.catalog.clearCache()

    b.setup(checked_pass)
    if not b.args.trace:
        b.timed(m["docs"], lambda i: one_pass("docs.parquet"))
    headers, details = got["headers"], got["details"]
    verdict = checks.check_previsacion(m, headers, details)
    if not b.args.trace:
        return verdict

    dims.clear()
    b.restart_traced(lambda: one_pass("warm.parquet"))
    docs = b.spark.read.parquet(b.input("docs.parquet"))
    media = b.spark.read.parquet(b.input("media.parquet"))
    b.prefix("extract.scan", lambda: extract.exploded_spans(docs))
    b.prefix("extract.strip", lambda: _text_branch(docs))
    b.prefix("extract.layout", lambda: extract.clean_spans(docs, media))
    b.prefix("extract.reassemble", lambda: extract.reassembled_docs(docs, media))
    extracted = extract.extract_documents(docs, media)
    b.prefix("extract.fields", lambda: extracted)

    def embed():
        for df in (matching.embed_prestadores(dims["prest"]), matching.embed_nomencladores(dims["nom"])):
            df.write.format("noop").mode("overwrite").save()

    b.span("matching.embed", embed)
    # the doc_fields projection run_previsacion feeds the provider cascade
    doc_fields = extracted.select(
        "doc_id", *[F.col(f"fields.{c}").alias(c) for c in PREV_FIELDS],
        previsacion.plan_id_col(),
    )
    b.prefix(
        "matching.prestador",
        lambda: matching.match_prestador(doc_fields, matching.embed_prestadores(dims["prest"])),
    )
    b.prefix("matching.practices", lambda: plan("docs.parquet")[1])

    header, detail = plan("docs.parquet")  # not executed: the initial plan
    b.layers["run"] = {"exchanges": _exchanges(header) + _exchanges(detail)}
    b.spark.catalog.clearCache()
    t = time.time()
    b.span("previsacion.assemble", lambda: both_writes(*plan("docs.parquet")))
    traced_wall = time.time() - t
    b.layers["previsacion.assemble"] = {
        "cache_bytes": _storage_bytes(b.spark), "rows_out": len(headers) + len(details)
    }
    b.spark.catalog.clearCache()
    t = time.time()
    one_pass("docs.parquet")  # the same pass with no job group or span
    plain_wall = time.time() - t
    b.stop_context()

    groups = b.layer_metrics(
        [
            ("extract.scan", None),
            ("extract.strip", "extract.scan"),
            ("extract.layout", "extract.strip"),
            ("extract.reassemble", "extract.layout"),
            ("extract.fields", "extract.reassemble"),
            ("matching.embed", None),
            ("matching.prestador", "extract.fields"),
            ("matching.practices", "matching.prestador"),
            ("previsacion.assemble", "matching.practices"),
        ]
    )
    L = b.layers
    L["extract.reassemble"]["skew_x"] = tracing.skew_x(
        L["extract.reassemble"]["_group"]["reduce_task_s"]
    )
    L["matching.prestador"]["match_rate"] = sum(
        1 for h in headers if h["prestador_id_sugerido"] is not None
    ) / max(1, len(headers))
    L["matching.practices"]["match_rate"] = sum(
        1 for d in details if d["nomenclador_id_sugerido"] is not None
    ) / max(1, len(details))
    L["run"]["spark_jobs"] = groups.get("previsacion.assemble", {}).get("spark_jobs", 0)
    L["run"]["trace_overhead"] = traced_wall / plain_wall
    _overheads(b, "docs.parquet", set())
    return verdict


RUNNERS = {"extract": run_extract, "previsacion": run_previsacion}


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def result_line(b: Bench, attempted: int, failed: int) -> dict:
    """The last stdout line: per-layer metrics when traced (0 for a layer
    that does not run on this workload), else the end-to-end metrics."""
    if b.args.trace:
        values = {
            name: b.layers.get(name.rsplit(".", 1)[0], {}).get(name.rsplit(".", 1)[1], 0)
            for name in per_layer_names()
        }
        units = per_layer_names()
    else:
        values, units = b.report, END_TO_END
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="override the workload size")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the package only through PYTHONPATH; temp files
    # of Python, the JVM and Spark stay inside this run's directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    inputs_started = time.time()
    import inputs

    size = args.docs or inputs.SIZES[args.workload]
    manifest = inputs.load(os.path.join(ROOT, ".perfbench", "inputs"), args.workload, args.seed, size)
    b = Bench(args, manifest, run_id, run_dir)
    b.notes["inputs_s"] = time.time() - inputs_started
    try:
        attempted, failed, notes = RUNNERS[args.workload](b)
        b.notes["runner_end_s"] = time.time() - tracing.process_start()
    finally:
        b.shutdown()
    b.notes["shutdown_end_s"] = time.time() - tracing.process_start()
    b.notes.update(notes)
    b.notes["probe_s"] = b.probes
    f = b.host_factor()
    b.report["setup_s"] = b.report["setup_s_raw"] / f
    if "docs_per_s_raw" in b.report:
        b.report["docs_per_s"] = b.report["docs_per_s_raw"] * f
    line = result_line(b, attempted, failed)

    report = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": b.cores,
        "docs": manifest["docs"], "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "end_to_end": b.report,
        "layers": {k: {m: v for m, v in d.items() if m != "_group"} for k, d in b.layers.items()},
        "notes": b.notes,
    }
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        b.spans.dump(os.path.join(run_dir, "spans.json"))
    for sub in ("out", "events", "local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} docs={manifest['docs']} "
          f"cores={b.cores} report={os.path.relpath(run_dir, ROOT)}/report.json")
    print(f"  failed_frac = {failed}/{attempted} = {failed / attempted:.6f} ratio")
    for k, v in b.report.items():
        if not isinstance(v, list):
            print(f"  {k} = {v:.6g} {END_TO_END.get(k) or UNITS[k]}")
    if args.trace:
        for layer, d in b.layers.items():
            vals = ", ".join(f"{k}={v:.4g}" for k, v in d.items() if k != "_group")
            print(f"  [{layer}] {vals}")
    if notes:
        print(f"  check notes: {json.dumps(notes, default=str)[:400]}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
