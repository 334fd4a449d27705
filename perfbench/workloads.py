"""The benchmark's workloads, their Spark session and their metrics.

Every run: import the program, build the seeded inputs and the expected
outputs (untimed), start a Spark session and run the warm-up (together the
set-up), then repeat the workload's job until ``seconds`` have passed, each
repetition on an empty cache and checked against the expected output.

With ``trace`` the run makes one traced repetition instead, in the same
state as the first untraced one.  It opens a span around each call into a
layer's public function (``spans.Tracer``) and tags the Spark jobs launched
inside it with the span's job group; the event log then gives each span its
jobs, stages and tasks.  A few probes follow it (noop-sink scans, an
in-process decode) for the layer metrics that need a call of their own.

The tracing overhead is the time the tracer spends in its own bookkeeping.
It is not the traced minus an untraced repetition's time: a second
repetition in one session runs on a warmer JIT and reads seconds faster,
which would hide the tracer's cost.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext

from perfbench import eventlog, fixtures
from perfbench.spans import Tracer, clipped, layer_self_times, subtree, union_length

CORES = len(os.sched_getaffinity(0))

CURATION_LEGS = [
    "minhash_pairs", "simhash_pairs", "ngram_jaccard", "semantic_pairs",
    "decontaminate", "dsir_sample", "domain_budget", "host_template",
    "web_pipeline2", "bm25_topk", "line_dedup",
]

LAYERS = ["bench", "sources", "extract", "checkpoint", "sink", "ops"]

#: every per-layer metric a traced run prints; a layer a workload does not
#: run reports 0
PER_LAYER = [
    "sources.scan_s", "sources.bytes_in",
    "extract.plan_s", "extract.probe_jobs", "extract.compute_s",
    "extract.python_bytes_sent", "extract.python_bytes_returned",
    "extract.shuffle_write_bytes", "extract.decode_stage_s", "extract.decode_task_skew",
    "media.ms_per_page", "media.pages",
    "checkpoint.call_s", "checkpoint.executor_idle_s", "checkpoint.jobs",
    "checkpoint.bytes_written_per_byte_out",
    "sink.write_s", "sink.files_out", "sink.bytes_out",
    "spark.core_util", "spark.gc_s", "spark.spill_bytes", "spark.jobs", "spark.tasks",
    *[m for leg in CURATION_LEGS for m in (f"ops.{leg}_s", f"ops.{leg}.shuffle_bytes")],
    *[f"self.{layer}_s" for layer in LAYERS],
    "trace.job_s", "trace.self_sum_s", "trace.overhead_s",
]


# --- Spark session -----------------------------------------------------------

def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def spark_settings(work: str) -> dict:
    """Session settings fitted to this machine: one core per task slot, two
    shuffle partitions per core, and a driver heap of an eighth of RAM (1-2 GB),
    which leaves room for the Python workers.  The heap is committed and
    touched at start (``-Xms``, ``AlwaysPreTouch``) so that peak memory does
    not depend on when the JVM grows it.  Every file Spark writes stays under
    ``work``."""
    heap_mb = max(1024, min(2048, _mem_total_mb() // 8))
    return {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "chug_spark_perfbench",
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def start_session(settings: dict):
    from pyspark.sql import SparkSession

    for key in ("spark.local.dir", "spark.sql.warehouse.dir"):
        os.makedirs(settings[key], exist_ok=True)
    os.makedirs(settings["spark.eventLog.dir"][len("file://"):], exist_ok=True)
    spark = SparkSession.builder.config(map=settings).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def event_log_file(settings: dict) -> str:
    d = settings["spark.eventLog.dir"][len("file://"):]
    names = [n for n in os.listdir(d) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {names}")
    return os.path.join(d, names[0])


# --- memory -------------------------------------------------------------------

def _descendants(pid: int) -> list:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, frontier = [], [pid]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, [])]
        out.extend(frontier)
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared with other processes (forked
    Python workers share most of theirs) count once across the set."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PssSampler:
    """Peak summed PSS of this process's descendants (the driver JVM and its
    Python workers), sampled every 100 ms while the context is open."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_pss_mb(p) for p in _descendants(os.getpid()))
        self.peak_mb = max(self.peak_mb, total)

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# --- helpers ------------------------------------------------------------------

def _files(path: str) -> list:
    out = []
    for dirpath, _, names in os.walk(path):
        out.extend(os.path.join(dirpath, n) for n in names if not n.startswith(("_", ".")))
    return out


def _jobs_union_s(log, groups, start: float, end: float) -> float:
    iv = [(j.start_ms / 1000.0, (j.end_ms or j.start_ms) / 1000.0) for j in log.jobs_in(groups)]
    return union_length(clipped(iv, start, end))


def _groups(tracer, sids) -> list:
    return [tracer.spans[s].group for s in sids]


def _spans_of(tracer, sids, layer: str) -> list:
    return [s for s in sids if tracer.spans[s].layer == layer]


def spark_metrics(log, groups, job_s: float) -> dict:
    stages = log.stages_in(groups)
    t = eventlog.totals(stages)
    return {
        "spark.core_util": t["run_s"] / (job_s * CORES) if job_s > 0 else 0.0,
        "spark.gc_s": t["gc_s"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.jobs": len(log.jobs_in(groups)),
        "spark.tasks": t["tasks"],
    }


def trace_metrics(tracer, root: int) -> dict:
    selfs = layer_self_times([tracer.spans[s] for s in subtree(tracer.spans, root)])
    out = {f"self.{layer}_s": selfs.get(layer, 0.0) for layer in LAYERS}
    job_s = tracer.spans[root].duration
    out["trace.job_s"] = job_s
    out["trace.self_sum_s"] = sum(selfs.values())
    out["trace.overhead_s"] = tracer.overhead_s
    return out


# --- docread workloads --------------------------------------------------------

class Docread:
    """Doc-read extraction over a ``synth.generate_docs`` corpus.

    ``checkpoint=True`` is ``job.py``'s default mode (bucketed
    ``write_with_checkpoint``); ``False`` is ``job.py --no-checkpoint``
    (``extract_docread`` -> ``flatten_spans`` -> parquet spans + errors)."""

    def __init__(self, seed: int, work: str, n_docs: int, payload_every: int,
                 checkpoint: bool, render_dpi: int, buckets: int = 8):
        self.seed = seed
        self.n_docs = n_docs
        self.payload_every = payload_every
        self.checkpoint = checkpoint
        self.render_dpi = render_dpi
        self.buckets = buckets
        self.in_path = os.path.join(work, "input", "documents")
        self.out_dir = os.path.join(work, "output")

    def import_program(self) -> None:
        from chug_spark import checkpoint, extract, media
        from chug_spark.config import ExtractJobCfg
        from chug_spark.sources import documents

        self.cp, self.ex, self.media, self.docs_mod = checkpoint, extract, media, documents
        self.Cfg = ExtractJobCfg

    def cfg(self, **kw):
        # job.py's defaults, with this workload's render dpi
        base = dict(page_sampling="all_valid", seed=0, render_dpi=self.render_dpi,
                    max_pages_per_task=8, run_id="run0", branch="auto")
        base.update(kw)
        return self.Cfg(**base)

    def prepare(self) -> None:
        self.rows = fixtures.docread_rows(self.n_docs, self.seed, self.payload_every)
        fixtures.write_docs(self.rows, self.in_path, n_files=CORES)
        workers = CORES if self.payload_every else 1
        self.expected = fixtures.docread_expected(
            self.rows, workers, page_sampling="all_valid", seed=0,
            render_dpi=self.render_dpi,
        )

    def warm_up(self, spark) -> None:
        # job.py's untimed warm-up pass
        docs = self.docs_mod.read_documents(spark, self.in_path)
        spans_w, _ = self.ex.extract_docread(
            spark, docs.limit(64), self.cfg(seed=1, render_dpi=12))
        self.ex.flatten_spans(spans_w).count()

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def job(self, spark, tracer) -> dict:
        """One job.py run; returns extra fields for the run log."""
        docs = self.docs_mod.read_documents(spark, self.in_path)
        cfg = self.cfg()
        if self.checkpoint:
            self.cp.write_with_checkpoint(spark, docs, cfg, self.out_dir,
                                          n_buckets=self.buckets)
        else:
            spans_out, errors = self.ex.extract_docread(spark, docs, cfg)
            self.ex.flatten_spans(spans_out).write.mode("overwrite").parquet(
                os.path.join(self.out_dir, "spans"))
            errors.write.mode("overwrite").parquet(os.path.join(self.out_dir, "errors"))
        return {}

    def check(self) -> dict:
        spans = fixtures.read_written(os.path.join(self.out_dir, "spans"), fixtures.SPAN_COLS)
        errors = fixtures.read_written(os.path.join(self.out_dir, "errors"), fixtures.ERROR_COLS)
        got = fixtures.summarize(spans, errors)
        ok = got == self.expected
        return {"ops": 1, "failed": 0 if ok else 1, "units": got["docs_out"],
                "mismatch": None if ok else {"got": got, "expected": self.expected}}

    def check_log(self, log, groups) -> bool:
        """The payload corpus must show decode work in every repetition: a
        second identical plan in one session could read the persisted decode
        output instead."""
        if not self.payload_every:
            return True
        return any(eventlog.is_decode_stage(s) for s in log.stages_in(groups))

    def wrap(self, tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        tracer.wrap(self.docs_mod, "read_documents", "sources")
        tracer.wrap(self.ex, "extract_docread", "extract")
        tracer.wrap(self.cp, "write_with_checkpoint", "checkpoint")
        tracer.wrap(DataFrameWriter, "parquet", "sink")

    def probes(self, spark, tracer) -> dict:
        out = {}
        with tracer.span("probe", "scan") as s:
            self.docs_mod.read_documents(spark, self.in_path).write.format(
                "noop").mode("overwrite").save()
        out["scan"] = s
        spark.catalog.clearCache()
        with tracer.span("probe", "compute") as s:
            docs = self.docs_mod.read_documents(spark, self.in_path)
            spans_out, errors = self.ex.extract_docread(spark, docs, self.cfg())
            self.ex.flatten_spans(spans_out).write.format("noop").mode("overwrite").save()
            errors.write.format("noop").mode("overwrite").save()
        out["compute"] = s
        spark.catalog.clearCache()
        out["media"] = self._media_probe()
        return out

    def _media_probe(self, n_docs: int = 16) -> tuple:
        """(ms per page, pages): ``decode_media_pages`` in this process, one
        thread, over every page of the corpus' first payload documents."""
        refs = []
        for _, spans in self.rows:
            media = sorted((s for s in spans if s["kind"] == "media"), key=lambda s: s["offset"])
            if media and self.media.is_payload_ref(media[0]["media_ref"]):
                refs.append(media[0]["media_ref"])
            if len(refs) == n_docs:
                break
        pages, t0 = 0, time.perf_counter()
        for ref in refs:
            try:
                decoded, _ = self.media.decode_media_pages(ref, render_dpi=self.render_dpi)
            except ValueError:
                continue  # the corpus' deliberately corrupt payloads
            pages += len(decoded)
        ms = (time.perf_counter() - t0) * 1000.0
        return (ms / pages if pages else 0.0), pages

    def layer_metrics(self, log, tracer, root: int, probes: dict) -> dict:
        spans = tracer.spans
        sids = subtree(spans, root)
        job_s = spans[root].duration
        stages = log.stages_in(_groups(tracer, sids))
        t = eventlog.totals(stages)
        ex_sids = _spans_of(tracer, sids, "extract")
        ex_groups = [g for s in ex_sids for g in _groups(tracer, subtree(spans, s))]
        decode = [s for s in stages if eventlog.is_decode_stage(s)]
        decode_iv = [(s.submit_ms / 1000.0, (s.complete_ms or s.submit_ms) / 1000.0) for s in decode]
        heaviest = max(decode, key=lambda s: sum(x.run_ms for x in s.tasks), default=None)

        scan = probes["scan"]
        compute = probes["compute"]
        ms_per_page, pages = probes["media"]

        out_files = _files(os.path.join(self.out_dir, "spans")) + _files(
            os.path.join(self.out_dir, "errors"))
        bytes_out = sum(os.path.getsize(f) for f in out_files)

        m = {
            "sources.scan_s": scan.duration,
            "sources.bytes_in": sum(os.path.getsize(f) for f in _files(self.in_path)),
            "extract.plan_s": sum(spans[s].duration for s in ex_sids),
            "extract.probe_jobs": len(log.jobs_in(ex_groups)),
            "extract.compute_s": compute.duration,
            "extract.python_bytes_sent": t["python_bytes_sent"],
            "extract.python_bytes_returned": t["python_bytes_returned"],
            "extract.shuffle_write_bytes": t["shuffle_write_bytes"],
            "extract.decode_stage_s": union_length(decode_iv),
            "extract.decode_task_skew": eventlog.task_skew(heaviest) if heaviest else 0.0,
            "media.ms_per_page": ms_per_page,
            "media.pages": pages,
            "sink.write_s": job_s - compute.duration,
            "sink.files_out": len(out_files),
            "sink.bytes_out": bytes_out,
        }
        cp_sids = _spans_of(tracer, sids, "checkpoint")
        cp = {"checkpoint.call_s": 0.0, "checkpoint.executor_idle_s": 0.0,
              "checkpoint.jobs": 0, "checkpoint.bytes_written_per_byte_out": 0.0}
        for s in cp_sids:
            span = spans[s]
            groups = _groups(tracer, subtree(spans, s))
            cp["checkpoint.call_s"] += span.duration
            cp["checkpoint.executor_idle_s"] += span.duration - _jobs_union_s(
                log, groups, span.start, span.end)
            cp["checkpoint.jobs"] += len(log.jobs_in(groups))
            written = eventlog.totals(log.stages_in(groups))["output_bytes"]
            cp["checkpoint.bytes_written_per_byte_out"] += written / bytes_out if bytes_out else 0.0
        m.update(cp)
        m.update(spark_metrics(log, _groups(tracer, sids), job_s))
        return m


# --- curation workload --------------------------------------------------------

class Curation:
    """The ``__spark_entry__.queries()`` registry legs over seeded
    documents/embeddings tables, each leg on an empty cache."""

    def __init__(self, seed: int, work: str, n_docs: int = 500, n_emb: int = 200):
        self.seed = seed
        self.n_docs = n_docs
        self.n_emb = n_emb
        self.sf_dir = os.path.join(work, "input", "sf")

    def import_program(self) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        self.legs = {leg: registry[leg] for leg in CURATION_LEGS}
        self.oracle_sql = entry.oracle_sql()

    def prepare(self) -> None:
        fixtures.write_curation_tables(self.sf_dir, self.seed, self.n_docs, self.n_emb)
        self.expected = fixtures.curation_expected(self.sf_dir, CURATION_LEGS, self.oracle_sql)
        # every leg reads the documents table except semantic_pairs (embeddings)
        self.input_rows = self.n_docs * (len(CURATION_LEGS) - 1) + self.n_emb

    def warm_up(self, spark) -> None:
        # no job.py pass applies here; absorb the session's first-job cost
        spark.range(1).count()

    def reset(self) -> None:
        self.results = {}

    def job(self, spark, tracer) -> dict:
        leg_s = {}
        for leg, fn in self.legs.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            with tracer.span("ops", leg) if tracer else nullcontext():
                df = fn(spark, self.sf_dir)
                rows = df.collect()
            leg_s[leg] = time.perf_counter() - t0
            self.results[leg] = (df.columns, rows)
        return {"job_s": sum(leg_s.values()), "leg_s": leg_s}

    def check(self) -> dict:
        failed = []
        for leg, (cols, rows) in self.results.items():
            got = (len(rows), fixtures.value_hash([tuple(r) for r in rows], cols))
            if got != self.expected[leg]:
                failed.append(leg)
        return {"ops": len(self.results), "failed": len(failed), "units": self.input_rows,
                "mismatch": failed or None}

    def check_log(self, log, groups) -> bool:
        return True

    def wrap(self, tracer) -> None:
        pass  # the legs are spanned inside job()

    def probes(self, spark, tracer) -> dict:
        return {}

    def layer_metrics(self, log, tracer, root: int, probes: dict) -> dict:
        spans = tracer.spans
        sids = subtree(spans, root)
        m = {}
        job_s = 0.0
        for s in _spans_of(tracer, sids, "ops"):
            span = spans[s]
            job_s += span.duration
            m[f"ops.{span.name}_s"] = span.duration
            m[f"ops.{span.name}.shuffle_bytes"] = eventlog.totals(
                log.stages_in([span.group]))["shuffle_write_bytes"]
        m.update(spark_metrics(log, _groups(tracer, sids), job_s))
        return m


def make_workload(name: str, seed: int, work: str):
    # Sizes keep one run near 30 s on 4 cores, set-up included, so that many
    # runs of every workload fit in an hour.  The passthrough job's cost is
    # the checkpoint loop's fixed work per bucket (4x the docs adds ~3 %), so
    # it runs 2 buckets where job.py defaults to 8.
    if name == "docread_passthrough":
        return Docread(seed, work, n_docs=1000, payload_every=0, checkpoint=True,
                       render_dpi=144, buckets=2)
    if name == "docread_payload":
        return Docread(seed, work, n_docs=300, payload_every=2, checkpoint=False,
                       render_dpi=96)
    if name == "curation":
        return Curation(seed, work)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["docread_passthrough", "docread_payload", "curation"]


# --- one run ------------------------------------------------------------------

def run(name: str, seed: int, seconds: float, trace: bool, work: str, log=print) -> dict:
    wl = make_workload(name, seed, work)

    t0 = time.perf_counter()
    import pyspark  # noqa: F401  (part of the set-up time)

    wl.import_program()
    import_s = time.perf_counter() - t0

    wl.prepare()

    settings = spark_settings(work)
    log({"settings": settings, "cores": CORES})
    t0 = time.perf_counter()
    spark = start_session(settings)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warm_s = time.perf_counter() - t0
        log({"setup": {"import_s": import_s, "session_s": session_s, "warm_up_s": warm_s}})

        tracer = Tracer(spark.sparkContext)
        reps = []
        deadline = time.monotonic() + seconds
        while True:
            spark.catalog.clearCache()
            wl.reset()
            if trace:
                wl.wrap(tracer)
            try:
                with PssSampler() as mem:
                    with tracer.span("bench", f"rep{len(reps)}") as root:
                        info = wl.job(spark, tracer if trace else None)
            finally:
                tracer.unwrap_all()
            rep = {"job_s": info.get("job_s", root.duration), "peak_rss_mb": mem.peak_mb,
                   **wl.check()}
            log({"rep": len(reps), **rep, **info})
            reps.append((root.sid, rep))
            if trace or time.monotonic() >= deadline:
                break
        probes = wl.probes(spark, tracer) if trace else {}
    finally:
        stop_session(spark)

    ev = eventlog.read_event_log(event_log_file(settings))
    for k, (root, rep) in enumerate(reps):
        if not wl.check_log(ev, _groups(tracer, subtree(tracer.spans, root))):
            rep["failed"] = rep["ops"]
            log({"rep": k, "error": "no decode stage in the event log"})

    reps_only = [rep for _, rep in reps]
    failed = sum(r["failed"] for r in reps_only)
    if trace:
        root = reps[0][0]
        metrics = dict.fromkeys(PER_LAYER, 0)
        metrics.update(wl.layer_metrics(ev, tracer, root, probes))
        metrics.update(trace_metrics(tracer, root))
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = {
            "job_s": statistics.median(r["job_s"] for r in reps_only),
            "docs_per_sec": statistics.median(r["units"] / r["job_s"] for r in reps_only),
            "setup_s": import_s + session_s + warm_s,
            "peak_rss_mb": max(r["peak_rss_mb"] for r in reps_only),
        }
        units = {"job_s": "s", "docs_per_sec": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
    return {
        "correct": failed == 0,
        "attempted": sum(r["ops"] for r in reps_only),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if "bytes" in metric and metric != "checkpoint.bytes_written_per_byte_out":
        return "bytes"
    if metric == "media.ms_per_page":
        return "ms"
    if metric in ("spark.core_util", "extract.decode_task_skew",
                  "checkpoint.bytes_written_per_byte_out"):
        return "ratio"
    return "count"
