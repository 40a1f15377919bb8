"""Repo benchmark: the streaming alert pipeline under open-loop and burst load.

    python3 perfbench/run.py --workload stream_paced --seed 1 --seconds 10 --trace 0

Workloads (inputs come from ``perfbench/invoices.py``, seeded by ``--seed``):

- ``stream_paced``: the full ``start_pipeline`` runs (both detectors, the
  cancellation-window query, 1 s trigger, 2 expiry ticks) while an
  open-loop generator process (``perfbench/loadgen.py``) writes lines at
  the reference simulator's mean pace, 7.5 ms per line, for ``WARMUP_S`` +
  ``--seconds`` seconds. Only lines after the warm-up, and the alerts of
  invoices that end in them, are timed.
- ``stream_burst``: a backlog of ``BURST_LINES`` lines (about 4 000
  invoices) is already in the source directory when the same pipeline
  starts, as after an outage. The backlog, not ``--seconds``, sets how long
  this workload measures: until the backlog has drained.

The pipeline scores with two fixed-k detectors (k=5 KMeans, k=3
BisectingKMeans, the reference's picks) that ``perfbench/train.py`` fits and
saves in a process of its own, as the ``train`` command runs before the
``pipeline`` command. Its training CSV has a fixed seed, so the detectors
are trained once per version of the code that trains them (the package and
the benchmark's training files) and kept in ``.bench_cache/``; a traced run
trains again, after its load and in the same JVM, to measure the training
layers.

Each run sets the pipeline up once, cold, as the ``pipeline`` command
does: ``setup_s`` counts the interpreter's start and the imports, a Spark
session (and so the JVM's start), both detectors loaded and the queries
started, and leaves out the benchmark's own work (training the detector
cache, making the inputs). The load runs after it. It has drained when a batch
that started after the last line was written, or a later one, left the
state store empty; its outputs are then checked against a batch
computation over the same lines.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``setup_s``, ``stream_lines_per_s``, ``peak_rss_nonheap_mb``);
with ``--trace 1`` the run also records spans, progress events and job
counts, reports per-layer metrics instead (among them the alert latencies),
and writes the trace to ``.bench_out/``. Every run prints the alert
latencies. Failures counted in ``failed``: alerts missing,
extra, duplicated or with a wrong reason; a wrong sum of window counts; a
detector whose k or threshold changed; a query that died before stop; a
timeout.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import bisect  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

RATE = 1000 / 7.5  # lines/s: the reference simulator's mean 5-10 ms pace
CHUNK_LINES = 20  # one file every 0.15 s at RATE
TRIGGER_S = 1
EXPIRY_TICKS = 2
EXPIRY_S = TRIGGER_S * EXPIRY_TICKS
WARMUP_S = 5  # stream_paced: seconds of paced load before latencies count
BURST_LINES = 20_000
# Lines per invoice, up to: a paced batch holds few keys (reference invoices
# run to about 20 lines); the backlog holds about 4 000, five lines each.
PACED_MAX_LINES = 15
BURST_MAX_LINES = 9
BURST_FILES = 8
DRAIN_TIMEOUT_S = 75  # for the drain and the window counts together
WORKLOADS = ("stream_paced", "stream_burst")


def _pct(values, q):
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Bench:
    def __init__(self, args, run_dir):
        from tracing import MemSampler, Tracer
        from train import gc_log

        self.args = args
        self.run_dir = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.rss = MemSampler(gc_log(run_dir))
        self.rss.start()
        self.spark = None
        self.handle = None
        self.listener = None
        self.gen = None
        self.attempted = 0
        self.causes = Counter()
        self.setup_s = 0.0
        #: set-up time per step: "boot" (interpreter start and imports) and
        #: one entry per timed call
        self.layer_s: dict[str, float] = {}
        self.trained: dict = {}
        self.train_trace: dict = {}
        self.result: dict = {}
        self.detectors = None
        self.backlog_log: list = []
        self.calibration_s = 0.0

    # -- set-up ------------------------------------------------------------

    def _timed(self, layer, fn):
        """Run one set-up step, timing it."""
        t = time.perf_counter()
        with self.tracer.span(layer):
            out = fn()
        self.layer_s[layer] = time.perf_counter() - t
        return out

    def _session(self):
        from train import session

        return session(f"perfbench-{self.args.workload}", self.run_dir)

    def run_train(self, out_dir: str, trace: bool) -> dict:
        """Run ``train.py`` as its own process (its memory is not counted)
        and return its ``trained.json``."""
        cmd = [sys.executable, os.path.join(HERE, "train.py"), out_dir, "--trace", str(int(trace))]
        proc = subprocess.Popen(cmd, stdout=sys.stderr)
        self.rss.exclude.add(proc.pid)
        if proc.wait(timeout=170) != 0:
            raise RuntimeError(f"train.py exited with {proc.returncode}")
        with open(os.path.join(out_dir, "trained.json")) as f:
            trained = json.load(f)
        self.attempted += trained["attempted"]
        self.causes["changed_threshold"] += trained["failed"]
        return trained

    def trained_detectors(self) -> str:
        """The detectors' directory, kept in ``.bench_cache/`` under a hash
        of the code that trains and saves them: the training CSV has a
        fixed seed, so they are trained once per version of that code."""
        d = os.path.join(ROOT, ".bench_cache", f"detectors-{_source_hash()}")
        if not os.path.exists(os.path.join(d, "trained.json")):
            tmp = f"{d}.tmp{os.getpid()}"
            # a traced run measures the training layers on this training
            trained = self.run_train(tmp, trace=self.tracer.enabled)
            if self.tracer.enabled:
                self.train_trace = trained
            for scratch in ("local", "tmp", "warehouse"):
                shutil.rmtree(os.path.join(tmp, scratch), ignore_errors=True)
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
        with open(os.path.join(d, "trained.json")) as f:
            self.trained = json.load(f)["detectors"]
        return d

    def setup(self, before_start=None):
        """This process's set-up: session, detectors loaded, queries
        started. It takes the boot time (interpreter start and imports) plus
        the time of those three steps. Returns the epoch time at which the
        workload is ready.

        ``before_start`` runs untimed between loading the detectors and
        starting the queries (the benchmark's own bookkeeping: the backlog,
        the host-load probe).
        """
        from spark_streaming_invoice_anomaly_detection_spark.ml.clustering import load_detector

        self.spark = self._timed("session", self._session)

        def load():
            return [load_detector(self.spark, os.path.join(self.detector_dir, a)) for a in ("kmeans", "bisecting")]

        detectors = self._timed("ml.clustering.load", load)
        for det in detectors:
            want = self.trained[det.algo]
            self.attempted += 1
            if len(det.model.clusterCenters()) != want["k"] or det.model.getK() != want["k"]:
                self.causes["changed_k"] += 1
            if det.threshold != want["threshold"]:
                self.causes["changed_threshold"] += 1

        if before_start is not None:
            before_start(detectors)

        self.detectors = detectors
        self.handle = self._timed("streaming.pipeline.start", lambda: self._start_queries(detectors))
        self.setup_s = sum(self.layer_s[k] for k in ("boot", "session", "ml.clustering.load", "streaming.pipeline.start"))
        return time.time()

    def _dir(self, name):
        """A fresh directory per run: source, checkpoint, staging."""
        d = os.path.join(self.run_dir, name)
        os.makedirs(d, exist_ok=True)
        return d

    def _start_queries(self, detectors):
        from spark_streaming_invoice_anomaly_detection_spark.streaming.pipeline import PipelineSinks, start_pipeline

        self.src = self._dir("src")
        self.alerts: list[tuple] = []
        self.windows: list[tuple] = []
        self.main_epoch = -1
        if self.tracer.enabled:
            from tracing import ProgressLog

            self.listener = ProgressLog(self.tracer)
            self.spark.streams.addListener(self.listener)

        def sink(name):
            def deliver(df, epoch_id):
                start = time.time()
                rows = df.collect()
                t = time.time()
                if name == "cancellations":
                    self.windows.extend((r.window_start, r.window_end, r.n) for r in rows)
                else:
                    reason = name == "erroneous"
                    self.main_epoch = max(self.main_epoch, epoch_id)
                    self.alerts.extend((name, r.invoice_no, r.reason if reason else None, t) for r in rows)
                self.tracer.add(f"sink.{name}", start, t, epoch=epoch_id)

            return deliver

        raw = self.spark.readStream.format("text").load(self.src)
        kmeans, bisecting = detectors
        return start_pipeline(
            raw,
            PipelineSinks(
                erroneous=sink("erroneous"),
                cancellations=sink("cancellations"),
                kmeans_anomalies=sink("kmeans_anomalies"),
                bisect_anomalies=sink("bisect_anomalies"),
            ),
            kmeans=kmeans,
            bisect=bisecting,
            trigger_seconds=TRIGGER_S,
            expiry_ticks=EXPIRY_TICKS,
            checkpoint_dir=self._dir("ckpt"),
            staging_dir=self._dir("stage"),
        )

    def teardown(self):
        """Stop the queries and the SparkContext; the JVM stays up. A query
        that died before this point is a failure; an error raised while
        stopping is only noted."""
        if self.handle is not None:
            for q in (self.handle.main, self.handle.cancellation_windows):
                self.attempted += 1
                if not q.isActive or q.exception() is not None:
                    self.causes["query_died"] += 1
            try:
                self.handle.stop()
            except Exception as e:  # noqa: BLE001 - errors at stop are not failures
                self.tracer.notes.append(f"error while stopping queries (not a failure): {e!r:.300}")
            self.handle = None
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- load --------------------------------------------------------------

    def start_generator(self, lines, rate, chunk_lines, start_at):
        lines_file = os.path.join(self.run_dir, "lines.txt")
        with open(lines_file, "w") as f:
            f.write("\n".join(lines) + "\n")
        self.gen_log = os.path.join(self.run_dir, "gen.json")
        cmd = [
            sys.executable,
            os.path.join(HERE, "loadgen.py"),
            lines_file,
            self.src,
            os.path.join(self.run_dir, "gen_stage"),
            self.gen_log,
            "--rate",
            str(rate),
            "--chunk-lines",
            str(chunk_lines),
            "--start-at",
            str(start_at),
        ]
        self.gen = subprocess.Popen(cmd, stdout=sys.stderr)
        self.rss.exclude.add(self.gen.pid)

    def wait_generator(self, timeout):
        rc = self.gen.wait(timeout=timeout)
        self.gen = None
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        with open(self.gen_log) as f:
            return json.load(f)

    def wait_drained(self, last_write, deadline) -> bool:
        """Wait for a main-query batch that started after ``last_write`` (so
        its file listing saw every line) or later, and left no invoice in the
        state store. Every invoice has then been emitted and its alerts
        delivered: a batch's progress is posted after its sinks return.
        (``numInputRows`` cannot tell when all lines were read: with the
        persisted foreachBatch frame it undercounts now and then.)"""
        from tracing import progress_start

        seen: dict[int, dict] = {}
        while time.time() < deadline:
            if not (self.handle.main.isActive and self.handle.cancellation_windows.isActive):
                return False
            for p in self.handle.main.recentProgress:
                seen.setdefault(p["batchId"], json.loads(p.json))
            after = False
            for bid in sorted(seen):
                p = seen[bid]
                after = after or progress_start(p) > last_write
                if after and p["stateOperators"] and p["stateOperators"][0]["numRowsTotal"] == 0:
                    return True
            time.sleep(0.05)
        tail = [(b, p["timestamp"], p["stateOperators"][0]["numRowsTotal"] if p["stateOperators"] else None)
                for b, p in sorted(seen.items())[-5:]]
        print(f"perfbench: not drained; last write {last_write:.3f}, last batches {tail}", file=sys.stderr)
        return False

    def wait_windows(self, total, deadline) -> bool:
        """Wait until the window counts add up to ``total``."""
        from check import window_total

        while time.time() < deadline:
            if window_total(self.windows) >= total:
                return True
            if not self.handle.cancellation_windows.isActive:
                return False
            time.sleep(0.05)
        return False

    # -- one measured phase -------------------------------------------------

    def measure(self, lines, gen_log, ready, warm_until=0.0):
        """Wait until the pipeline has drained ``lines``, check its outputs
        against the batch computation, and derive the end-to-end metrics.
        Only lines that became visible at or after ``warm_until``, and the
        alerts of invoices that end in them, are timed."""
        from check import compare_alerts, expected_outputs, window_total

        deadline = time.time() + DRAIN_TIMEOUT_S
        done = self.wait_drained(max(w for _f, _e, _d, w in gen_log), deadline)
        with self.tracer.span("check.expected"):
            expected = expected_outputs(self.spark, lines, *self.detectors)
        done = self.wait_windows(expected.window_total, deadline) and done
        failed, causes = compare_alerts(expected, [(s, no, r) for s, no, r, _t in self.alerts])
        self.attempted += len(expected.alerts) + 1
        self.causes.update(causes)
        if window_total(self.windows) != expected.window_total:
            self.causes["window_sum"] += 1
        if not done:
            self.causes["timeout"] += 1
        # when each line became visible to the source
        visible = [0.0] * len(lines)
        for first, end, _deadline, written in gen_log:
            for i in range(first, end):
                visible[i] = max(written, ready)
        last_line = {ln.split(",", 1)[0]: i for i, ln in enumerate(lines)}
        timed = [v for v in visible if v >= warm_until]
        lat = []
        last_arrival = ready
        for s, no, _r, t in self.alerts:
            if (s, no) in expected.alerts and visible[last_line[no]] >= warm_until:
                lat.append(t - visible[last_line[no]] - EXPIRY_S)
                last_arrival = max(last_arrival, t)
        rep = {
            "alerts": len(lat),
            "alert_latency_p50_s": statistics.median(lat) if lat else -1.0,
            "alert_latency_p90_s": _pct(lat, 0.9) if lat else -1.0,
            "stream_lines_per_s": len(timed) / (last_arrival - min(timed) - EXPIRY_S) if lat else -1.0,
            "gen_lag": [w - d for _f, _e, d, w in gen_log],
            "ready": ready,
            "lines": len(timed),
            "visible": visible,
            "written": sorted(w for f, e, _d, w in gen_log for _ in range(f, e)),
        }
        if self.tracer.enabled:
            # progress events arrive asynchronously: wait for the last batch's
            main_id = str(self.handle.main.id)
            deadline = time.time() + 10
            while time.time() < deadline and not any(
                p["id"] == main_id and p["batchId"] >= self.main_epoch for p in self.listener.events
            ):
                time.sleep(0.05)
            rep["progress"] = list(self.listener.events)
            rep["main_id"] = main_id
            rep["window_id"] = str(self.handle.cancellation_windows.id)
        self.result = rep

    # -- workloads ---------------------------------------------------------

    def run(self):
        from invoices import make_stream

        a = self.args
        paced = a.workload == "stream_paced"
        self.layer_s["boot"] = time.perf_counter() - _T0
        self.detector_dir = self.trained_detectors()
        if paced:
            lines = make_stream(a.seed, int(RATE * (WARMUP_S + a.seconds)), PACED_MAX_LINES)
        else:
            lines = make_stream(a.seed, BURST_LINES, BURST_MAX_LINES)

        def calibrate(_detectors):
            if self.tracer.enabled:
                # host-load context for the trace, not gated
                from bench import _calibration_probe

                self.calibration_s = _calibration_probe(self.spark, reps=1)

        if paced:
            ready = self.setup(before_start=calibrate)
            start_at = time.time() + 0.2
            self.start_generator(lines, RATE, CHUNK_LINES, start_at)
            gen_log = self.wait_generator(timeout=WARMUP_S + a.seconds + 30)
            self.measure(lines, gen_log, ready, warm_until=start_at + WARMUP_S)
        else:

            def before_start(detectors):
                calibrate(detectors)
                self.backlog_log = self.write_backlog(lines)

            ready = self.setup(before_start=before_start)
            self.measure(lines, self.backlog_log, ready)
        self.teardown()
        self.rss.stop()  # the training below is not the workload's memory
        if self.tracer.enabled and not self.train_trace:
            # training layers, measured after the load in this (warm) JVM
            from train import train

            self.spark = self._session()
            self.train_trace = train(self.spark, os.path.join(self.run_dir, "train"), trace=True)
            self.attempted += self.train_trace["attempted"]
            self.causes["changed_threshold"] += self.train_trace["failed"]
            self.teardown()
        return self.report()

    def write_backlog(self, lines):
        """Write ``lines`` into the source directory, in ``BURST_FILES``
        files, before the queries start; returns a log in the load
        generator's form, with the end of the writing as every file's
        write time."""
        src = self._dir("src")
        per = -(-len(lines) // BURST_FILES)
        chunks = [(first, min(first + per, len(lines))) for first in range(0, len(lines), per)]
        for k, (first, end) in enumerate(chunks):
            with open(os.path.join(src, f"backlog_{k}.txt"), "w") as f:
                f.write("\n".join(lines[first:end]) + "\n")
        t = time.time()
        return [[first, end, t, t] for first, end in chunks]

    # -- results -----------------------------------------------------------

    def report(self):
        med = statistics.median
        last = self.result
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "stream_lines_per_s": (last["stream_lines_per_s"], "lines/s"),
            "peak_rss_nonheap_mb": (self.rss.peak_nonheap / 2**20, "MB"),
        }
        # Alert latency spreads too far between stream_paced runs on a 4-core
        # host to be gated (quartile distance 0.32 of the median over ten
        # runs): it is printed on every run and reported with the traced
        # per-layer metrics.
        latency = {
            "alert_latency_p50_s": (last["alert_latency_p50_s"], "s"),
            "alert_latency_p90_s": (last["alert_latency_p90_s"], "s"),
        }
        if not self.tracer.enabled:
            return e2e
        from tracing import add_stream_spans, progress_start

        main = [p for p in last["progress"] if p["id"] == last["main_id"]]
        win = [p for p in last["progress"] if p["id"] == last["window_id"]]
        add_stream_spans(self.tracer, main, win, since=last["ready"])
        self_s = self.tracer.self_times(since=last["ready"])

        def dur(ps, *keys):
            return sum(p["durationMs"].get(k, 0) for p in ps for k in keys) / 1000

        def state(key):
            return [p["stateOperators"][0][key] for p in main if p.get("stateOperators")]

        # lines written minus lines the main query had read, at each batch start
        written = last["written"]
        backlog, consumed = 0, 0
        for p in sorted(main, key=lambda p: p["batchId"]):
            backlog = max(backlog, bisect.bisect_right(written, progress_start(p)) - consumed)
            consumed += p["numInputRows"]
        sink = {
            n: self.tracer.total(f"sink.{n}", since=last["ready"])
            for n in ("erroneous", "kmeans_anomalies", "bisect_anomalies")
        }
        lag = sorted(last["gen_lag"])
        train = ("sources.csv_batch.featurize", "ml.clustering.sweep_kmeans", "ml.clustering.sweep_bisecting",
                 "ml.clustering.threshold", "ml.clustering.save")
        t_layers, t_jobs = self.train_trace["layers"], self.train_trace["jobs"]
        per = {
            "setup.boot_s": (self.layer_s["boot"], "s"),
            "setup.session_s": (self.layer_s["session"], "s"),
            "ml.clustering.load_s": (self.layer_s["ml.clustering.load"], "s"),
            "streaming.pipeline.start_s": (self.layer_s["streaming.pipeline.start"], "s"),
            **{f"{layer}_s": (t_layers[layer], "s") for layer in train},
            "sources.csv_batch.jobs": (t_jobs["sources.csv_batch.featurize"], "count"),
            "ml.clustering.jobs": (sum(t_jobs[layer] for layer in train[1:]), "count"),
            "streaming.pipeline.batches": (len(main), "count"),
            "streaming.pipeline.trigger_p50_s": (med(p["durationMs"]["triggerExecution"] for p in main) / 1000, "s"),
            "streaming.pipeline.batch_self_s": (self_s.get("streaming.pipeline.batch", 0.0), "s"),
            "streaming.pipeline.planning_s": (dur(main, "queryPlanning"), "s"),
            "streaming.pipeline.commit_s": (dur(main, "walCommit", "commitOffsets"), "s"),
            "sources.offset_s": (dur(main, "latestOffset", "getBatch"), "s"),
            "sources.backlog_max_lines": (backlog, "lines"),
            "streaming.validate.sink_s": (sink["erroneous"], "s"),
            "streaming.validate.sink_self_s": (self_s.get("sink.erroneous", 0.0), "s"),
            "ml.clustering.score_kmeans_s": (sink["kmeans_anomalies"], "s"),
            "ml.clustering.score_bisect_s": (sink["bisect_anomalies"], "s"),
            "streaming.windows.batch_p50_s": (
                med(p["durationMs"]["triggerExecution"] for p in win) / 1000 if win else 0.0,
                "s",
            ),
            "streaming.session_state.update_s": (sum(state("allUpdatesTimeMs")) / 1000, "s"),
            "streaming.session_state.removal_s": (sum(state("allRemovalsTimeMs")) / 1000, "s"),
            "streaming.session_state.commit_s": (sum(state("commitTimeMs")) / 1000, "s"),
            "streaming.session_state.rows_removed": (sum(state("numRowsRemoved")), "count"),
            "streaming.session_state.rows_max": (max(state("numRowsTotal") or [0]), "count"),
            "streaming.session_state.bytes_max": (max(state("memoryUsedBytes") or [0]), "bytes"),
            "mem.peak_rss_mb": (self.rss.peak / 2**20, "MB"),
            "jvm.heap_resident_max_mb": (self.rss.peak_heap / 2**20, "MB"),
            "jvm.heap_after_gc_max_mb": (self.rss.gc.after_gc_max / 2**20, "MB"),
            "gen.lines": (last["lines"], "count"),
            "gen.lag_p99_s": (_pct(lag, 0.99), "s"),
            "host.calibration_s": (self.calibration_s, "s"),
            "trace.overhead_s": (self.tracer.overhead_s, "s"),
        }
        for name, (value, unit) in {**e2e, **latency}.items():
            per[f"trace.{name}"] = (value, unit)
        return per


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import spark_streaming_invoice_anomaly_detection_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from train import scratch_env

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch_env(run_dir)

    bench = Bench(args, run_dir)
    try:
        metrics = bench.run()
    finally:
        bench.teardown()
        bench.rss.stop()
        if bench.gen is not None:
            bench.gen.kill()
            bench.gen.wait()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(bench.causes.values())
    attempted = max(bench.attempted, 1)
    if args.trace:
        bench.tracer.dump(
            os.path.join(ROOT, ".bench_out", f"trace_{args.workload}_{args.seed}.json"),
            {k: v for k, (v, _u) in metrics.items()},
            train_spans=bench.train_trace.get("spans", []),
        )
    for name, (value, unit) in metrics.items():
        print(f"{name:42s} {value:14.4f} {unit}")
    r = bench.result
    print(
        f"{'alert latency (not gated)':42s} p50 {r['alert_latency_p50_s']:.3f} s, "
        f"p90 {r['alert_latency_p90_s']:.3f} s over {r['alerts']} alerts"
    )
    jvm, others, n_others = bench.rss.at_peak
    print(
        f"{'memory at peak':42s} JVM {jvm / 2**20:.0f} MB outside its heap, "
        f"{n_others} other processes {others / 2**20:.0f} MB; whole tree {bench.rss.peak / 2**20:.0f} MB"
    )
    print(f"{'error_rate':42s} {failed / attempted:14.4f} failed/attempted ({failed}/{attempted}) {dict(bench.causes)}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _source_hash() -> str:
    """Hash of the package's sources and the benchmark's training code."""
    pkg = os.path.join(ROOT, "spark_streaming_invoice_anomaly_detection_spark")
    files = [os.path.join(HERE, f) for f in ("train.py", "invoices.py", "tracing.py")]
    for d, dirs, names in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read() + b"\0")
    return h.hexdigest()[:16]


def _stop_jvm():
    """Shut the JVM down and wait for it and every other child to end."""
    from pyspark import SparkContext

    from tracing import descendants

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
