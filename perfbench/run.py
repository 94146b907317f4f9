"""End-to-end benchmark of the log pipeline's public entry points.

Run from the repository root:

    python3 perfbench/run.py --workload batch_routed --seed 1 \
        --seconds 10 --trace 0

Workloads (the reasons are in BENCHMARK.json and perfbench/README.md):

- ``batch_routed``: ``run_pipeline`` with the production job spec of
  ``jobs/run_pipeline.py``, repeated on a warm session;
- ``stream_open_loop``: ``read_tokens_stream`` -> ``build_stream_stages``
  -> ``foreach_batch_fanout`` with the same spec plus two grep rules,
  fed by an open-loop file generator in this process and triggered on
  a fixed period.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes one
untraced and one traced (Spark event log) pass and prints the per-layer
ledger. The last stdout line is the JSON result; the line before it
holds the details (percentiles, sample counts, host shape, the
program's own ``rows_in``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    # 4 files, not 32: each file is one scan task and every task writes
    # one file per (sink, source) pair, so on 4 CPUs the 32-file table
    # costs ~20 s per warm call and ~45 s cold, which does not fit the
    # benchmark's time budget
    "batch_routed": {"kind": "batch", "rows": 25_000, "files": 4,
                     "grep": False},
    # file_rows rows per file landed at files_per_s, and a processing-time
    # trigger every trigger_s seconds (the fan-out's flush timer): the
    # generator lands files between the trigger's ticks, so every epoch
    # takes the same trigger_s * files_per_s files and its wall varies
    # only with the program and the host. An as-soon-as-possible trigger
    # made the epoch sizes swing between 6 and 12 files within a run,
    # and with two or three epochs in a window the run-to-run spread of
    # the median epoch wall and of the p90 latency reached a quarter of
    # their medians. On a 4-CPU host a warm single-file epoch took 2.1 to
    # 3.0 s and a ten-file (2,500-row) one 3.0 to 3.9 s, so a 5 s period
    # holds about 6,000 rows (1,200 rows/s); the offered 500 rows/s is
    # about 40% of that. Warm-up: two single-file epochs, then one
    # full-size epoch (the first epoch of that size ran ~0.8 s slower
    # than the next)
    "stream_open_loop": {"kind": "stream", "file_rows": 250,
                         "files_per_s": 2.0, "trigger_s": 5.0,
                         "warmup_files": 2, "grep": True},
}
# keep rows from sources src0..src3 (about half) and drop debug lines
GREP = [("source", "^src[0-3]$", False), ("fields.level", "^debug$", True)]
DRAIN_TIMEOUT_S = 60.0

# metric names and units are declared once, in BENCHMARK.json
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f
                     if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def percentiles(values: list[float]) -> dict:
    """Median plus the highest percentile with at least 10 samples
    beyond it (nearest rank), and the sample count."""
    v = sorted(values)
    out = {"n": len(v), "median": statistics.median(v) if v else None,
           "samples": list(values)}
    if len(v) > 10:
        p = math.floor(100 * (1 - 10 / len(v)))
        out[f"p{p}"] = v[max(0, math.ceil(p / 100 * len(v)) - 1)]
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = q * (len(v) - 1)
    i = int(x)
    return v[i] if i + 1 >= len(v) else v[i] + (v[i + 1] - v[i]) * (x - i)


def vm_mb(pid: int, key: str) -> float:
    """A ``/proc/<pid>/status`` memory field (``VmHWM``, ``VmRSS``) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith(key + ":"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def host_shape() -> dict:
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal"))
                     .split()[1])
    return {"cpus": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 2),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


# ---------------------------------------------------------------------------
# Session, spec, fixtures
# ---------------------------------------------------------------------------


class Bench:
    """One benchmark process: its work dir, Spark session and inputs."""

    def __init__(self, workload: str, seed: int, seconds: int):
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = os.path.join(ROOT, ".perfbench", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("local", "tmp", "events"):
            os.makedirs(os.path.join(self.work, d))
        self.spark = None
        self.jvm_pid = None

    def start_session(self, trace: bool):
        """The program's session factory with its defaults untouched;
        the benchmark adds only console, temp-dir and event-log
        settings."""
        from fluent_bit_spark.session import get_spark
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"file://{self.work}/events"
        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               extra_conf=conf)
        gw = self.spark.sparkContext._gateway
        self.jvm_pid = gw.proc.pid
        return self.spark

    def stop_session(self, keep_jvm: bool = False) -> None:
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if keep_jvm:
            return
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            # the JVM exits when its stdin closes; wait for it
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)

    def restart_session(self, trace: bool):
        """A fresh SparkContext in the same (warm) JVM."""
        self.stop_session(keep_jvm=True)
        return self.start_session(trace)

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the driver JVM plus this process."""
        return vm_mb(self.jvm_pid, "VmHWM") + vm_mb(os.getpid(), "VmHWM")

    def rss_after_gc_mb(self) -> float:
        """RSS of the driver JVM after a full GC plus this process's RSS:
        the footprint of the warm session. It varies less from run to
        run than the peak, which swings by a third with the heap's
        growth."""
        self.spark._jvm.System.gc()
        time.sleep(1.0)
        return vm_mb(self.jvm_pid, "VmRSS") + vm_mb(os.getpid(), "VmRSS")

    def spec(self):
        from fluent_bit_spark import fixtures as fx
        from fluent_bit_spark.operators.filters import GrepRule
        from fluent_bit_spark.operators.router import RewriteTagRule, Route
        from fluent_bit_spark.plans.pipeline import PipelineSpec
        # the production job spec (jobs/run_pipeline.py without --config)
        return PipelineSpec(
            vocab=fx.vocab(),
            routes=[Route(*r) for r in fx.DEFAULT_ROUTES],
            rewrite_rules=[RewriteTagRule(
                key="fields.level", pattern="^error$",
                new_tag="err.$TAG[1]", keep=True)],
            lookup_path=self.lookup,
            fanout_mode="persist",
            grep_rules=[GrepRule(k, p, ex) for k, p, ex in GREP]
            if self.cfg["grep"] else [],
        )

    def make_inputs(self, n_rows: int, n_files: int) -> list[str]:
        from fluent_bit_spark import fixtures as fx
        self.tokens = os.path.join(self.work, "tokens")
        self.lookup = os.path.join(self.work, "lookup.parquet")
        fx.generate_tokens_table(self.tokens, n_rows, seed=self.seed,
                                 n_files=n_files)
        fx.generate_lookup_table(self.lookup)
        return sorted(os.path.join(self.tokens, f)
                      for f in os.listdir(self.tokens)
                      if f.endswith(".parquet"))

    def expected(self, files: list[str]):
        from fluent_bit_spark import fixtures as fx
        import reference
        return reference.expected_counts(
            files, fx.vocab(), fx.DEFAULT_ROUTES,
            GREP if self.cfg["grep"] else [], error_copy=True)


# ---------------------------------------------------------------------------
# Batch workload: repeated run_pipeline calls
# ---------------------------------------------------------------------------


def batch_call(b: Bench, spec, input_path: str, out: str) -> dict:
    """One ``run_pipeline`` call (one slice) on a clean output dir."""
    from fluent_bit_spark.plans.pipeline import run_pipeline
    shutil.rmtree(out, ignore_errors=True)
    rep = {"ok": False, "errors": []}
    try:
        t0 = time.time()
        stats = run_pipeline(b.spark, spec, input_path, out)
        t1 = time.time()
    except Exception:
        traceback.print_exc()
        rep["errors"].append("run_pipeline raised")
        return rep
    rep.update(t0=t0, t1=t1, wall=t1 - t0, rows_in_reported=stats["rows_in"])
    return rep


def batch_check(rep: dict, spec, files: list[str], exp, out: str) -> dict:
    """The correctness check of a call's outputs. A file's latency runs
    from the call to the manifest commit of its slice."""
    import reference
    from fluent_bit_spark.plans.pipeline import sink_names
    if "wall" not in rep:
        return rep
    ckpt = os.path.join(out, "_checkpoints", "run0")
    rep["latency"] = []
    for name in sorted(os.listdir(ckpt) if os.path.isdir(ckpt) else []):
        if not (name.startswith("slice_") and name.endswith(".json")):
            continue
        with open(os.path.join(ckpt, name)) as f:
            m = json.load(f)
        rep["latency"] += [m["ts"] - rep["t0"]] * len(m["files"])
    obs = reference.read_outputs(out, sink_names(spec))
    rep["observed"] = obs
    rep["errors"] = reference.check(exp, obs)
    if len(rep["latency"]) != len(files):
        rep["errors"].append(f"{len(rep['latency'])} of {len(files)} "
                             f"files committed")
    rep["ok"] = not rep["errors"]
    return rep


def batch_rep(b: Bench, spec, input_path: str, files: list[str], exp,
              out: str) -> dict:
    return batch_check(batch_call(b, spec, input_path, out), spec, files,
                       exp, out)


def run_batch(b: Bench, t_proc: float, trace: bool) -> tuple[dict, dict]:
    import reference
    cfg = b.cfg
    files = b.make_inputs(cfg["rows"], cfg["files"])
    out = os.path.join(b.work, "out")
    b.start_session(trace=False)
    spec = b.spec()
    # one untimed call: on 4 CPUs the first call after a cold start runs
    # ~3.5x slower than a warm one; the calls after it still speed up by
    # a few percent each while the JVM compiles the hot paths. Set-up
    # ends when it returns; the reference and its check are not the
    # program's cost
    warm = batch_call(b, spec, b.tokens, out)
    setup_s = warm.get("t1", time.time()) - t_proc
    rows = reference.footer_rows(files)
    exp = b.expected(files)
    reps = [batch_check(warm, spec, files, exp, out)]
    rss = b.rss_after_gc_mb()
    t_meas = time.time()
    while True:
        reps.append(batch_rep(b, spec, b.tokens, files, exp, out))
        if trace or time.time() - t_meas >= b.seconds:
            break
    timed = [r for r in reps[1:] if "wall" in r]
    walls = [r["wall"] for r in timed]
    lat = [x for r in timed for x in r["latency"]]
    failed = sum(not r["ok"] for r in reps)
    details = {
        "input_rows": rows,
        "rows_in_reported": [r.get("rows_in_reported") for r in reps],
        "expected": {"sinks": exp.sinks, "dlq": exp.dlq,
                     "grep_dropped": exp.grep_dropped},
        "errors": [e for r in reps for e in r["errors"]],
        "wall_s": percentiles(walls), "latency_s": percentiles(lat),
        "warmup_wall_s": reps[0].get("wall"),
        "peak_rss_mb": b.peak_rss_mb(),
    }
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": rows / statistics.median(walls) if walls else 0.0,
        "wall_s": statistics.median(walls) if walls else 0.0,
        "latency_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "latency_p90_s": quantile(lat, 0.9) if lat else 0.0,
        "rss_after_gc_mb": rss,
        "ok_frac": 1 - failed / len(reps),
    }
    result = {"correct": failed == 0, "attempted": len(reps),
              "failed": failed, "metrics": metrics}
    if trace:
        layers = trace_batch(b, spec, files, rows, exp, out,
                             untraced_wall=metrics["wall_s"])
        layers["peak_rss_mb"] = details["peak_rss_mb"]
        result["metrics"] = layers
        result["correct"] = result["correct"] and layers.pop("_ok")
    return result, details


def trace_batch(b: Bench, spec, files, rows, exp, out,
                untraced_wall: float) -> dict:
    """Traced pass on a fresh SparkContext with the event log on (a
    warm-up call on one input file, the full input, the one file again,
    the ledger and the plan counts), then one more untraced call on
    another fresh context: tracing overhead is the traced wall over the
    mean of the untraced walls before and after it."""
    import eventlog
    import reference
    small_dir = os.path.join(b.work, "tokens_small")
    os.makedirs(small_dir, exist_ok=True)
    small_files = []
    for f in files[:max(1, len(files) // 8)]:
        shutil.copy(f, small_dir)
        small_files.append(os.path.join(small_dir, os.path.basename(f)))
    small_exp = b.expected(small_files)

    def small_rep():
        return batch_rep(b, spec, small_dir, small_files, small_exp,
                         out + "_small")

    b.restart_session(trace=True)
    reps = [small_rep()]  # warm-up of this context's Python workers
    full = batch_rep(b, spec, b.tokens, files, exp, out)
    small = small_rep()
    led = ledger(b, spec, b.tokens)
    plans = plan_shape(b, spec, b.tokens)
    conf = session_conf(b)
    b.restart_session(trace=False)
    reps += [full, small, small_rep(),
             batch_rep(b, spec, b.tokens, files, exp, out)]
    after = reps[-1]
    b.stop_session()
    ok = all(r["ok"] for r in reps)
    log = eventlog.load(os.path.join(b.work, "events"))
    execs = log.window(full["t0"], full["t1"]) if ok else []
    m = layer_metrics(log, execs, full.get("observed"), spec,
                      jobs=1, input_rows=rows)
    m.update(led)
    m.update(plans)
    m.update(host_metrics(conf))
    m["slice.fixed_s"] = full.get("wall", 0) - sum(e.seconds for e in execs)
    m["pipeline.fixed_s"] = m["pipeline.marginal_us_per_row"] = 0.0
    m["trace.overhead_frac"] = 0.0
    if ok:
        r_small = reference.footer_rows(small_files)
        marg = (full["wall"] - small["wall"]) / (rows - r_small)
        m["pipeline.fixed_s"] = small["wall"] - marg * r_small
        m["pipeline.marginal_us_per_row"] = marg * 1e6
        m["trace.overhead_frac"] = (
            full["wall"] / statistics.fmean([untraced_wall, after["wall"]])
            - 1)
    m["epoch.s"] = full.get("wall", 0)
    m["epoch.rows"] = rows
    # no generator and no queue in a batch run
    m["stream.queue_wait_s"] = 0.0
    m["stream.gen_late_s"] = 0.0
    m["stream.files_landed"] = 0
    m["_ok"] = ok
    return m


def layer_metrics(log, execs, obs, spec, jobs: int, input_rows: int) -> dict:
    """Event-log and output-side metrics shared by both workloads."""
    m = python_metrics(log, execs, input_rows)
    m.update(sink_metrics(execs, obs, spec, jobs=jobs))
    sh = log.shuffle(execs)
    m["shuffle.bytes_written"] = sh["bytes_written"]
    m["shuffle.records"] = sh["records"]
    f = log.failures()
    m["task.failed"] = f["task_failed"]
    m["stage.retried"] = f["stage_retried"]
    return m


# ---------------------------------------------------------------------------
# Stream workload: open-loop file generator + foreachBatch fan-out
# ---------------------------------------------------------------------------


class Landing:
    """Single-threaded open-loop generator: lands staged token files
    into the landing dir on a fixed schedule (copy to a hidden temp
    name, then an atomic rename), whether or not the stream keeps up."""

    def __init__(self, landing: str):
        self.dir = landing
        os.makedirs(landing, exist_ok=True)
        self.landed: dict[str, dict] = {}

    def land(self, src: str, due: float) -> None:
        name = os.path.basename(src)
        tmp = os.path.join(self.dir, f".{name}.tmp")
        shutil.copyfile(src, tmp)
        dst = os.path.join(self.dir, name)
        os.rename(tmp, dst)
        self.landed[dst] = {"due": due, "renamed": time.time()}

    def run(self, files: list[str], rate: float,
            t0: float) -> threading.Thread:
        def loop():
            for k, f in enumerate(files):
                due = t0 + k / rate
                time.sleep(max(0.0, due - time.time()))
                self.land(f, due)
        th = threading.Thread(target=loop, name="landing", daemon=True)
        th.start()
        return th


def next_tick(t: float, period: float) -> float:
    """The first tick of a processing-time trigger after ``t``: Spark
    fires on the multiples of the period since the Unix epoch."""
    return (math.floor(t / period) + 1) * period


def committed_files(ckpt: str) -> dict[str, int]:
    """file path -> micro-batch id, from the file source's metadata log
    (``<checkpoint>/sources/0/<batch>``, compacted as ``N.compact``)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for ln in f:
                if ln.startswith("{"):
                    e = json.loads(ln)
                    p = e["path"]
                    p = p[len("file://"):] if p.startswith("file://") else p
                    p = p[len("file:"):] if p.startswith("file:") else p
                    out[p] = int(e["batchId"])
    return out


class StreamRun:
    """One stream query over a landing dir, with a benchmark-side
    wrapper around ``foreach_batch_fanout``'s ``write_batch`` that
    records each epoch's fan-out start and end."""

    def __init__(self, b: Bench, spec, tag: str, trigger_s: float):
        from fluent_bit_spark.streaming.stream_pipeline import (
            build_stream_stages, foreach_batch_fanout, read_tokens_stream)
        self.base = os.path.join(b.work, tag)
        shutil.rmtree(self.base, ignore_errors=True)
        self.out = os.path.join(self.base, "out")
        self.ckpt = os.path.join(self.base, "ckpt")
        self.landing = Landing(os.path.join(self.base, "landing"))
        self.epochs: dict[int, tuple[float, float]] = {}
        inner = foreach_batch_fanout(spec, self.out)

        def write_batch(df, batch_id):
            t0 = time.time()
            inner(df, batch_id)
            self.epochs[batch_id] = (t0, time.time())

        routed = build_stream_stages(
            b.spark, read_tokens_stream(b.spark, self.landing.dir), spec)
        self.writer = (routed.writeStream.foreachBatch(write_batch)
                       .option("checkpointLocation", self.ckpt)
                       .trigger(processingTime=f"{trigger_s} seconds"))
        self.query = None

    def start(self):
        self.query = self.writer.start()

    def wait_committed(self, paths: list[str], timeout: float) -> bool:
        """Until every path's epoch has finished its fan-out."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.query.exception() is not None:
                return False
            fb = committed_files(self.ckpt)
            if all(p in fb and fb[p] in self.epochs for p in paths):
                return True
            time.sleep(0.05)
        return False

    def stop(self):
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)


def stream_pass(b: Bench, spec, files: list[str], tag: str) -> dict:
    """Warm-up epochs, then the open-loop phase and the drain."""
    import reference
    from fluent_bit_spark.plans.pipeline import sink_names
    cfg = b.cfg
    period, rate = cfg["trigger_s"], cfg["files_per_s"]
    # files land half an interval off the trigger's ticks, so no rename
    # races a directory listing
    lead = 0.5 / rate
    per_epoch = round(period * rate)
    n_warm = cfg["warmup_files"] + per_epoch
    warm, timed = files[:n_warm], files[n_warm:]
    # warm-up epochs: single files, then one of full size
    groups = ([[f] for f in warm[:cfg["warmup_files"]]]
              + [warm[cfg["warmup_files"]:]])
    sr = StreamRun(b, spec, tag, period)
    res = {"errors": [], "idle_s": 0.0}
    try:
        for i, group in enumerate(groups):
            t = time.time()
            if group is groups[-1]:
                # memory after the single-file epochs: a GC after the
                # full-size one found the heap grown by varying amounts
                res["rss_after_gc_mb"] = b.rss_after_gc_mb()
            due = time.time()
            if i:
                # land just before a tick; the wait for it and the memory
                # reading are the benchmark's time, not the program's
                due = next_tick(due + lead, period) - lead
                time.sleep(max(0.0, due - time.time()))
            res["idle_s"] += max(0.0, due - t)
            for f in group:
                sr.landing.land(f, due)
            if not i:
                sr.start()  # the first epoch starts at once
            dst = [os.path.join(sr.landing.dir, os.path.basename(f))
                   for f in group]
            if not sr.wait_committed(dst, DRAIN_TIMEOUT_S * 2):
                res["errors"].append("warm-up epoch never committed")
        res["warm_done"] = time.time()
        t0 = next_tick(time.time() + lead, period) + lead
        gen = sr.landing.run(timed, rate, t0)
        gen.join()
        timed_dst = [os.path.join(sr.landing.dir, os.path.basename(f))
                     for f in timed]
        sr.wait_committed(list(sr.landing.landed), DRAIN_TIMEOUT_S)
    except Exception:
        traceback.print_exc()
        res["errors"].append("stream query raised")
        timed_dst = []
    finally:
        sr.stop()
    fb = committed_files(sr.ckpt)
    landed = sr.landing.landed
    res["attempted"] = len(landed)
    done = [p for p in landed if p in fb and fb[p] in sr.epochs]
    res["failed"] = len(landed) - len(done)
    lat, qwait, late = [], [], []
    for p in timed_dst:
        if p in done:
            s, e = sr.epochs[fb[p]]
            lat.append(e - landed[p]["renamed"])
            qwait.append(s - landed[p]["renamed"])
        if p in landed:
            late.append(landed[p]["renamed"] - landed[p]["due"])
    timed_epochs = sorted({fb[p] for p in timed_dst if p in done})
    epoch_rows = {}
    for p, bid in fb.items():
        epoch_rows[bid] = epoch_rows.get(bid, 0) + reference.footer_rows([p])
    res.update(
        latency=lat, queue_wait=qwait, gen_late=late,
        epoch_spans=[sr.epochs[e] for e in timed_epochs],
        epoch_walls=[sr.epochs[e][1] - sr.epochs[e][0] for e in timed_epochs],
        epoch_rows=[epoch_rows[e] for e in timed_epochs],
        t0=min((landed[p]["renamed"] for p in timed_dst if p in landed),
               default=0.0),
        t1=max((sr.epochs[e][1] for e in timed_epochs), default=0.0),
        timed_rows=reference.footer_rows([p for p in timed_dst if p in done]),
        files_landed=len(landed), landing=sr.landing.dir, out=sr.out)
    warm_epochs = sorted({fb[p] for p in landed if p in done}
                         - set(timed_epochs))
    res["warm_epoch_s"] = [sr.epochs[e][1] - sr.epochs[e][0]
                           for e in warm_epochs]
    res["warm_epoch_rows"] = [epoch_rows[e] for e in warm_epochs]
    exp = b.expected(sorted(landed))
    obs = reference.read_outputs(sr.out, sink_names(spec))
    res["observed"] = obs
    res["expected"] = exp
    res["errors"] += reference.check(exp, obs)
    return res


def run_stream(b: Bench, t_proc: float, trace: bool) -> tuple[dict, dict]:
    cfg = b.cfg
    n_files = (cfg["warmup_files"] + round(
        cfg["files_per_s"] * (cfg["trigger_s"] + b.seconds)))
    files = b.make_inputs(cfg["file_rows"] * n_files, n_files)
    b.start_session(trace=False)
    spec = b.spec()
    res = stream_pass(b, spec, files, "pass0")
    setup_s = res.get("warm_done", time.time()) - t_proc - res["idle_s"]
    wall = res["t1"] - res["t0"]
    lat = res["latency"]
    ew = res["epoch_walls"]
    details = {
        "input_rows": res["expected"].rows_in,
        "expected": {"sinks": res["expected"].sinks,
                     "dlq": res["expected"].dlq,
                     "grep_dropped": res["expected"].grep_dropped},
        "errors": res["errors"],
        "files_landed": res["files_landed"],
        "offered_rows_per_s": cfg["file_rows"] * cfg["files_per_s"],
        "trigger_s": cfg["trigger_s"],
        "gen_late_s": percentiles(res["gen_late"]),
        "latency_s": percentiles(lat), "epoch_wall_s": percentiles(ew),
        "epoch_rows": res["epoch_rows"],
        "warm_epoch_s": res["warm_epoch_s"],
        "warm_epoch_rows": res["warm_epoch_rows"],
        "warm_idle_s": res["idle_s"],
        "run_wall_s": wall,
        "peak_rss_mb": b.peak_rss_mb(),
    }
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": res["timed_rows"] / wall if wall > 0 else 0.0,
        "wall_s": statistics.median(ew) if ew else 0.0,
        "latency_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "latency_p90_s": quantile(lat, 0.9) if lat else 0.0,
        "rss_after_gc_mb": res.get("rss_after_gc_mb", 0.0),
        "ok_frac": 1 - res["failed"] / max(1, res["attempted"]),
    }
    ok = not res["errors"] and res["failed"] == 0
    result = {"correct": ok, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    if trace:
        layers = trace_stream(b, files, untraced_epoch=metrics["wall_s"])
        layers["peak_rss_mb"] = details["peak_rss_mb"]
        result["correct"] = ok and layers.pop("_ok")
        result["metrics"] = layers
    return result, details


def trace_stream(b: Bench, files: list[str], untraced_epoch: float) -> dict:
    """A traced stream pass on a fresh SparkContext plus the ledger and
    plan counts over the landed files. Tracing overhead compares its
    median epoch wall with the untraced pass before it (a third pass, as
    in ``trace_batch``, would not fit the run's time limit)."""
    import eventlog
    spec = b.spec()
    b.restart_session(trace=True)
    res = stream_pass(b, spec, files, "pass1")
    led = ledger(b, spec, res["landing"])
    plans = plan_shape(b, spec, res["landing"])
    conf = session_conf(b)
    b.stop_session()
    ok = not res["errors"] and res["failed"] == 0
    log = eventlog.load(os.path.join(b.work, "events"))
    execs = [e for s, t in res["epoch_spans"] for e in log.window(s, t)]
    ew, er = res["epoch_walls"], res["epoch_rows"]
    m = layer_metrics(log, execs, res["observed"], spec,
                      jobs=len(ew), input_rows=sum(er))
    m.update(led)
    m.update(plans)
    m.update(host_metrics(conf))
    m["slice.fixed_s"] = ((sum(ew) - sum(e.seconds for e in execs))
                          / max(1, len(ew)))
    # per-epoch cost split by a least-squares line over the timed epochs
    # and the second single-file warm-up epoch (the first is cold): the
    # timed epochs all have one size
    fixed, marg = linear_fit(res["warm_epoch_rows"][1:2] + er,
                             res["warm_epoch_s"][1:2] + ew)
    m["pipeline.fixed_s"] = fixed
    m["pipeline.marginal_us_per_row"] = marg * 1e6
    m["epoch.s"] = statistics.median(ew) if ew else 0.0
    m["epoch.rows"] = statistics.median(er) if er else 0.0
    m["stream.queue_wait_s"] = (statistics.median(res["queue_wait"])
                                if res["queue_wait"] else 0.0)
    m["stream.gen_late_s"] = max(res["gen_late"], default=0.0)
    m["stream.files_landed"] = res["files_landed"]
    m["trace.overhead_frac"] = (m["epoch.s"] / untraced_epoch - 1
                                if ok and untraced_epoch else 0.0)
    m["_ok"] = ok
    return m


def linear_fit(x: list[float], y: list[float]) -> tuple[float, float]:
    """(intercept, slope) of the least-squares line; a flat line when
    x does not vary."""
    if not y:
        return 0.0, 0.0
    mx, my = statistics.fmean(x), statistics.fmean(y)
    sxx = sum((a - mx) ** 2 for a in x)
    if sxx == 0:
        return my, 0.0
    slope = sum((a - mx) * (c - my) for a, c in zip(x, y)) / sxx
    return my - slope * mx, slope


# ---------------------------------------------------------------------------
# Layer ledger, plan shape, event-log metrics
# ---------------------------------------------------------------------------


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def ledger(b: Bench, spec, tokens: str) -> dict:
    """Cumulative noop-write walls of the public-call prefixes, each
    with the previous prefix subtracted: scan, + fused detok/parse,
    + enrich/tag/rewrite/route, + slice_metrics. ``serialize.s`` is
    the text sinks' serializer (``to_json_lines`` over the good rows'
    payload, as ``run_pipeline`` renders it) on top of the routed
    prefix, so it too has the routed prefix subtracted."""
    from pyspark.sql import functions as F
    from fluent_bit_spark.functions.parsers import fused_detok_parse
    from fluent_bit_spark.functions.serialize import to_json_lines
    from fluent_bit_spark.plans.pipeline import (
        TOKENS_SCHEMA, build_stages, slice_metrics, tune_scan_partitions)
    spark = b.spark
    tune_scan_partitions(spark, tokens)
    df = spark.read.schema(TOKENS_SCHEMA).parquet(tokens)
    walls = [
        noop(df),
        noop(fused_detok_parse(df, spark, spec.vocab,
                               keep_decoded=spec.keep_decoded)),
        noop(build_stages(spark, df, spec)),
        noop(slice_metrics(build_stages(spark, df, spec),
                           spec.salt_buckets)),
    ]
    names = ["scan.s", "parse.s", "stages.s", "metrics.s"]
    out = {n: w - (walls[i - 1] if i else 0.0)
           for i, (n, w) in enumerate(zip(names, walls))}
    good = build_stages(spark, df, spec).filter(F.col("dlq_reason").isNull())
    payload = [c for c in good.columns
               if c not in ("sinks", "routes_mask", "dlq_reason")]
    out["serialize.s"] = (noop(to_json_lines(good, payload).select("value"))
                          - walls[2])
    return out


def count_nodes(plan: str, name: str) -> int:
    """Plan-tree lines whose node is ``name`` (``executedPlan().toString``
    prints one node per line after the tree prefix)."""
    n = 0
    for ln in plan.splitlines():
        node = ln.lstrip(" :+-*(0123456789)")
        if node.startswith(name):
            n += 1
    return n


def plan_shape(b: Bench, spec, tokens: str) -> dict:
    """Exact node counts of the routed and metrics plans."""
    from fluent_bit_spark.plans.pipeline import (
        TOKENS_SCHEMA, build_stages, slice_metrics)
    df = b.spark.read.schema(TOKENS_SCHEMA).parquet(tokens)
    routed = build_stages(b.spark, df, spec)
    out = {}
    for key, frame in (("routed", routed),
                       ("metrics", slice_metrics(routed, spec.salt_buckets))):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        out[f"plan.{key}.mapinarrow"] = count_nodes(plan, "MapInArrow")
        out[f"plan.{key}.scans"] = count_nodes(plan, "FileScan parquet")
        if key == "metrics":
            out["plan.metrics.exchanges"] = (
                count_nodes(plan, "Exchange")
                + count_nodes(plan, "BroadcastExchange"))
    return out


def python_metrics(log, execs, input_rows: int) -> dict:
    py = log.python_boundary(execs)
    return {
        "python.sent_bytes": py["sent_bytes"],
        "python.returned_bytes": py["returned_bytes"],
        "python.run_s": py["run_ms"] / 1000.0,
        "python.init_s": (py["start_ms"] + py["init_ms"]) / 1000.0,
        "python.rows_per_input_row": (py["rows"] / input_rows
                                      if input_rows else 0.0),
    }


def sink_metrics(execs, obs, spec, jobs: int) -> dict:
    """Per-job execution seconds by output, and rows/bytes/files per
    sink from the written files."""
    from fluent_bit_spark.plans.pipeline import sink_names
    names = sink_names(spec)
    secs = {f"sink.{n}.s": 0.0
            for n in names + ["dlq", "metrics_write", "totals_collect"]}
    for e in execs:
        key = f"{e.target}.s"
        if not key.startswith("sink."):
            key = f"sink.{key}"
        if key in secs:
            secs[key] += e.seconds / max(1, jobs)
    for n in names + ["dlq"]:
        secs[f"sink.{n}.rows"] = obs.sinks.get(n, 0) if obs else 0
        secs[f"sink.{n}.bytes"] = obs.bytes.get(n, 0) if obs else 0
        secs[f"sink.{n}.files"] = obs.files.get(n, 0) if obs else 0
    dlq = obs.dlq if obs else {}
    secs["dlq.rows.parse_fail"] = dlq.get("parse_fail", 0)
    secs["dlq.rows.no_route"] = dlq.get("no_route", 0)
    return secs


def session_conf(b: Bench) -> dict:
    c = b.spark.conf
    return {"driver_memory": c.get("spark.driver.memory", "1g"),
            "shuffle_partitions": c.get("spark.sql.shuffle.partitions")}


def to_gb(mem: str) -> float:
    units = {"k": 2**-20, "m": 2**-10, "g": 1, "t": 2**10}
    s = mem.strip().lower().rstrip("b")
    return float(s[:-1]) * units[s[-1]] if s[-1] in units else \
        float(s) / 2**30


def host_metrics(conf: dict) -> dict:
    h = host_shape()
    return {"host.cpus": h["cpus"], "host.mem_gb": h["mem_gb"],
            "conf.driver_memory_gb": to_gb(conf["driver_memory"]),
            "conf.shuffle_partitions": int(conf["shuffle_partitions"])}


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    for need in ("BENCHMARK.json", "fluent_bit_spark",
                 "tests/oracle_pandas.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from "
                  f"the repository root", file=sys.stderr)
            return 2
    # run hygiene: the Spark Python workers import the package from the
    # checkout, and temp files stay inside the work dir
    b = Bench(args.workload, args.seed, args.seconds)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "local")
    os.environ["TMPDIR"] = os.path.join(b.work, "tmp")
    # no /tmp/hsperfdata file from spark-submit's launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                    "-XX:-UsePerfData") if p)
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    runner = run_batch if b.cfg["kind"] == "batch" else run_stream
    try:
        result, details = runner(b, t_proc, bool(args.trace))
    finally:
        b.stop_session()
    details.update(workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=args.trace,
                   host=host_shape())
    with open(BENCHMARK_JSON) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"]
             for key in ("end_to_end", "per_layer") for m in declared[key]}
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
