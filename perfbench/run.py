"""Benchmark of the engine's user-facing flows, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload finance_monthly --seed 1 \
        --seconds 5 --trace 0

One run generates the workload's inputs from ``--seed``
(``perfbench/inputs.py``), starts the engine's session
(``session.get_spark`` on ``local[<cores>]``), warms up until two
consecutive warm-up rounds agree, then drives the workload closed-loop
from one client thread for the workload's timed passes and at least
``--seconds`` of operation time, checks the operations' outputs against
the engine's DuckDB oracles (outside the timed window), and prints one
JSON result as the last line of standard output. The line before it is
the run record: input profile, warm-up rounds, peak memory and
host-noise deltas; ``.bench_run/records/`` keeps the full record with
the raw operation timings.

Workloads (an operation is the unit that ``wall_s`` times):

- ``finance_monthly``: one operation is ``pipeline.run_pipeline`` with a
  staging directory and an output directory: the reference monthly DAG
  with its staging write and read-back and its three parquet sinks.
- ``query_mix``: one operation is one registered query forced through a
  ``noop`` sink; a pass runs the queries of ``QUERY_MIX`` in order, and
  the timed window always holds whole passes.

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off:

- ``setup_s``: session start plus the untimed warm-up operations.
- ``wall_s``: median operation time.
- ``ops_per_s``: operations completed per second of operation time.

The record line also carries ``peak_rss_mb``: the peak resident memory
(VmHWM) of this process and of the driver JVM during the timed
operations. It is not a bounded metric: the JVM's figure follows its
garbage collector's heap sizing and moved by about 25% between runs of
the same code on the 4-core host the bounds were set on.

Operations that raise or return a wrong result, warm-up operations
included, are counted in the result's ``failed`` field, out of
``attempted``.

With ``--trace 1`` the session starts with Spark's event log on, and the
timed window alternates untraced passes with traced ones (see
``perfbench/tracing.py``). A traced finance_monthly operation is
``run_pipeline`` itself, with spans wrapped around the stages and the
layer functions it calls; after it, and outside its timing, the
outputs of the ingest, FIFO and balance layers are forced once more,
each in its layer's execute span, because the pipeline itself only
executes them inside its gates and sinks. A traced query_mix operation
is the query call (construct) and its noop sink (execute). The metrics
are the per-layer figures plus ``trace.overhead_s``: the traced minus
the untraced median operation time of the same session. Both halves
write the event log, so the overhead counts spans and job groups, not
the log writer. Spans and the run record are kept under
``.bench_run/records/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
from bench import _host_sample as host_sample, force  # noqa: E402
from tools.check_correctness import compare_frames  # noqa: E402

PKG = "thrivefinancedatapipeline_spark"

#: 10 of the bench.py headline queries: one from each layer that
#: registers headline queries
QUERY_MIX = (
    "fifo_matching",
    "tpch_q5_local_supplier_volume",
    "events_sessionize",
    "asof_last_touch",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "weighted_sample",
    "corpus_decontaminate",
    "pack_sequences",
    "quality_gate_by_lang",
)

#: warm-up has settled when two consecutive rounds (full-size operations
#: or query passes) differ by at most this share of the faster one
SETTLE = 0.20

#: run_pipeline's stages (the reference task names) -> the layer span
#: that wraps the stage's body; stages left out run in their calls' spans
STAGES = {
    "download_data": ("sources.ingest", "construct"),
    "validate_source": ("operators.quality", "execute"),
    "validate_results": ("operators.fifo", "execute"),
    "build_analytics": ("analytics", "construct"),
    "write_outputs": ("pipeline.sinks", "execute"),
}
#: functions run_pipeline imports -> the layer whose construct span
#: wraps each call
CALLS = {
    "load_staged_transactions": "sources.ingest",
    "validate_source": "operators.quality",
    "fifo_match": "operators.fifo",
    "validate_results": "operators.fifo",
    "balance_history": "operators.balance",
    "current_balances": "operators.balance",
}
#: layer outputs forced after a traced pipeline run: the calls whose
#: DataFrames the pipeline only executes inside other layers' actions
FORCED = ("load_staged_transactions", "fifo_match", "balance_history",
          "current_balances")


class FinanceMonthly:
    """The reference DAG, one ``run_pipeline`` call per operation."""

    SIZE = {"tpch_sf": 0.01, "events": 100_000}
    #: min, max warm-up operations; the first is cold, so the settle
    #: test needs two more
    WARMUP_ROUNDS = (3, 4)
    TIMED_PASSES = 2
    CHECKED_PASS = False  # every operation's sinks are checked instead
    names = ("run_pipeline",)

    def __init__(self, spark, inputs_dir: str, work: str, con, oracles):
        self.spark = spark
        self.inputs_dir = inputs_dir
        self.staging = os.path.join(work, "staging")
        self.output = os.path.join(work, "output")
        self.sinks = checks.SinkChecker(con, oracles)
        self.calls = 0
        self.outputs: dict[str, list] = {}

    def _pipeline(self):
        from thrivefinancedatapipeline_spark.pipeline import run_pipeline

        self.calls += 1
        run_pipeline(self.spark, self.inputs_dir,
                     staging_dir=self.staging, output_dir=self.output,
                     correlation_id=f"perfbench-{self.calls}")

    def run(self, name: str, tracer) -> None:
        if tracer is None:
            self._pipeline()
            return
        from thrivefinancedatapipeline_spark import pipeline

        def call(fn_name: str, fn):
            def traced(*args, **kwargs):
                with tracer.layer(CALLS[fn_name], "construct"):
                    out = fn(*args, **kwargs)
                if fn_name in FORCED:
                    self.outputs.setdefault(CALLS[fn_name], []).append(out)
                return out
            return traced

        def stage(run_stage):
            def traced(name, fn, *args, **kwargs):
                where = STAGES.get(name)
                if where is None:
                    return run_stage(name, fn, *args, **kwargs)

                def body():
                    with tracer.layer(*where):
                        return fn()
                return run_stage(name, body, *args, **kwargs)
            return traced

        patches = {n: call(n, getattr(pipeline, n)) for n in CALLS}
        patches["_run_stage"] = stage(pipeline._run_stage)
        self.outputs = {}
        with mock.patch.multiple(pipeline, **patches), tracer.op(name):
            self._pipeline()

    def after(self, tracer) -> None:
        """Force the layer outputs the traced run kept lazy, each in its
        layer's execute span (untimed: not part of the operation)."""
        for layer, dfs in self.outputs.items():
            with tracer.layer(layer, "execute"):
                for df in dfs:
                    force(df)
        self.outputs = {}

    def check(self, name: str) -> list[str]:
        return self.sinks.mismatches(self.output)


class QueryMix:
    """Registered queries, each forced through a noop sink."""

    SIZE = {"tpch_sf": 0.01, "events": 10_000, "documents": 500,
            "embeddings": 500}
    WARMUP_ROUNDS = (2, 3)  # min, max noop passes after the checked pass
    TIMED_PASSES = 1
    CHECKED_PASS = True
    names = QUERY_MIX

    def __init__(self, spark, inputs_dir: str, work: str, con, oracles):
        self.spark = spark
        self.inputs_dir = inputs_dir
        self.con = con
        self.oracles = oracles
        self.layer_of: dict[str, str] = {}
        self.queries = {}
        for layer in tracing.LAYERS:
            if not layer.startswith(("operators.", "plans.")):
                continue
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, fn in getattr(mod, "QUERIES", {}).items():
                self.layer_of.setdefault(name, layer)
                self.queries.setdefault(name, fn)
        missing = [n for n in QUERY_MIX if n not in self.queries]
        if missing:
            raise SystemExit(f"queries not registered: {missing}")
        self.problems: dict[str, list[str]] = {}
        self.checking = False

    def run(self, name: str, tracer) -> None:
        fn = self.queries[name]
        if self.checking:
            # checked pass: collect the result and compare it with the
            # oracle (the comparison is timed apart, as check time)
            self._result = fn(self.spark, self.inputs_dir).toPandas()
        elif tracer is None:
            force(fn(self.spark, self.inputs_dir))
        else:
            layer = self.layer_of[name]
            with tracer.op(name):
                with tracer.layer(layer, "construct"):
                    df = fn(self.spark, self.inputs_dir)
                with tracer.layer(layer, "execute"):
                    force(df)

    def after(self, tracer) -> None:
        pass

    def check(self, name: str) -> list[str]:
        if self.checking:
            want = self.con.execute(self.oracles[name]).fetchdf()
            problems = compare_frames(self._result, want)
            if problems:
                self.problems[name] = [f"{name}: {p}" for p in problems]
            self._result = None
        return self.problems.get(name, [])


WORKLOADS = {"finance_monthly": FinanceMonthly, "query_mix": QueryMix}


class Loop:
    """Closed loop, one client: the next operation starts when the last
    one (and its output check) is done."""

    def __init__(self, runner, spark):
        self.runner = runner
        self.spark = spark
        self.untimed_s = 0.0  # checks and clean-up between operations
        self.attempted = 0
        self.failed = 0

    def passes(self, n_passes: int, tracer=None) -> list[float]:
        """Run `n_passes` passes over the workload's operations and
        return the operation times."""
        walls: list[float] = []
        for _ in range(n_passes):
            for name in self.runner.names:
                t0 = time.perf_counter()
                try:
                    self.runner.run(name, tracer)
                    problems = None
                except Exception as exc:  # noqa: BLE001 - counted, loop goes on
                    traceback.print_exc()
                    problems = [f"{name}: {type(exc).__name__}: {exc}"]
                walls.append(time.perf_counter() - t0)
                t1 = time.perf_counter()
                if tracer is not None:
                    self.runner.after(tracer)
                if problems is None:
                    problems = self.runner.check(name)
                # queries persist intermediates: start every op uncached
                self.spark.catalog.clearCache()
                self.untimed_s += time.perf_counter() - t1
                self.attempted += 1
                if problems:
                    self.failed += 1
                    print(f"FAILED {problems}", file=sys.stderr)
            # collect the pass's garbage before the next pass starts
            t1 = time.perf_counter()
            self.spark._jvm.System.gc()
            self.untimed_s += time.perf_counter() - t1
            if tracer is not None:
                tracer.pass_index += 1
        return walls

    def warm_up(self) -> list[float]:
        """Untimed rounds (one pass each) until the last two agree
        within SETTLE, between the workload's minimum and maximum round
        counts; query_mix first runs one checked pass, which is not a
        round. Returns the round times."""
        lo, hi = self.runner.WARMUP_ROUNDS
        if self.runner.CHECKED_PASS:
            self.runner.checking = True
            self.passes(1)
            self.runner.checking = False
        rounds: list[float] = []
        while len(rounds) < hi:
            rounds.append(sum(self.passes(1)))
            if len(rounds) >= lo and (abs(rounds[-1] - rounds[-2])
                                      <= SETTLE * min(rounds[-2:])):
                break
        return rounds

    def timed(self, n_passes: int, seconds: float, tracer=None):
        """The timed window. With a tracer, untraced and traced passes
        alternate, so both halves see the same session and warm-up
        state. Returns untraced and traced operation times."""
        walls: list[float] = []
        traced: list[float] = []
        done = 0
        while done < n_passes or sum(walls) < seconds:
            walls += self.passes(1)
            if tracer is not None:
                traced += self.passes(1, tracer)
            done += 1
        return walls, traced


def host_delta(h0: dict, h1: dict) -> dict:
    out = {"load1_start": h0.get("load1"), "load1_end": h1.get("load1")}
    for k in ("psi_cpu_some_us", "psi_io_some_us", "steal_ticks"):
        if k in h0 and k in h1:
            out[f"{k}_delta"] = h1[k] - h0[k]
    return out


def _status_kb(pid, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def spark_env(work: str, conf: dict) -> None:
    """Keep the session's scratch files inside the run directory, size
    the local master to this host's cores, and pass `conf` to the
    session through spark-submit."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files in the run directory and its counters in process memory,
    # not in /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = shlex.join([
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:+PerfDisableSharedMem"])
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and the Python workers it
    started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in procs):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {procs}")
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and its oracles: without them the run stops here
    import __spark_entry__ as entry

    from thrivefinancedatapipeline_spark.session import get_spark

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    records = os.path.join(ROOT, ".bench_run", "records")
    work = os.path.join(ROOT, ".bench_run", run_id)
    os.makedirs(records, exist_ok=True)
    host0 = host_sample()
    spark = None
    try:
        inputs_dir = os.path.join(work, "inputs")
        workload = WORKLOADS[args.workload]
        inputs.generate(args.workload, args.seed, inputs_dir, workload.SIZE)
        con = checks.connect(inputs_dir)
        oracles = entry.oracle_sql()
        profile = inputs.profile(inputs_dir, oracles)
        runner = workload(None, inputs_dir, work, con, oracles)
        log_dir = os.path.join(work, "eventlog")
        conf = {}
        if args.trace:
            os.makedirs(log_dir)
            conf = {**tracing.EVENT_LOG_CONF, "spark.eventLog.dir": log_dir}
        spark_env(work, conf)

        t0 = time.perf_counter()
        spark = runner.spark = get_spark(
            "perfbench", warehouse_dir=os.path.join(work, "warehouse"))
        loop = Loop(runner, spark)
        warmup = loop.warm_up()
        setup_s = time.perf_counter() - t0 - loop.untimed_s

        for pid in ["self", *_children(os.getpid())]:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")  # peak RSS counts from here on
        tracer = (tracing.Tracer(spark.sparkContext, run_id)
                  if args.trace else None)
        walls, traced = loop.timed(workload.TIMED_PASSES, args.seconds,
                                   tracer)
        rss_mb = {"python": _status_kb("self", "VmHWM") / 1024.0,
                  "jvm": sum(_status_kb(p, "VmHWM")
                             for p in _children(os.getpid())) / 1024.0}
        stop_spark(spark)
        spark = None
        record = {"run": run_id, "inputs": profile, "setup_s": setup_s,
                  "untimed_s": loop.untimed_s,
                  "warmup_rounds": warmup, "walls": walls,
                  "traced_walls": traced, "peak_rss_mb": rss_mb}

        if args.trace:
            events = tracing.read_event_log(log_dir)
            metrics = tracing.layer_metrics(events, tracer)
            metrics["trace.overhead_s"] = (
                statistics.median(traced) - statistics.median(walls), "s")
            tracer.write(os.path.join(records, f"{run_id}-spans.json"))
        else:
            metrics = {"wall_s": (statistics.median(walls), "s"),
                       "ops_per_s": (len(walls) / sum(walls), "1/s"),
                       "setup_s": (setup_s, "s")}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["host"] = host_delta(host0, host_sample())
    with open(os.path.join(records, f"{run_id}-{args.trace}.json"), "w") as fh:
        json.dump(record, fh)
    print(json.dumps({"record": {k: record[k] for k in
                                 ("run", "inputs", "warmup_rounds",
                                  "peak_rss_mb", "host")}}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
