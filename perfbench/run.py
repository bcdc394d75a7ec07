"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process, one client in a closed loop
on ``local[<cores>]``.  The run:

1. makes its inputs from ``--seed`` (harness time): the anagram corpus
   under ``.perfbench/``, or the op order of ``query_mix``;
2. starts the session and warms it up (``setup_s``);
3. runs one pass over the workload's ops (``first_pass_s``, printed), then
   untimed passes while JIT compilation levels off;
4. runs warm passes until ``--seconds`` have gone (``wall_s``, op latency);
5. checks every op's output (harness time) and counts wrong or raised ops
   as failed;
6. stops Spark, its JVM and every worker, and prints one JSON line.

``--trace 1`` instead alternates traced and untraced warm passes and
prints the per-layer metrics (see ``perfbench/README.md``), each as a mean
per op, plus the tracing overhead on a pass.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
INPUTS = os.path.join(WORK, "inputs")
PACKAGE = "gcp_serverless_mapreduce_spark"

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402

# anagram_books input: 100 books over a 100k-word Zipf vocabulary
BOOKS_BYTES = 4_000_000
BOOKS_VOCAB = 100_000
BOOKS_N = 100
SINK_PARTITIONS = 5

# query_mix input: a byte copy of the suite's sf0.1 fixture, the tables
# the mix reads
FIXTURE_DIR = os.path.join(HERE, "sf0.1")

# One registered query from each of seven suite modules: joins,
# tokenizers, sketches, both sides of the Python/Arrow boundary, and a
# Structured Streaming windowed aggregate (state store, checkpoint
# commits, query start/stop).
QUERY_MIX = [
    "q12_priority_line_counts",       # tpch_extra_q
    "vocab_top_words",                # textstats_q
    "exact_dedup_groups",             # dedup_q
    "bm25_doc_scores",                # retrieval_q
    "media_decode_features",          # multimodal_q
    "hll_distinct_users",             # sketch_q
    "stream_windowed_event_stats",    # streaming_q
]


class Abort(Exception):
    """A harness-level failure: the run prints no result."""


# -- process tree -----------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the resident memory of this process and all its
    descendants (driver, JVM, Python workers); keeps the peak."""

    def __init__(self, period_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# -- workloads --------------------------------------------------------------

class Workload:
    """One pass is ``ops()``; each op is timed alone.  ``prepare`` makes the
    inputs without starting Spark; ``check`` runs after the measurement."""

    input_bytes = 0
    # untimed passes between the first pass and the measured window
    settle_passes = 1

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def prepare(self) -> None:
        """Make or find the inputs and set ``input_bytes``."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        pass

    def ops(self) -> list[str]:
        raise NotImplementedError

    def run_op(self, spark, name: str, tracer) -> object:
        raise NotImplementedError

    def collect_output(self, name: str, result) -> object:
        """What ``check`` needs of one op's output, taken right after
        the op and outside its timing."""
        raise NotImplementedError

    def check(self, outputs: list[tuple[str, object]]) -> list[str]:
        raise NotImplementedError


class AnagramBooks(Workload):
    """The reference job: corpus scan -> Latin-1 decode -> strip -> tokenize
    -> per-book distinct -> normalize -> signature -> set-agg -> HAVING ->
    5-way partitioned text sink."""

    # op latency falls steeply for the first five or six ops (JIT of the
    # collect_set path) and slowly after; a fixed count puts every run's
    # window at the same point of that curve
    settle_passes = 5

    def prepare(self) -> None:
        self.corpus = corpus.ensure_corpus(
            INPUTS, self.seed, BOOKS_BYTES, BOOKS_VOCAB, BOOKS_N)
        for name in os.listdir(INPUTS):  # keep one corpus on disk
            if os.path.join(INPUTS, name) != self.corpus:
                shutil.rmtree(os.path.join(INPUTS, name), ignore_errors=True)
        self.input_bytes = corpus.corpus_bytes(self.corpus)
        self.out = os.path.join(WORK, "out", "anagrams")

    def ops(self) -> list[str]:
        return ["anagram_job"]

    def run_op(self, spark, name, tracer):
        from gcp_serverless_mapreduce_spark.operators.anagram import (
            anagram_pipeline)
        from gcp_serverless_mapreduce_spark.sources.text import (
            read_gutenberg_corpus, write_anagram_sink)

        with _span(tracer, "sources.text.read_s"):
            docs = (read_gutenberg_corpus(spark, self.corpus)
                    .withColumnRenamed("path", "doc_id")
                    .withColumnRenamed("content", "text"))
        with _span(tracer, "operators.anagram.build_s"):
            groups = anagram_pipeline(docs, gutenberg=True)
        with _span(tracer, "sources.text.sink_s"):
            write_anagram_sink(groups, self.out,
                               num_partitions=SINK_PARTITIONS)

    def collect_output(self, name, result):
        lines = []
        parts = [p for p in os.listdir(self.out) if p.startswith("part-")]
        for p in parts:
            with open(os.path.join(self.out, p), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
        shutil.rmtree(self.out)
        return len(parts), sorted(lines)

    def check(self, outputs):
        from gcp_serverless_mapreduce_spark.functions.text import STOPWORDS

        expected = sorted(corpus.expected_lines(self.corpus,
                                                frozenset(STOPWORDS)))
        bad = []
        for name, (n_parts, lines) in outputs:
            if n_parts != SINK_PARTITIONS or lines != expected:
                bad.append(f"{name}: {n_parts} part files, {len(lines)} lines"
                           f" (expected {SINK_PARTITIONS}, {len(expected)})")
        return bad


class QueryMix(Workload):
    """Registered suite queries over the sf0.1 fixture, in an order drawn
    from the seed, each checked against its DuckDB twin from
    ``oracle_sql()``."""

    def prepare(self) -> None:
        self.sf_dir = FIXTURE_DIR
        if not os.path.isdir(self.sf_dir):
            raise Abort(f"no fixture at {self.sf_dir}")
        self.tables = sorted(f.removesuffix(".parquet")
                             for f in os.listdir(self.sf_dir)
                             if f.endswith(".parquet"))
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
            for t in self.tables)
        self.order = list(QUERY_MIX)
        random.Random(self.seed).shuffle(self.order)

    def warmup(self, spark) -> None:
        warm_python_workers(spark)
        warm_streaming(spark)

    def ops(self) -> list[str]:
        return self.order

    def run_op(self, spark, name, tracer):
        from gcp_serverless_mapreduce_spark import suite

        fn = suite.queries()[name]
        with _span(tracer, "suite.build_s"):
            df = fn(spark, self.sf_dir)
        if tracer is not None:
            tracer.op["suite.build_jobs"] = tracer.jobs_since_begin()
        with _span(tracer, "suite.collect_s"):
            rows = df.collect()
        return df.columns, [t for _, t in df.dtypes], rows

    def collect_output(self, name, result):
        from tools.check_parity import row_multiset

        cols, dtypes, rows = result
        return cols, dtypes, row_multiset(cols, rows)

    def check(self, outputs):
        import duckdb

        from gcp_serverless_mapreduce_spark import suite
        from tools.check_parity import dtype_mismatches, row_multiset

        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        oracles = suite.oracle_sql()
        expected = {}
        bad = []
        for name, (cols, dtypes, rows) in outputs:
            if name not in expected:
                rel = con.sql(oracles[name])
                expected[name] = (rel.columns, [str(t) for t in rel.types],
                                  row_multiset(rel.columns, rel.fetchall()))
            ocols, otypes, orows = expected[name]
            problems = []
            if sorted(cols) != sorted(ocols):
                problems.append(f"columns {sorted(cols)} vs {sorted(ocols)}")
            else:
                problems += dtype_mismatches(cols, dtypes, ocols, otypes)
                if rows != orows:
                    problems.append(f"values differ ({sum(rows.values())} vs "
                                    f"{sum(orows.values())} rows)")
            if problems:
                bad.append(f"{name}: " + "; ".join(problems))
        return bad


WORKLOADS = {"anagram_books": AnagramBooks, "query_mix": QueryMix}


def _span(tracer, metric):
    return nullcontext() if tracer is None else tracer.span(metric)


# -- session ----------------------------------------------------------------

def configure_env() -> None:
    """Environment for the JVM and the Python workers: package importable
    from any working directory, and every temp, spill and checkpoint
    file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    ckpt = os.path.join(WORK, "checkpoints")
    for d in (tmp, local, ckpt):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # what `nproc` prints: the cores this process may run on
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_STREAM_CKPT"] = ckpt
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions={java_opts}" '
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell")


def start_session():
    """Session start plus a first job, which loads and JIT-compiles the
    scheduler, codegen and collect paths every workload uses."""
    from gcp_serverless_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, start_s


def warm_python_workers(spark) -> None:
    """Spawn a Python worker on every core and load the Arrow serializer,
    which the first Python-boundary op would otherwise pay."""

    def same_batches(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4096, 1, n).mapInPandas(same_batches, "id long").collect()


def warm_streaming(spark) -> None:
    """Run a tiny stateful stream through the package's harness: the
    first streaming query of an application loads the stream execution,
    state store and checkpoint code."""
    from gcp_serverless_mapreduce_spark.streaming import pipeline

    src = os.path.join(WORK, "warmup-stream")
    spark.range(64).selectExpr("id", "id % 4 AS k").write.mode(
        "overwrite").parquet(src)
    stream = spark.readStream.schema("id long, k long").parquet(src)
    pipeline.run_available_now(stream.groupBy("k").count(),
                               "perfbench_warmup").collect()


def stop_session() -> None:
    """Stop Spark, shut down its JVM, and wait until every process the
    session started (the JVM and the Python workers it forked) has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        wait_ended(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_ended(pids: list[int], timeout_s: float = 15.0) -> None:
    """Wait for ``pids`` to end; signal the ones that do not."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        live = [p for p in pids if _alive(p)]
        for p in live if sig is not None else []:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while live and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)
            live = [p for p in live if _alive(p)]
        if not live:
            return
    raise Abort(f"processes {live} did not stop")


# -- measurement ------------------------------------------------------------

class Runner:
    def __init__(self, wl: Workload, spark, tracer=None) -> None:
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.attempted = 0
        self.failed_ops: list[str] = []
        self.outputs: list[tuple[str, object]] = []
        self.op_metrics: list[dict[str, float]] = []

    def op(self, name: str, traced: bool) -> float:
        tracer = self.tracer if traced else None
        if tracer is not None:
            tracer.begin(name)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.wl.run_op(self.spark, name, tracer)
            dt = time.perf_counter() - t0
        except Exception as ex:  # a failed op is counted, never dropped
            dt = time.perf_counter() - t0
            if "ModuleNotFoundError" in str(ex):
                raise Abort(f"{name}: Python workers cannot import the "
                            f"package: {ex}") from ex
            print(f"perfbench: op {name} raised: {ex}", file=sys.stderr)
            self.failed_ops.append(name)
            if tracer is not None:
                tracer.end(dt)
            return dt
        print(f"perfbench: op {name} {dt:.3f} s", file=sys.stderr)
        if tracer is not None:
            self.op_metrics.append(tracer.end(dt))
        self.outputs.append((name, self.wl.collect_output(name, result)))
        return dt

    def pass_(self, traced: bool = False) -> tuple[float, list[float]]:
        lat = []
        t0 = time.perf_counter()
        for name in self.wl.ops():
            lat.append(self.op(name, traced))
        return time.perf_counter() - t0, lat


def measure(args) -> dict:
    wl = WORKLOADS[args.workload](args.seed)
    wl.prepare()
    configure_env()
    sampler = RssSampler()
    if args.trace:
        sampler.start()
    t_setup = time.perf_counter()
    try:
        import importlib

        importlib.import_module(PACKAGE + ".suite")
        spark, start_s = start_session()
        wl.warmup(spark)
        setup_s = time.perf_counter() - t_setup
        print(f"perfbench: set-up {setup_s:.3f} s", file=sys.stderr)

        tracer = None
        if args.trace:
            import layers

            tracer = layers.Tracer(spark)
            tracer.listen(True)
        run = Runner(wl, spark, tracer)
        first_pass_s, _ = run.pass_(traced=bool(args.trace))
        first_metrics = list(run.op_metrics)
        run.op_metrics = []
        # JIT keeps compiling the hot paths after the first pass; the
        # window starts once op latency has levelled.  These ops' outputs
        # are still checked.
        for _ in range(wl.settle_passes):
            run.pass_()

        walls: dict[bool, list[float]] = {False: [], True: []}
        lat: list[float] = []
        lat_by_op: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        traced = False
        # at least two untraced ops (for the quantiles) and, when traced,
        # one traced pass
        while (time.perf_counter() - t0 < args.seconds or len(lat) < 2
               or (args.trace and not walls[True])):
            if tracer is not None:
                tracer.listen(traced)
            wall, pass_lat = run.pass_(traced)
            walls[traced].append(wall)
            if not traced:
                lat.extend(pass_lat)
                for name, dt in zip(wl.ops(), pass_lat):
                    lat_by_op.setdefault(name, []).append(dt)
            traced = bool(args.trace) and not traced
        if tracer is not None:
            tracer.listen(False)
        t0 = time.perf_counter()
        bad = wl.check(run.outputs)
        print(f"perfbench: check {time.perf_counter() - t0:.3f} s",
              file=sys.stderr)
    finally:
        if "pyspark" in sys.modules:
            stop_session()
        peak_rss = sampler.stop() if args.trace else 0

    for line in bad:
        print(f"perfbench: wrong output: {line}", file=sys.stderr)
    failed = len(run.failed_ops) + len(bad)
    result = {"attempted": run.attempted, "failed": failed}
    if args.trace:
        metrics = {"session.start_s": (start_s, "s"),
                   "session.warmup_s": (setup_s - start_s, "s")}
        for key in layers.OP_METRICS:
            src = (first_metrics if key.startswith("exec.codegen")
                   else run.op_metrics)
            vals = [m[key] for m in src]
            metrics[key] = (statistics.fmean(vals) if vals else 0.0,
                            layers.unit_of(key))
        metrics["memory.peak_rss_mb"] = (peak_rss / 1e6, "MB")
        metrics["trace.overhead_s"] = (
            statistics.median(walls[True]) - statistics.median(walls[False]),
            "s")
    else:
        p50 = statistics.median(lat)
        metrics = {
            "setup_s": (setup_s, "s"),
            # a median warm pass: each op at its median latency
            "wall_s": (sum(statistics.median(v)
                           for v in lat_by_op.values()), "s"),
            "op_p50_s": (p50, "s"),
            "input_mb_per_s": (wl.input_bytes / 1e6 / p50, "MB/s"),
        }
    result["metrics"] = metrics
    # printed, not in the result's metrics (see README.md): one cold sample
    # per run, a tail too thin to gate, and a ratio that is 0 when correct
    printed = {"first_pass_s": (first_pass_s, "s")}
    if not args.trace and len(wl.ops()) > 1:
        # inclusive = linear interpolation between the ranked samples
        printed["op_p80_s"] = (statistics.quantiles(
            lat, n=5, method="inclusive")[3], "s")
    printed["failed_frac"] = (failed / run.attempted, "ratio")
    result["printed"] = printed
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package at {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    try:
        res = measure(args)
    except Abort as ex:
        print(f"perfbench: aborted: {ex}", file=sys.stderr)
        return 3
    for name, (value, unit) in {**res["metrics"], **res["printed"]}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} ops attempted = {res['attempted']}, "
          f"failed = {res['failed']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
