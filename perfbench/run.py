"""The repository's benchmark: extraction and curation workloads on Spark.

    python3 perfbench/run.py --workload extract_mixed --seed 7 --seconds 10 --trace 0

Run from the repository root. Workloads (inputs described in
``perfbench/inputs.py``):

- ``extract_mixed``: read_transcripts -> extract_transcripts -> ordered
  -> write_extracted, plus lineage_metrics written, over fixture-mix
  transcripts (html/pdf/vertical/ocr/plain/edge, a giant turn per
  replica);
- ``extract_chat``: the same path over short agent-chat turns;
- ``pretrain_dag``: ops.curate.pretrain_pipeline -> collect.

One run, in one process on ``local[nproc]``:

1. generates the input from ``--seed`` and computes the oracle side of
   the correctness gates (untimed);
2. sets up: session start, a Python-worker warm-up job and one pass
   that is discarded (``setup_s``);
3. runs timed passes until ``--seconds`` have been measured and at
   least two passes have run, reading the peak RSS of the Spark JVM and
   its Python workers from /proc;
4. checks the output of every pass (untimed);
5. with ``--trace 1``, alternates untraced passes and passes with
   Spark's event log attached, in the same SparkContext; per-layer
   metrics come from the event log, the spans this runner records
   around each call into the program, and a no-Spark kernel replay over
   the workload's own turns.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory and is removed at exit. stdout ends with one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host shape.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.eventlog import LAYERS, Span, coverage  # noqa: E402
from perfbench.stats import median  # noqa: E402

WORKLOADS = ("extract_mixed", "extract_chat", "pretrain_dag")

#: end-to-end metrics (--trace 0): name -> unit
END_TO_END = {
    "turns_per_s": "1/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
    "turns_ok_share": "ratio",
}

#: per-layer metrics (--trace 1): name -> unit
PER_LAYER = {
    "sources.scan_s": "task-s",
    "sources.rows_read": "count",
    "sources.write_s": "task-s",
    "sources.bytes_written": "bytes",
    "pipeline.shuffle_write_s": "task-s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.fetch_wait_s": "task-s",
    "pipeline.partition_skew": "ratio",
    "pipeline.py_start_s": "task-s",
    "pipeline.py_init_s": "task-s",
    "pipeline.py_run_s": "task-s",
    "pipeline.py_bytes_sent": "bytes",
    "pipeline.py_bytes_returned": "bytes",
    "pipeline.sort_s": "task-s",
    "kernels.us_per_turn": "us",
    **{f"kernels.us_per_turn.{k}": "us" for k in ("html", "pdf", "ocr", "plain", "vertical", "empty")},
    "kernels.mb_per_s": "MB/s",
    "kernels.turn_ms_max": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.idle_core_s": "core-s",
    "spark.task_s_p50": "s",
    "spark.task_s_max": "s",
    "spark.executor_cpu_s": "task-s",
    "spark.gc_s": "task-s",
    "ops.build_s": "s",
    "ops.build_jobs": "count",
    "ops.execute_s": "s",
    "ops.execute_jobs": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
    "trace.unattributed": "ratio",
}

#: the committed pure-Python extraction golden of the sf0.01 documents
GOLDEN_SF001 = os.path.join(ROOT, "fixturedata", "golden_sf0.01.parquet")
#: timed passes per run at the least, so no run reports a single pass
MIN_PASSES = 2
BUILD_CALL = "ops.curate.pretrain_pipeline"
EXECUTE_CALL = "collect"


# --------------------------------------------------------------------------
# host shape, processes
# --------------------------------------------------------------------------

def host_shape(seed: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except OSError:
        rev = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_rev": rev,
        "seed": seed,
    }


def driver_memory(ram_gb: float) -> str:
    """A sixteenth of host RAM, between 1 and 8 GiB."""
    return f"{max(1, min(8, int(ram_gb / 16)))}g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            line = next(line for line in f if line.startswith("VmHWM:"))
        return int(line.split()[1]) * 1024
    except (OSError, StopIteration, ValueError):
        return 0


class PeakRss:
    """Peak RSS of a process tree over a window, summed over processes.

    Each process's high-water mark (VmHWM) is reset when the window
    opens (``clear_refs`` 5) and read when it closes, so a spike between
    two samples cannot be missed; ``pids`` keeps the tree for shutdown."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self.pids: set[int] = set()

    def __enter__(self) -> PeakRss:
        for pid in process_tree(self.root_pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # the process has exited
                pass
        return self

    def __exit__(self, *exc) -> None:
        self.pids = set(process_tree(self.root_pid))
        self.peak = sum(_peak_rss_bytes(p) for p in self.pids)


# --------------------------------------------------------------------------
# spans recorded by the runner
# --------------------------------------------------------------------------

class Recorder:
    """Pass and call spans, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._pass: str | None = None

    @contextmanager
    def span(self, kind: str, name: str):
        sid = f"{kind}-{len(self.spans)}"
        parent = self._pass if kind == "call" else None
        if kind == "pass":
            self._pass = sid
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(sid, parent, kind, name, start, time.time()))
            if kind == "pass":
                self._pass = None

    def call(self, name: str):
        return self.span("call", name)


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------

def start_spark(work: str, cores: int, memory: str):
    from text_ocr_spark.pipeline import session_builder

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.driver.memory": memory,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = session_builder(master=f"local[{cores}]", app="perfbench", **conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EventLog:
    """Spark's own event log, written only while a traced pass runs.

    An ``EventLoggingListener`` (uncompressed, not rolling) is attached
    to the running SparkContext for each traced pass and detached after
    the listener bus has drained, so untraced and traced passes share
    one warm JVM and the log holds the traced passes only."""

    def __init__(self, spark, path: str):
        os.makedirs(path, exist_ok=True)
        self.path = path
        self.sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        conf = (
            self.sc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId(),
            self.sc.applicationAttemptId(),
            jvm.java.net.URI("file://" + path),
            conf,
            self.sc.hadoopConfiguration(),
        )
        self.listener.start()

    @contextmanager
    def attached(self):
        self.sc.addSparkListener(self.listener)
        try:
            yield
        finally:
            self.sc.listenerBus().waitUntilEmpty()
            self.sc.removeSparkListener(self.listener)

    def close(self) -> str:
        """Flush the log and return its file."""
        self.listener.stop()
        (name,) = os.listdir(self.path)
        return os.path.join(self.path, name)


def _warm_batches(batches):
    import pandas as pd

    from text_ocr_spark.fixtures import build_payload
    from text_ocr_spark.kernels.extract import extract_payload

    extract_payload(*build_payload(0, "warm up"))
    for b in batches:
        yield pd.DataFrame({"id": b["id"]})


def warm_workers(spark, cores: int) -> None:
    """Start every core's Python worker and import the kernels."""
    spark.range(cores * 4).repartition(cores * 4).mapInPandas(
        _warm_batches, schema="id long"
    ).count()


def stop_jvm(known_pids: set[int]) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    pids = known_pids | set(process_tree(proc.pid))
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    alive = [p for p in pids if p != os.getpid() and os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class ExtractWorkload:
    """read_transcripts -> extract_transcripts -> ordered -> write, plus
    the lineage rows written, over a seeded transcripts table."""

    def __init__(self, name: str, seed: int, work: str, cores: int):
        import pandas as pd

        from perfbench import inputs
        from text_ocr_spark.oracle import golden_frame

        self.parts = 2 * cores
        self.transcripts = (
            inputs.mixed_transcripts(seed) if name == "extract_mixed" else inputs.chat_transcripts(seed)
        )
        self.turns = len(self.transcripts)
        self.input_path = os.path.join(work, "input", "transcripts")
        inputs.write_transcripts(self.transcripts, self.input_path, 2 * cores, seed)
        sample = inputs.sample_conversations(self.transcripts, seed, n_convs=40, max_turns=4000)
        self.sample_golden = golden_frame(sample)
        self.committed_golden = pd.read_parquet(GOLDEN_SF001)
        self.last_out: str | None = None

    def run_pass(self, spark, rec: Recorder, out: str) -> None:
        from text_ocr_spark import pipeline, sources

        with rec.call("sources.read_transcripts"):
            df = sources.read_transcripts(spark, self.input_path)
        with rec.call("pipeline.extract_transcripts"):
            ex = pipeline.extract_transcripts(df, num_partitions=self.parts).persist()
        with rec.call("pipeline.ordered"):
            ordered = pipeline.ordered(ex, num_partitions=self.parts)
        with rec.call("sources.write_extracted"):
            sources.write_extracted(ordered, os.path.join(out, "extracted"), mode="overwrite")
        with rec.call("pipeline.lineage_metrics"):
            lineage = pipeline.lineage_metrics(ex, run_id=os.path.basename(out))
        with rec.call("sources.write_extracted"):
            sources.write_extracted(lineage, os.path.join(out, "lineage"), mode="overwrite")
        ex.unpersist()

    def after_pass(self, out: str) -> int:
        """Missing plus extra turns by row count; keeps only the newest
        output on disk."""
        from perfbench.checks import output_rows

        bad = abs(output_rows(os.path.join(out, "extracted")) - self.turns)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return bad

    def check(self) -> list[str]:
        from perfbench import checks

        if not self.last_out:
            return ["no pass produced output"]
        out = checks.read_parts(os.path.join(self.last_out, "extracted"))
        lineage = checks.read_parts(os.path.join(self.last_out, "lineage"))
        return checks.check_extract(
            out, lineage, self.transcripts, self.sample_golden, self.committed_golden
        )

    def output_mb(self) -> float:
        from perfbench.checks import committed_bytes

        out = self.last_out or ""
        return committed_bytes(os.path.join(out, "extracted"), os.path.join(out, "lineage")) / 1e6


class PretrainWorkload:
    """ops.curate.pretrain_pipeline -> collect over the seeded documents
    table, checked against the contract's DuckDB oracle."""

    def __init__(self, name: str, seed: int, work: str, cores: int):
        from perfbench import inputs
        from perfbench.checks import pretrain_oracle
        from text_ocr_spark.fixtures import make_transcripts_pdf

        docs = inputs.documents("sf0.01")
        self.sf_dir = os.path.join(work, "input")
        inputs.write_table(docs, os.path.join(self.sf_dir, "documents.parquet"), cores, seed)
        self.transcripts = make_transcripts_pdf(docs)
        self.turns = len(docs)
        self.expected = pretrain_oracle(docs, GOLDEN_SF001)
        self.rows: list[tuple] | None = None

    def run_pass(self, spark, rec: Recorder, out: str) -> None:
        from text_ocr_spark.ops.curate import pretrain_pipeline

        with rec.call(BUILD_CALL):
            df = pretrain_pipeline(spark, self.sf_dir)
        with rec.call(EXECUTE_CALL):
            rows = df.collect()
        self.rows = sorted(tuple(r) for r in rows)

    def after_pass(self, out: str) -> int:
        return 0 if self.rows == self.expected else self.turns

    def check(self) -> list[str]:
        from perfbench.checks import check_rows

        if self.rows is None:
            return ["no pass produced output"]
        return check_rows(self.rows, self.expected)

    def output_mb(self) -> float:
        import pyarrow as pa

        cols = list(zip(*self.rows)) if self.rows else []
        return pa.table({f"c{i}": list(c) for i, c in enumerate(cols)}).nbytes / 1e6


# --------------------------------------------------------------------------
# timing
# --------------------------------------------------------------------------

class Passes:
    """Timed passes of one workload; a pass that raises counts its turns
    as failed."""

    def __init__(self, workload, rec: Recorder, work: str):
        self.w = workload
        self.rec = rec
        self.work = work
        self.times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.count = 0

    def one(self, spark, timed: bool = True) -> float:
        out = os.path.join(self.work, "out", f"pass-{self.count}")
        self.count += 1
        t0 = time.perf_counter()
        ok = True
        with self.rec.span("pass", os.path.basename(out)):
            try:
                self.w.run_pass(spark, self.rec, out)
            except Exception:  # a failed pass is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                ok = False
        dt = time.perf_counter() - t0
        print(f"# {os.path.basename(out)}: {dt:.3f} s{'' if timed else ' (discarded)'}", file=sys.stderr)
        if timed:
            self.attempted += self.w.turns
            self.failed += self.w.after_pass(out) if ok else self.w.turns
            if ok:
                self.times.append(dt)
        else:
            self.w.after_pass(out)
        return dt

    def measure(self, spark, seconds: float) -> list[float]:
        start = len(self.times)
        spent = 0.0
        runs = 0
        while spent < seconds or runs < MIN_PASSES:
            spent += self.one(spark)
            runs += 1
        return self.times[start:]

    def alternate(self, spark, seconds: float, log: EventLog) -> tuple[list, list, list]:
        """Untraced and traced passes in turn, until ``seconds`` are
        measured and each kind has run -> (untraced times, traced times,
        runner spans of the traced passes)."""
        untraced: list[float] = []
        traced: list[float] = []
        spans: list[Span] = []
        while sum(untraced) + sum(traced) < seconds or not traced:
            if len(traced) < len(untraced):
                first = len(self.rec.spans)
                with log.attached():
                    traced.append(self.one(spark))
                spans += self.rec.spans[first:]
            else:
                untraced.append(self.one(spark))
        return untraced, traced, spans


def run(args) -> tuple[bool, int, int, dict]:
    host = host_shape(args.seed)
    print("# host " + json.dumps(host), flush=True)
    print("# host " + json.dumps(host), file=sys.stderr)
    cores = host["nproc"]
    memory = driver_memory(host["ram_gb"])
    work = args.work
    cls = PretrainWorkload if args.workload == "pretrain_dag" else ExtractWorkload
    workload = cls(args.workload, args.seed, work, cores)

    rec = Recorder()
    passes = Passes(workload, rec, work)
    pids: set[int] = set()
    metrics: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores, memory)
        warm_workers(spark, cores)
        passes.one(spark, timed=False)
        setup_s = time.perf_counter() - t0
        if not args.trace:
            from pyspark import SparkContext

            with PeakRss(SparkContext._gateway.proc.pid) as rss:
                times = passes.measure(spark, args.seconds)
            pids |= rss.pids
            errors = workload.check()
            if times:
                job_s = median(times)
                metrics = {
                    "turns_per_s": workload.turns / job_s,
                    "job_s": job_s,
                    "setup_s": setup_s,
                    "peak_rss_mb": rss.peak / 1e6,
                    "output_mb": workload.output_mb(),
                    "turns_ok_share": 1 - passes.failed / max(1, passes.attempted),
                }
        else:
            log = EventLog(spark, os.path.join(work, "eventlog"))
            untraced, traced, spans = passes.alternate(spark, args.seconds, log)
            errors = workload.check()
            metrics = layer_metrics(log.close(), spans, cores, workload, args.seed)
            metrics["trace.overhead_s"] = median(traced) - median(untraced)
            metrics.update(coverage(metrics, median(untraced)))
    finally:
        stop_jvm(pids)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    correct = not errors and passes.failed == 0 and bool(passes.times)
    return correct, passes.attempted, passes.failed, metrics


def layer_metrics(path: str, runner_spans: list, cores: int, workload, seed: int) -> dict:
    from perfbench import eventlog as ev
    from perfbench.replay import kernel_metrics

    spark_spans, acc = ev.spark_spans(ev.read_events(path))
    spans = ev.link(runner_spans, spark_spans)
    per_pass = []
    for root in (s for s in runner_spans if s.kind == "pass"):
        m = ev.pass_metrics(spans, root, cores, acc)
        calls = [s for s in runner_spans if s.parent == root.id]
        for key, call in (("build", BUILD_CALL), ("execute", EXECUTE_CALL)):
            mine = [c for c in calls if c.name == call]
            ids = {c.id for c in mine}
            m[f"ops.{key}_s"] = sum(c.duration for c in mine)
            m[f"ops.{key}_jobs"] = float(sum(1 for s in spans if s.kind == "job" and s.parent in ids))
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update(kernel_metrics(workload.transcripts, seed))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import text_ocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    args.work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.work, "local")
    # no JVM writes /tmp/hsperfdata_<user>: the launcher's and the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        correct, attempted, failed, metrics = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.work))
        except OSError:  # another run's work directory is still there
            pass
    units = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in units if k not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        correct = False
    for name, unit in units.items():
        print(f"# {name} = {metrics.get(name)} {unit}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
