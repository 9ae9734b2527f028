"""The measured process of one benchmark run (started by run.py).

One client drives `local[4]` in a closed loop: one op in flight, the
next starts when the last one returns. The layers are reached only
through their public calls: `spark_graft.load_all_queries`,
`spark_graft.session.get_spark`, `REGISTRY[q].fn(spark, dir)` followed
by a noop write, `spark_graft.compat.__main__.main`, and the
`spark_graft.streaming` builder `tumbling_counts_stream` with the sink
`run_stream_foreach_batch_to_parquet`.

Every op gets its own dataset directory (symlinks to, or for a stream
copies of, the seed's files), so no path-keyed process cache can carry
work from one timed op to another. The warm-up runs the same ops once,
on directories of their own, and counts as set-up. Outputs are checked
after the timed passes, outside every timed window.

Usage (normally via run.py, which sets PYTHONPATH to the repository
root so this process and Spark's Python workers import spark_graft):
python3 perfbench/worker.py '<json args>'
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

import inputs
import tracing
from spark_graft.registry import REGISTRY

CORES = 4
QUERY_WORKLOADS = ("relational", "llm_pipeline")
STREAM_WARM_FILES = 1  # the stream warm-up replays only the first files

# Fixed op lists: the same ops, in the same order, for every seed.
OPS = {
    "relational": """scan_project filter_pred agg_q1 join_multi join_outer win_rank
        fn_string grouping_rollup events_funnel stream_tumbling set_ops word_count""".split(),
    "llm_pipeline": "kmeans_lloyd sim_ann_ivf_trained dedup_clusters pipeline_pretrain_corpus".split(),
}
# The warm-up's queries: a few that load the layers every op uses
WARM_OPS = {
    "relational": "agg_q1 join_multi win_rank fn_string events_funnel".split(),
    "llm_pipeline": ["kmeans_lloyd"],
}
# spark_graft.operators modules with ops in a workload
MODULES = ("clustering", "dedup", "events", "joins", "pipeline",
           "relational", "scalar", "similarity", "windows")


class BatchListener(StreamingQueryListener):
    """Progress of every micro-batch, as Spark's own events report it."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self.ended: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        batch = {
            "batch": p.batchId, "start": start, "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state": [(s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs) for s in p.stateOperators],
        }
        with self._cv:
            self.progress.setdefault(str(p.runId), []).append(batch)

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.ended.add(str(event.runId))
            self._cv.notify_all()

    def batches_of_next(self, n_started: int, timeout: float = 60.0) -> tuple[str, list[dict]]:
        """Run id and batches of the query started after `n_started`
        others, once its termination event has arrived."""
        with self._cv:
            ok = self._cv.wait_for(
                lambda: len(self.started) > n_started and self.started[n_started] in self.ended, timeout)
            if not ok:
                raise TimeoutError("no termination event for the stream")
            run_id = self.started[n_started]
            return run_id, sorted(self.progress.get(run_id, []), key=lambda b: b["batch"])


class Run:
    """The ops of one run, each against a fresh dataset directory."""

    def __init__(self, spark, workload: str, seed_dir: str, work: str) -> None:
        self.spark = spark
        self.listener: BatchListener | None = None
        self.workload = workload
        self.seed_dir = seed_dir
        self.tables = os.path.join(seed_dir, "tables")
        self.work = work
        self.n_dirs = 0
        self.errors: list[str] = []

    def fresh_dir(self, src: str, names: list[str] | None = None, link=os.symlink) -> str:
        """A new directory of links to (or copies of) `src`'s files."""
        self.n_dirs += 1
        d = os.path.join(self.work, "ops", f"op{self.n_dirs:04d}")
        os.makedirs(d)
        for f in names if names is not None else sorted(os.listdir(src)):
            link(os.path.join(src, f), os.path.join(d, f))
        return d

    def todo(self) -> list:
        if self.workload in QUERY_WORKLOADS:
            return [(self.run_query, q) for q in OPS[self.workload]]
        if self.workload == "stream_replay":
            return [(self.run_stream, inputs.stream_files(self.seed_dir))]
        return [(self.run_compat, f) for f in inputs.email_files(self.seed_dir)]

    def run_query(self, name: str) -> dict:
        path = self.fresh_dir(self.tables)
        op = {"op": name, "failed": False}
        t0 = time.time()
        try:
            df = REGISTRY[name].fn(self.spark, path)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            op.update(df=df, build_s=t1 - t0, exec_s=t2 - t1)
        except Exception as e:  # an op that raises is a failed op
            t2 = time.time()
            self.fail(op, f"{name}: {type(e).__name__}: {str(e)[:300]}")
        op.update(start=t0, end=t2)
        return op

    def run_compat(self, file: str) -> dict:
        """One run of the compat command-line tool over one email file."""
        from spark_graft.compat.__main__ import main

        name = os.path.basename(file)
        path = os.path.join(self.fresh_dir(os.path.dirname(file), [name]), name)
        op = {"op": name, "file": file, "failed": False}
        buf = io.StringIO()
        t0 = time.time()
        try:
            with contextlib.redirect_stdout(buf):
                op["rc"] = main(["spark_graft.compat", path, "4", "4"])
        except Exception as e:
            self.fail(op, f"compat {name}: {type(e).__name__}: {str(e)[:300]}")
        op.update(start=t0, end=time.time(), stdout=buf.getvalue())
        return op

    def run_stream(self, files: list[str]) -> dict:
        """Replay `files` one per micro-batch through the tumbling-window
        stream into the parquet sink, in update mode. Each micro-batch
        is an op; its latency is the trigger time Spark reports."""
        from pyspark.sql import functions as F

        from spark_graft.sources.tables import ensure_session_confs
        from spark_graft.streaming import run_stream_foreach_batch_to_parquet, tumbling_counts_stream

        # copies, because the file source replays in modification-time
        # order and copy2 keeps the times inputs.py set
        src = self.fresh_dir(os.path.dirname(files[0]), [os.path.basename(f) for f in files], shutil.copy2)
        out, ckpt = src + "-out", src + "-ckpt"
        op = {"op": "tumbling_counts_stream", "out": out, "failed": False, "batches": []}
        n_started = len(self.listener.started)
        t0 = time.time()
        try:
            ensure_session_confs(self.spark)
            events = (
                self.spark.readStream.schema(self.spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            if dict(events.dtypes).get("ts") == "bigint":  # nanos read as long
                events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            run_stream_foreach_batch_to_parquet(tumbling_counts_stream(events), out, ckpt, output_mode="update")
            t1 = time.time()
            op["group"], op["batches"] = self.listener.batches_of_next(n_started)
        except Exception as e:
            t1 = time.time()
            self.fail(op, f"stream: {type(e).__name__}: {str(e)[:300]}")
        op.update(start=t0, end=t1)
        return op

    def fail(self, op: dict, msg: str) -> None:
        op["failed"] = True
        self.errors.append(msg)


class Checker:
    """Output checks, run after the timed passes."""

    def __init__(self, run: Run) -> None:
        import duckdb

        from spark_graft.sources.tables import TABLES
        from tests.compare import assert_frames_match

        self.run = run
        self.match = assert_frames_match
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.tables}/{t}.parquet'")
        self.expected: dict[str, object] = {}

    def check(self, op: dict) -> None:
        if op["failed"]:
            return
        try:
            if self.run.workload in QUERY_WORKLOADS:
                self._query(op)
            elif "batches" in op:
                self._stream(op)
            else:
                self._compat(op)
        except Exception as e:  # a failed check fails the op
            self.run.fail(op, f"check {op['op']}: {type(e).__name__}: {str(e)[:400]}")
        op.pop("df", None)

    def _query(self, op: dict) -> None:
        """Hash-match against the DuckDB oracle; rows-only without one."""
        spec = REGISTRY[op["op"]]
        df = op["df"]
        if spec.oracle is None:
            if not (df.schema.fields and df.count() > 0):
                raise AssertionError("rows-only check: empty result")
            return
        if spec.name not in self.expected:
            self.expected[spec.name] = self.con.execute(spec.oracle).df()
        self.match(df.toPandas(), self.expected[spec.name], spec.name)

    def _stream(self, op: dict) -> None:
        """The last update of every window equals the batch twin's row,
        and every replayed row went through a micro-batch."""
        rows = sum(b["rows"] for b in op["batches"])
        want_rows = self.con.execute("SELECT count(*) FROM events").fetchone()[0]
        if rows != want_rows:
            raise AssertionError(f"stream read {rows} rows, events has {want_rows}")
        got = (
            self.run.spark.read.parquet(op["out"]).toPandas()
            .sort_values("batch_id", kind="stable")
            .drop_duplicates(["window_start", "event_type"], keep="last")
            .drop(columns="batch_id")
        )
        twin = REGISTRY["stream_tumbling"].fn(self.run.spark, self.run.tables).toPandas()
        self.match(got, twin, "tumbling stream == batch twin")

    def _compat(self, op: dict) -> None:
        with open(op["file"]) as fh:
            want = min_unique_prefix([w for w in fh.read().split("\n") if w])
        got = op["stdout"].strip()
        if op.get("rc") != 0 or got != f"Minimal prefix len = {want}":
            raise AssertionError(f"compat printed {got!r}, expected {want}")


def min_unique_prefix(words: list[str]) -> int | None:
    """Plain-Python reference: the smallest L whose L-prefixes are all
    distinct (None when the list holds exact duplicates)."""
    if len(set(words)) < len(words):
        return None
    for n in range(1, max(map(len, words), default=0) + 1):
        if len({w[:n] for w in words}) == len(words):
            return n
    return 1


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    Spark JVM and the Python workers it forks), sampled every 200 ms
    while running. Each process counts its proportional set size (PSS):
    pages that forked Python workers share with their parent daemon are
    split between them rather than counted once per process."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self.sample())
            if self._stop.wait(0.2):
                return

    def sample(self) -> int:
        """Summed PSS of the JVM (a child of this process) and of every
        Python process below it. Other descendants are short-lived
        shell commands the JVM forks; counted between fork and exec,
        they would double the JVM's pages in a sample."""
        children: dict[int, list[tuple[int, str]]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        head, tail = fh.read().rsplit(")", 1)
                    children.setdefault(int(tail.split()[1]), []).append((int(entry), head.split("(", 1)[1]))
                except (OSError, IndexError, ValueError):
                    continue
        me = os.getpid()
        total, todo = 0, [(pid, comm, True) for pid, comm in children.get(me, [])]
        while todo:
            pid, comm, top = todo.pop()
            todo.extend((c, cc, False) for c, cc in children.get(pid, []))
            if not (top or comm.startswith("python")):
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
            except (OSError, IndexError, ValueError, StopIteration):
                pass
        return total


def run_pass(run: Run, status: tracing.StatusStore, spans: tracing.Spans, traced: bool) -> dict:
    """Run the workload's ops once, in order, one at a time. A traced
    pass runs each op under its own job group and reads its jobs and
    stages right after it; an untraced pass runs under one job group,
    read once the pass is over, outside its timed window."""
    ops: list[dict] = []
    sc = run.spark.sparkContext
    pass_group = f"pass{len(spans.items)}"
    pass_id = spans.add("pass", time.time(), 0.0, traced=traced)
    if not traced:
        sc.setJobGroup(pass_group, "perfbench pass")
    for fn, arg in run.todo():
        group = f"op{len(spans.items)}"
        if traced:
            before = status.persisted_rdds()
            sc.setJobGroup(group, str(arg)[:100])
        op = fn(arg)
        op_id = spans.add(op["op"], op["start"], op["end"], pass_id)
        for b in op.get("batches", []):
            spans.add("batch", b["start"], b["start"] + b["ms"].get("triggerExecution", 0) / 1e3, op_id)
        if traced:
            # a stream's jobs run under its own run id as job group
            op["status"] = st = status.group(op.get("group", group))
            op["persisted_left"] = status.persisted_rdds() - before
            for a, b in st["intervals"]:
                spans.add("job", a, b, op_id)
            if "build_s" in op:
                spans.add("build", op["start"], op["start"] + op["build_s"], op_id)
                spans.add("exec", op["end"] - op["exec_s"], op["end"], op_id)
        ops.append(op)
    sc.setLocalProperty("spark.jobGroup.id", None)
    spans.items[pass_id]["end"] = ops[-1]["end"]
    p = {"ops": ops, "start": ops[0]["start"], "end": ops[-1]["end"], "traced": traced}
    p["rows"] = pass_rows(run, p, status, pass_group)
    return p


def pass_rows(run: Run, p: dict, status: tracing.StatusStore, pass_group: str) -> int:
    """Input rows of a pass: the records the queries' stages read, as
    Spark's status store counts them; email lines; or the rows the
    stream's micro-batches read."""
    ops = p["ops"]
    if run.workload in QUERY_WORKLOADS:
        if p["traced"]:
            return sum(o["status"]["input_rows"] for o in ops)
        return status.group(pass_group)["input_rows"]
    if run.workload == "stream_replay":
        return sum(b["rows"] for o in ops for b in o["batches"])
    return sum(count_lines(o["file"]) for o in ops)


def count_lines(path: str) -> int:
    with open(path) as fh:
        return sum(1 for w in fh if w.strip())


def latencies(op: dict) -> list[float]:
    """An op's latency, or for a stream each micro-batch's trigger time."""
    batches = [b["ms"]["triggerExecution"] / 1e3 for b in op.get("batches", [])]
    return batches or [op["end"] - op["start"]]


def layer_metrics(traced: dict, untraced_wall: float, setup: dict) -> dict:
    """Per-layer metrics of the traced pass, named after the module whose
    public call was timed. Layers a workload does not use read 0."""
    m = {"session.start_s": setup["session"], "registry.load_s": setup["registry"]}
    ops = traced["ops"]

    queries = [o for o in ops if "build_s" in o]
    st = [o["status"] for o in queries]
    wall = sum(o["end"] - o["start"] for o in queries)
    m.update({
        "operators.build_s": sum(o["build_s"] for o in queries),
        "operators.driver_s": sum(tracing.uncovered(o["start"], o["end"], o["status"]["intervals"]) for o in queries),
        "operators.exec_s": sum(o["exec_s"] for o in queries),
        "operators.jobs": sum(s["jobs"] for s in st),
        "operators.stages": sum(s["stages"] for s in st),
        "operators.tasks": sum(s["tasks"] for s in st),
        "operators.core_busy_share": sum(s["run_s"] for s in st) / (wall * CORES) if wall else 0.0,
        "operators.task_cpu_s": sum(s["cpu_s"] for s in st),
        "operators.gc_s": sum(s["gc_s"] for s in st),
        "operators.shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
        "operators.shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
        "operators.spill_bytes": sum(s["spill"] for s in st),
        "operators.peak_exec_memory_bytes": max((s["peak_mem"] for s in st), default=0),
        "operators.input_rows": sum(s["input_rows"] for s in st),
        "operators.persisted_rdds_left": sum(o["persisted_left"] for o in queries),
    })
    for mod in MODULES:
        mine = [o for o in queries if REGISTRY[o["op"]].fn.__module__.endswith("." + mod)]
        m[f"operators.{mod}.build_s"] = sum(o["build_s"] for o in mine)
        m[f"operators.{mod}.exec_s"] = sum(o["exec_s"] for o in mine)
    for q in OPS["llm_pipeline"]:
        mine = [o for o in queries if o["op"] == q]
        m[f"op.{q}.s"] = sum(o["end"] - o["start"] for o in mine)
        m[f"op.{q}.jobs"] = sum(o["status"]["jobs"] for o in mine)

    compat = [o for o in ops if "file" in o]
    cst = [o["status"] for o in compat]
    job_s = [b - a for s in cst for a, b in s["intervals"]]
    lines = sum(count_lines(o["file"]) for o in compat)
    m.update({
        "compat.jobs": sum(s["jobs"] for s in cst) / len(compat) if compat else 0,
        "compat.job_s": statistics.median(job_s) if job_s else 0.0,
        "compat.driver_s": sum(tracing.uncovered(o["start"], o["end"], o["status"]["intervals"]) for o in compat),
        "compat.task_cpu_s": sum(s["cpu_s"] for s in cst),
        "compat.shuffle_bytes_per_record": sum(s["shuffle_write"] for s in cst) / lines if lines else 0.0,
    })

    streams = [o for o in ops if "batches" in o]
    bs = [b for o in streams for b in o["batches"]]

    def total_s(*keys: str) -> float:
        return sum(b["ms"].get(k, 0) for b in bs for k in keys) / 1e3

    m.update({
        "streaming.batches": len(bs),
        "streaming.batch_s": statistics.median(b["ms"]["triggerExecution"] / 1e3 for b in bs) if bs else 0.0,
        "streaming.add_batch_s": total_s("addBatch"),
        "streaming.log_s": total_s("walCommit", "commitOffsets"),
        "streaming.plan_s": total_s("queryPlanning"),
        "streaming.state_rows": max((sum(s[0] for s in b["state"]) for b in bs), default=0),
        "streaming.state_bytes": max((sum(s[1] for s in b["state"]) for b in bs), default=0),
        "streaming.state_commit_s": sum(s[2] for b in bs for s in b["state"]) / 1e3,
        "streaming.jobs": sum(o["status"]["jobs"] for o in streams),
    })

    m["trace.overhead_share"] = (traced["end"] - traced["start"]) / untraced_wall - 1
    return m


def warm_up(run: Run) -> None:
    """Run a short version of the workload, untimed and on directories
    of its own, so the timed passes see a JVM whose core classes are
    loaded and whose Python workers are running: a few of the queries,
    the compat tool on a small file of its own, or a stream over the
    first replay files."""
    if run.workload in QUERY_WORKLOADS:
        todo = [(run.run_query, q) for q in WARM_OPS[run.workload]]
    elif run.workload == "stream_replay":
        todo = [(run.run_stream, inputs.stream_files(run.seed_dir)[:STREAM_WARM_FILES])]
    else:
        todo = [(run.run_compat, f) for f in inputs.email_files(run.seed_dir, warm=True)]
    for fn, arg in todo:
        op = fn(arg)
        if op["failed"]:
            run.errors[-1] = "warm-up " + run.errors[-1]


def main(args: dict) -> None:
    import spark_graft
    from spark_graft.session import get_spark

    spawn = args["spawn_time"]
    spans = tracing.Spans(args["run_id"])
    t_load = time.time()
    spark_graft.load_all_queries()
    t_loaded = time.time()
    spark = get_spark("perfbench")
    t_session = time.time()
    run = Run(spark, args["workload"], args["inputs"], args["work"])
    if run.workload == "stream_replay":
        run.listener = BatchListener()
        spark.streams.addListener(run.listener)
    status = tracing.StatusStore(spark)
    warm_up(run)
    ready = time.time()
    setup_id = spans.add("setup", spawn, ready)
    for name, a, b in [("import", spawn, t_load), ("registry.load", t_load, t_loaded),
                       ("session.start", t_loaded, t_session), ("warm_up", t_session, ready)]:
        spans.add(name, a, b, setup_id)
    phases = {"setup_s": ready - spawn, "session": t_session - t_loaded,
              "registry": t_loaded - t_load, "import": t_load - spawn}

    passes: list[dict] = []
    # memory is sampled only in a traced run, whose figures it joins
    with RssSampler() if args["trace"] else contextlib.nullcontext() as rss:
        if args["trace"]:
            # untraced, traced, untraced: the first pass is the one an
            # untraced run times, and still pays the remaining cold
            # costs; the tracing overhead compares the traced pass with
            # the untraced one after it (a little warmer still, so the
            # overhead reads slightly high)
            for traced in (False, True, False):
                passes.append(run_pass(run, status, spans, traced))
        else:
            while not passes or passes[-1]["end"] - passes[0]["start"] < args["seconds"]:
                passes.append(run_pass(run, status, spans, False))
    t_check = time.time()
    checker = Checker(run)
    for p in passes:
        for op in p["ops"]:
            checker.check(op)
    phases["check"] = time.time() - t_check
    spans.add("check", t_check, t_check + phases["check"])

    def units(op: dict) -> int:
        return len(op.get("batches") or [None])

    all_ops = [o for p in passes for o in p["ops"]]
    timed = [p for p in passes if not p["traced"]]
    lat = [t for p in timed for o in p["ops"] for t in latencies(o)]
    result = {
        "attempted": sum(units(o) for o in all_ops),
        "failed": sum(units(o) for o in all_ops if o["failed"]),
        "errors": run.errors,
        "e2e": {
            "setup_s": phases["setup_s"],
            "wall_s": statistics.median(p["end"] - p["start"] for p in timed),
            "op_p50_s": statistics.median(lat),
            "rows_per_s": statistics.median(p["rows"] / (p["end"] - p["start"]) for p in timed),
        },
        "n_ops": len(lat), "passes": len(passes), "phases": phases,
        "op_times": [(o["op"], t) for o in all_ops for t in latencies(o)],
    }
    if args["trace"]:
        result["layers"] = layer_metrics(passes[1], passes[2]["end"] - passes[2]["start"], phases)
        result["layers"]["process.peak_rss_mb"] = rss.peak / 2**20
        spans.write(os.path.join(args["trace_dir"], f"{args['run_id']}.json"))
    with open(args["result"], "w") as fh:
        json.dump(result, fh)
    spark.stop()


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
