"""Extraction and curation benchmark for trek_spark.

    python3 perfbench/run.py --workload articles|chat_turns|curate|library \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run generates its inputs from the seed
under ``.perfbench_work/`` in the current directory, starts a Spark session
with ``nproc`` local cores and warms it with one call of the same job on a
small slice of the workload (together: ``setup_s``), then calls the job
(one client, closed loop) until ``--seconds`` have passed. Extraction
workloads then run the library path (``extract_one`` in a pool of ``nproc``
processes) over the same turns. The ``library`` workload runs that pool
alone, without Spark, over the ``articles`` turns: its set-up is the pool's
spawn and warm-up, and it makes passes until ``--seconds`` have passed.
Every output is checked; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the Spark event log
and the document-phase tracer are on and the metrics are the per-layer
ones. The exit code is 0 only when every correctness check passed.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# turns through the Spark job
SIZES = {"articles": 400, "chat_turns": 3000}
# the library workload runs this many more articles turns than the job, so
# that doc_ms has at least 1,000 samples
LIBRARY_EXTRA = 600
CURATE_DOCS = 5000
CURATE_REF_SEED = 0
CURATE_WARM_DOCS = 400
# one warm-up curation of the reference input; the first timed call on the
# full input still runs 10-40% slower than the next ones, so every run times
# at least three and reports their median
CURATE_WARMUPS = 1
CURATE_MIN_CALLS = 3
# pool spawn + warm-up is cheap: repeat it and report the median
LIBRARY_SETUPS = 5
WARM_TURNS = 64


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """Paths, settings and Spark session lifecycle of one benchmark run."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.cores = nproc()
        self.trace = bool(args.trace)
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.events = os.path.join(self.work, "events")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.events)
        self.session_starts: list[float] = []
        self.session_ready = 0.0  # perf_counter when get_spark returned
        self.sites = None
        self._configure_env()

    def _configure_env(self) -> None:
        # temporary files stay inside the checkout too
        tmp = self.path("tmp")
        os.makedirs(tmp)
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("wh"),
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.events,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                          for k, v in conf.items())
        pypath = os.environ.get("PYTHONPATH", "")
        os.environ.update({
            "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": self.root + (os.pathsep + pypath if pypath else ""),
            "SPARK_LOCAL_DIRS": self.path("local"),
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(self.cores),
        })
        for knob in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE",
                     "SPARK_GRAFT_DRIVER_MEM"):
            os.environ.pop(knob, None)  # the program's defaults apply
        if self.root not in sys.path:
            sys.path.insert(0, self.root)
        # time every session start, including the ones jobs/ make
        from trek_spark.spark import session
        get_spark = session.get_spark

        def timed_get_spark(*a, **k):
            t0 = time.perf_counter()
            try:
                return get_spark(*a, **k)
            finally:
                self.session_ready = time.perf_counter()
                self.session_starts.append(self.session_ready - t0)

        session.get_spark = timed_get_spark
        if self.trace:
            from eventlog import CallSites
            self.sites = CallSites(self.root).install()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for both."""
        from pyspark import SparkContext
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def cleanup(self) -> None:
        if self.sites is not None:
            self.sites.uninstall()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        with contextlib.suppress(OSError):
            os.rmdir(parent)  # only when no other run is using it


# ------------------------------------------------------------ process memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _python_descendants(pid: int) -> list[int]:
    """Python processes below ``pid`` that are not direct children (the
    Spark workers sit under the JVM, which is our child)."""
    kids = _children()
    out, todo = [], [(c, 1) for c in kids.get(pid, [])]
    while todo:
        p, depth = todo.pop()
        if depth >= 2:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    exe = f.read().split(b"\0", 1)[0]
            except OSError:
                exe = b""
            if b"python" in exe:
                out.append(p)
        todo.extend((c, depth + 1) for c in kids.get(p, []))
    return out


class RssSampler:
    """Highest VmHWM (peak resident set) over the Spark Python workers,
    sampled from /proc while a job runs."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        for p in _python_descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
                            break
            except OSError:
                continue

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent ends first (Spark's Python daemon and workers when
    the JVM exits) is re-parented here, so ``stop_children`` can wait for
    it."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_children(grace: float = 20.0) -> None:
    """Stop multiprocessing's resource tracker, then wait until every child
    and adopted orphan has ended: SIGTERM after ``grace`` seconds, SIGKILL
    five seconds later."""
    from multiprocessing import resource_tracker
    with contextlib.suppress(Exception):
        resource_tracker._resource_tracker._stop()
    start, sent = time.monotonic(), None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > grace + 5 else
               signal.SIGTERM if waited > grace else None)
        if sig is not None and sig != sent:
            for child in _children().get(os.getpid(), []):
                with contextlib.suppress(OSError):
                    os.kill(child, sig)
            sent = sig
        time.sleep(0.05)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this host since
    ``before``: a run with a high share was measured on a busy host."""
    steal, total = cpu_jiffies()
    return (steal - before[0]) / max(1, total - before[1])


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def dir_files(path: str, suffix: str) -> int:
    return sum(1 for _, _, files in os.walk(path)
               for name in files if name.endswith(suffix))


# ----------------------------------------------------------- extraction

def write_transcripts(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us")),
                        ("url", pa.string())])
    cols = {c: [r[c] for r in rows] for c in gen.TRANSCRIPT_COLUMNS}
    pq.write_table(pa.table(cols, schema=schema), path)


def read_turns(out_dir: str) -> list[dict]:
    import pyarrow.dataset as ds
    from library import error_class
    table = ds.dataset(os.path.join(out_dir, "turns"), format="parquet",
                       partitioning="hive").to_table(columns=[
                           "conv_id", "turn_idx", "extracted_text",
                           "extractor_type", "title", "error", "part_bucket",
                           "part_id", "batch_idx", "wall_ms"])
    rows = table.to_pylist()
    for r in rows:
        r["error_class"] = error_class(r.pop("error"))
    return rows


def run_extraction(run: Run, kind: str) -> tuple:
    """One extraction run. Returns (problems, failed, attempted, values)."""
    from trek_spark.spark.job import run_extraction_job

    seed = run.args.seed
    make = gen.articles if kind == "articles" else gen.chat_turns
    turns = make(seed, SIZES[kind])
    warm = warm_turns(kind)
    write_transcripts(turns, run.path("input.parquet"))
    write_transcripts(warm, run.path("warm.parquet"))
    in_bytes = sum(len((t["text"] or "").encode()) for t in turns)

    from trek_spark.spark import session
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLocalProperty("perfbench.phase", "warmup")
    # one wave is enough to run every code path of the job once
    run_extraction_job(spark, spark.read.parquet(run.path("warm.parquet")),
                       run.path("warm"), waves=1)
    setup_s = time.perf_counter() - t0

    df = spark.read.parquet(run.path("input.parquet"))
    walls, digests, rss = [], [], RssSampler()
    jiffies = cpu_jiffies()
    deadline = time.perf_counter() + run.args.seconds
    with rss:
        while True:
            i = len(walls)
            out = run.path(f"out{i}")
            spark.sparkContext.setLocalProperty("perfbench.phase", f"timed{i}")
            t0 = time.perf_counter()
            run_extraction_job(spark, df, out)
            walls.append(time.perf_counter() - t0)
            if time.perf_counter() >= deadline:
                break
            digests.append(check.extraction_digest(read_turns(out)))
            shutil.rmtree(out)
    steal = steal_share(jiffies)
    out_rows = read_turns(out)
    out_bytes = dir_bytes(out)
    layer = {}
    if run.trace:
        run.shutdown()  # flushes the event log
        from eventlog import EventLog, extraction_metrics
        layer = extraction_metrics(EventLog.latest(run.events),
                                   f"timed{len(walls) - 1}", walls[-1])
        layer["write.files"] = dir_files(out, ".parquet")
    else:
        run.shutdown()

    lib, lib_wall, phases = library_path(run, turns, warm)
    problems, failed = check.check_extraction(turns, out_rows, lib)
    digest = check.extraction_digest(out_rows)
    problems += [f"job call {i}: output digest differs from the last call"
                 for i, d in enumerate(digests) if d != digest]

    lib_rate = len(turns) / lib_wall
    values = {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(len(turns) / w for w in walls),
        "out_bytes_ratio": out_bytes / in_bytes,
        "job_walls_s": [round(w, 3) for w in walls],
        "host_steal_share": steal,
        "lib_docs_per_s": lib_rate,
        "error_share": check.error_mismatches(turns, out_rows) / len(turns),
        "py_rss_mb": rss.peak_kb / 1024,
        "session.start_s": run.session_starts[0],
    }
    values["spark_eff"] = values["rows_per_s"] / lib_rate
    print(f"output_digest {kind} seed={seed} {digest}")
    if run.trace:
        values.update(phase_metrics(run, turns, phases, lib))
        values.update(batch_metrics(len(turns), out_rows))
        values.update(layer)
        values["udf.py_share"] = values["udf.busy_s"] / max(
            1e-9, values.pop("_extract_task_s"))
        values["trace.rows_per_s"] = values["rows_per_s"]
    return problems, failed, len(turns), values


def warm_turns(kind: str) -> list[dict]:
    """The warm-up slice: WARM_TURNS turns of the workload made from seed 0
    (a stream the timed input never uses), the same for every seed, so that
    the set-up cost does not depend on the seed."""
    if kind == "articles":
        return gen.articles(0, WARM_TURNS, stream=2)
    return gen.chat_turns(0, WARM_TURNS)


def _items(turns: list[dict]) -> list[tuple]:
    return [(i, t["text"], t["url"], t["tool"]) for i, t in enumerate(turns)]


def library_rows(turns: list[dict], res: dict) -> list[dict]:
    """Library-path results as output rows of the shape the checker takes."""
    return [{"conv_id": turns[i]["conv_id"],
             "turn_idx": turns[i]["turn_idx"], "extracted_text": row[6],
             "extractor_type": row[2], "title": row[3],
             "error_class": row[4]} for i, row in res.items()]


def library_path(run: Run, turns: list[dict], warm: list[dict]):
    """``extract_one`` in a pool of nproc processes: the warm-up turns, then
    the job's turns (timed). With tracing a second pool repeats this with
    the phase tracer on. Returns (results by turn index, wall seconds of
    the job's turns, traced phase data or None)."""
    from library import LibraryPool
    items = _items(turns)
    chunk = 4 if run.args.workload == "articles" else 64
    pools = [(False, LibraryPool(run.root, run.cores, trace=False))]
    if run.trace:
        pools.append((True, LibraryPool(run.root, run.cores, trace=True)))
    phases, finished = None, False
    try:
        for traced, pool in pools:
            pool.run(_items(warm), chunk)
            res, spans, counters, wall = pool.run(items, chunk)
            if not traced:
                lib, lib_wall = res, wall
            else:
                phases = {"results": res, "spans": spans,
                          "counters": counters}
        finished = True
    finally:
        for _, pool in pools:
            pool.close(finished)
    return lib, lib_wall, phases


def phase_metrics(run, turns, phases, lib: dict) -> dict:
    """Document-phase metrics of a traced library pass, with the tracing
    overhead against the untraced pass ``lib``; writes the spans to
    ``.perfbench_work/trace-<workload>.jsonl``."""
    from library import PHASE_NAMES, self_times
    n = len(turns)
    lib_ms = sum(row[5] for row in lib.values()) / len(lib) / 1e6
    spans = phases["spans"]
    with open(os.path.join(os.path.dirname(run.work),
                           f"trace-{run.args.workload}.jsonl"), "w") as f:
        for doc, sid, parent, name, t0, t1 in spans:
            t = turns[doc]
            f.write(json.dumps({"conv_id": t["conv_id"],
                                "turn_idx": t["turn_idx"], "id": sid,
                                "parent": parent, "name": name,
                                "start_ns": t0, "end_ns": t1}) + "\n")
    st = self_times(spans)
    docs_ms = sum(r[5] for r in phases["results"].values()) / n / 1e6
    m = {}
    for name in PHASE_NAMES:
        m[f"{name}_ms"] = sum(st[name].values()) / n / 1e6
    m["extract.doc_ms"] = docs_ms
    c = phases["counters"]
    m["extract.extractor_hit_share"] = (c["extractor_hits"]
                                        / max(1, c["extractor_calls"]))
    m["extract.retry_share"] = sum(
        1 for v in c["cleanup_passes"].values() if v > 1) / n
    m["trace.overhead_share"] = docs_ms / lib_ms - 1
    return m


def batch_metrics(n: int, out_rows: list[dict]) -> dict:
    """UDF batch metrics of a job's output lineage columns."""
    m = {}
    # a batch is (wave, partition, batch index); the job's default four
    # waves take the buckets round-robin
    batches = {(r["part_bucket"] % 4, r["part_id"], r["batch_idx"]):
               r["wall_ms"] for r in out_rows}
    m["udf.batches"] = len(batches)
    m["udf.rows_per_batch"] = n / max(1, len(batches))
    m["udf.busy_s"] = sum(batches.values()) / 1000.0
    return m


def run_library(run: Run) -> tuple:
    """One library-path run, no Spark: ``extract_one`` in a pool of nproc
    processes over the ``articles`` workload's turns (the job's and the
    extra ones). Returns (problems, failed, attempted, values)."""
    from library import LibraryPool
    seed = run.args.seed
    turns = (gen.articles(seed, SIZES["articles"])
             + gen.articles(seed, LIBRARY_EXTRA, stream=1))
    items, warm = _items(turns), _items(warm_turns("articles"))
    in_bytes = sum(len((t["text"] or "").encode()) for t in turns)
    chunk = 4
    setups, walls, digests = [], [], []
    pool, finished = None, False
    try:
        # set-up: spawn the pool and warm it on a small slice
        for _ in range(LIBRARY_SETUPS):
            if pool is not None:
                pool.close()
            t0 = time.perf_counter()
            pool = LibraryPool(run.root, run.cores, trace=False)
            pool.run(warm, chunk)
            setups.append(time.perf_counter() - t0)
        jiffies = cpu_jiffies()
        deadline = time.perf_counter() + run.args.seconds
        while True:
            res, _, _, wall = pool.run(items, chunk)
            walls.append(wall)
            digests.append(check.extraction_digest(library_rows(turns, res)))
            if time.perf_counter() >= deadline:
                break
        steal = steal_share(jiffies)
        finished = True
    finally:
        if pool is not None:
            pool.close(finished)
    rows = library_rows(turns, res)
    problems, failed = check.check_extraction(turns, rows, None)
    problems += [f"pass {i}: output digest differs from the last pass"
                 for i, d in enumerate(digests) if d != digests[-1]]
    print(f"output_digest library seed={seed} {digests[-1]}")
    out_bytes = sum(len(r["extracted_text"].encode()) for r in rows
                    if r["extracted_text"])
    doc_ms = [row[5] / 1e6 for row in res.values()]
    values = {"setup_s": statistics.median(setups),
              "rows_per_s": statistics.median(len(turns) / w for w in walls),
              "out_bytes_ratio": out_bytes / in_bytes,
              "setups_s": [round(x, 3) for x in setups],
              "pass_walls_s": [round(w, 3) for w in walls],
              "host_steal_share": steal,
              "error_share": check.error_mismatches(turns, rows) / len(turns),
              "doc_ms.p50": statistics.median(doc_ms),
              "doc_ms.p99": check.percentile(doc_ms, 0.99) or 0.0,
              "doc_ms.samples": len(doc_ms)}
    values["lib_docs_per_s"] = values["rows_per_s"]
    if run.trace:
        pool, finished = LibraryPool(run.root, run.cores, trace=True), False
        try:
            pool.run(warm, chunk)
            traced, spans, counters, wall = pool.run(items, chunk)
            finished = True
        finally:
            pool.close(finished)
        values.update(phase_metrics(run, turns, {
            "results": traced, "spans": spans, "counters": counters}, res))
        values["trace.rows_per_s"] = len(turns) / wall
        if any(traced[i][1] != row[1] for i, row in res.items()):
            problems.append("traced pass output differs from the untraced")
    return problems, failed, len(turns), values


# --------------------------------------------------------------- curate

def load_curate_main():
    spec = importlib.util.spec_from_file_location(
        "perfbench_curate_job", os.path.join("jobs", "curate_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def write_documents(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(path, "documents.parquet"))


def curate_once(run: Run, main, input_dir: str, output_dir: str):
    """One ``curate_job.main`` call. Returns (ledger, doc ids, call wall s,
    job s). The job time runs from the job's session start returning to its
    ``spark.stop()``: it leaves out session start and stop, whose PySpark
    accumulator-server shutdown waits for the server's 0.5 s poll tick and
    so rounds every call up to a step of 0.5 s."""
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    stop, stopped = SparkSession.stop, []

    def timed_stop(session):
        stopped.append(time.perf_counter())
        return stop(session)

    argv, sys.argv = sys.argv, ["curate_job.py", "--input", input_dir,
                                "--output", output_dir]
    SparkSession.stop = timed_stop
    buf = io.StringIO()
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(buf):
            main()
    finally:
        sys.argv = argv
        SparkSession.stop = stop
    wall = time.perf_counter() - t0
    ledger = json.loads(buf.getvalue().strip().splitlines()[-1])
    ids = pq.read_table(os.path.join(output_dir, "documents"),
                        columns=["doc_id"]).column("doc_id").to_pylist()
    return ledger, ids, wall, stopped[0] - run.session_ready


def run_curate(run: Run) -> tuple:
    """One curation run. Returns (problems, failed, attempted, values)."""
    main = load_curate_main()
    rows, plan = gen.curate_docs(run.args.seed, CURATE_DOCS)
    expected = gen.curate_expectation(rows, plan)
    write_documents(rows, run.path("input"))
    in_bytes = sum(len(r["text"].encode()) for r in rows)
    ref_rows, ref_plan = gen.curate_docs(CURATE_REF_SEED, CURATE_WARM_DOCS)
    write_documents(ref_rows, run.path("warm"))
    with open(os.path.join(HERE, "expected", "curate_ref.json")) as f:
        ref = json.load(f)

    # set-up: session start plus CURATE_WARMUPS curations of the reference
    # input, whose output must match the digest recorded on the seed commit
    problems, setup_s = [], 0.0
    ref_expected = gen.curate_expectation(ref_rows, ref_plan)
    for k in range(CURATE_WARMUPS):
        ledger, ids, wall, _ = curate_once(run, main, run.path("warm"),
                                           run.path(f"warm{k}"))
        setup_s += wall
        problems += [f"reference input: {x}" for x in
                     check.check_curate(ledger, ids, ref_expected)[0]]
        digest = check.curate_digest(ledger, ids)
        if digest != ref["digest"]:
            problems.append(f"reference input: digest {digest} != "
                            f"recorded {ref['digest']}")

    walls, jiffies = [], cpu_jiffies()
    deadline = time.perf_counter() + run.args.seconds
    while True:
        out = run.path(f"out{len(walls)}")
        if run.sites is not None:
            run.sites.calls.clear()  # keep the last call's only
        ledger, ids, _, job_s = curate_once(run, main, run.path("input"),
                                            out)
        walls.append(job_s)
        if (time.perf_counter() >= deadline
                and len(walls) >= CURATE_MIN_CALLS):
            break
        p, _ = check.check_curate(ledger, ids, expected)
        problems += [f"job call {len(walls) - 1}: {x}" for x in p]
        shutil.rmtree(out)
    steal = steal_share(jiffies)
    p, failed = check.check_curate(ledger, ids, expected)
    problems += p
    print(f"output_digest curate seed={run.args.seed} "
          f"{check.curate_digest(ledger, ids)}")
    values = {"setup_s": setup_s,
              "rows_per_s": statistics.median(CURATE_DOCS / w
                                              for w in walls),
              "out_bytes_ratio": dir_bytes(os.path.join(out, "documents"))
              / in_bytes,
              "job_walls_s": [round(w, 3) for w in walls],
              "host_steal_share": steal,
              "session.start_s": run.session_starts[0]}
    run.shutdown()
    if run.trace:
        from eventlog import EventLog, curate_metrics
        values.update(curate_metrics(EventLog.latest(run.events), run.sites))
        values["trace.rows_per_s"] = values["rows_per_s"]
    return problems, failed, CURATE_DOCS, values


# ----------------------------------------------------------------- main

def result(spec: dict, trace: bool, problems, failed, attempted,
           values: dict) -> dict:
    """The result object: every metric of the mode by name, with its unit
    from BENCHMARK.json. Per-layer metrics a workload does not exercise
    are 0; every other value is printed on its own line first."""
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        value = values.pop(m["name"], 0 if trace else None)
        if value is None:
            raise KeyError(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for name, value in values.items():
        print(f"{name} {value}")
    for p in problems[:50]:
        print(f"CHECK FAILED: {p}")
    if len(problems) > 50:
        print(f"CHECK FAILED: ... {len(problems) - 50} more")
    return {"correct": not problems, "attempted": attempted,
            "failed": failed if problems else 0, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("articles", "chat_turns", "curate",
                             "library"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    needed = ["BENCHMARK.json", os.path.join("trek_spark", "spark", "job.py"),
              os.path.join("jobs", "curate_job.py")]
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    run = Run(args, root)
    try:
        if args.workload == "curate":
            out = run_curate(run)
        elif args.workload == "library":
            out = run_library(run)
        else:
            out = run_extraction(run, args.workload)
    finally:
        try:
            run.shutdown()
        finally:
            stop_children()
            run.cleanup()
    res = result(spec, run.trace, *out)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
