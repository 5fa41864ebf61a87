"""The three workloads: backfill, trickle and analytics.

Each workload function takes a :class:`Run` and returns a
:class:`Result`. Everything the package is asked to do goes through its
public functions; everything timed is timed here, and every output
check runs between timed regions.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from checks import Oracle, canonical, check_ingest, serving_fingerprint
from inputs import (
    envelope_paths,
    expected_serving,
    load_expected,
    write_envelopes,
    write_panel_tables,
)
from spans import Tracer, install_pipeline_wrappers, job_group, progress_listener

#: the maximum heap of the one local JVM, well below the 15 GiB of RAM
DRIVER_MEMORY = "2g"

# backfill: one closed-loop client draining a fixed backlog, again and again
BACKFILL_FILES = 4
BACKFILL_EVENTS_PER_FILE = 3_000
#: fewer drains would leave p90 an interpolation between two samples
BACKFILL_MIN_DRAINS = 5
#: set-up drains a small input cold, then the backlog once, both untimed:
#: the first drain of the backlog is still slower than the ones after it
WARMUP_EVENTS = 500

# trickle: open loop, one file per tick
TRICKLE_FILES_PER_S = 4.0
TRICKLE_EVENTS_PER_FILE = 100
#: untimed files, one micro-batch each, before the generator starts: the
#: first batch is cold, the second lets the JIT settle
TRICKLE_WARMUP_FILES = 2
#: a file renamed later than this after its due time marks the run invalid
#: (``valid`` in the stamp); it does not make the run's outputs wrong
TRICKLE_MAX_LATENESS_S = 0.1

# analytics: a warehouse of several micro-batches, then warm reference
# queries; a traced run adds one cold pass over the operator panel
ANALYTICS_FILES = 2
ANALYTICS_EVENTS_PER_FILE = 1_000
#: untimed passes over the five queries before the timed rounds: the
#: queries are short, so the JIT state of the driver code sets their speed
ANALYTICS_WARMUP_PASSES = 4
#: one registry entry per operator module the panel covers
PANEL = (
    "text_keywords",  # operators.text
    "dedup_minhash_lsh",  # operators.dedup
    "ann_topk_ivf",  # operators.similarity
    "streaming_dedup_replay",  # streaming.registry_stream
    "q9_red_parts_profit",  # analytics
)

WAIT_TIMEOUT_S = 90

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Result:
    """What a workload measured. ``latencies`` are per operation, in
    seconds; ``work`` / ``busy_s`` is the throughput."""

    latencies: list[float] = field(default_factory=list)
    work: float = 0.0
    busy_s: float = 0.0
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    layer_phase: str = "measure"


class Run:
    """One benchmark process: its seed, time budget, tracer, scratch
    directory and the live Spark session.

    A workload calls :meth:`setup`, then :meth:`begin_measure` and
    :meth:`end_measure` around what it measures, and checks its outputs
    after that, so the checks' memory is not in the peak RSS.
    """

    def __init__(self, seed: int, seconds: float, tracer: Tracer, work: str, t0: float):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.t_process = t0
        self.gen_s = 0.0
        self.spark = None
        self.steal_share = 0.0
        if tracer.enabled:
            install_pipeline_wrappers(tracer)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, *calls: tuple) -> None:
        """Make each ``(function, *args)`` call from :mod:`inputs` in one
        fresh Python process and wait for it, so the benchmark's inputs
        never occupy this process's memory. Its time is left out of
        ``setup_s``."""
        t0 = time.perf_counter()
        path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "inputs.py"),
                json.dumps([(fn.__name__, *args) for fn, *args in calls]),
            ],
            env={**os.environ, "PYTHONPATH": path},
            check=True,
        )
        self.gen_s += time.perf_counter() - t0

    def setup(self, prepare) -> float:
        """Start the session, run a first job and the workload's
        ``prepare()`` warm-up; returns the time from process start to
        here, less the input generation time."""
        from aws_kinesis_data_ingestion_restapi_spark import get_spark

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                    # no hsperfdata files outside the checkout
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    ),
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.first_job"):
            self.spark.range(1000).selectExpr("sum(id)").collect()
        if self.tracer.enabled:
            self.spark.streams.addListener(progress_listener(self.tracer))
        prepare()
        return time.perf_counter() - self.t_process - self.gen_s

    def _pids(self) -> list[int]:
        """This process and the JVM it launched. Python workers are left
        out: how many are alive at any moment depends on scheduling."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return [os.getpid()] + ([proc.pid] if proc is not None else [])

    def begin_measure(self) -> None:
        """Reset the peak-RSS high-water marks (``clear_refs`` 5), so
        they cover measuring only, not set-up or input generation."""
        for pid in self._pids():
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")
        self.tracer.set_phase("measure")
        self.cpu_at_measure = _cpu_times()

    def end_measure(self, res: Result) -> None:
        """Read the high-water marks into ``res.peak_rss_mb`` and the
        share of the machine's CPU time the hypervisor took away while
        measuring (``steal`` in /proc/stat)."""
        kb = 0
        for pid in self._pids():
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        res.peak_rss_mb = kb / 1024
        delta = [b - a for a, b in zip(self.cpu_at_measure, _cpu_times())]
        self.steal_share = delta[7] / max(1, sum(delta[:8]))

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def versions(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
        }


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _ingest_dirs(run: Run, name: str) -> dict[str, str]:
    base = run.path(name)
    return {
        "warehouse": os.path.join(base, "warehouse"),
        "checkpoint": os.path.join(base, "checkpoint"),
        "serving_path": os.path.join(base, "serving"),
        "errors_path": os.path.join(base, "errors"),
    }


def _check(dirs: dict, files, expected_store, known_good=None) -> list[str]:
    return check_ingest(
        dirs["warehouse"],
        dirs["errors_path"],
        dirs["serving_path"],
        n_good=sum(len(f.good) for f in files),
        n_malformed=sum(f.n_malformed for f in files),
        expected_store=expected_store,
        known_good=known_good,
    )


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


def backfill(run: Run) -> Result:
    """Closed loop, one client: drain the same seeded backlog through
    ``run_pipeline_once`` into fresh outputs, again and again."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import (
        run_pipeline_once,
    )

    backlog_dir = run.path("backlog")
    warm_dir = run.path("warmup-input")
    run.generate(
        (write_envelopes, backlog_dir, BACKFILL_FILES, BACKFILL_EVENTS_PER_FILE, run.seed),
        (write_envelopes, warm_dir, 1, WARMUP_EVENTS, run.seed + 1),
    )

    res = Result()

    def drain(src: str, name: str) -> None:
        run_pipeline_once(run.spark, src, **_ingest_dirs(run, name), timeout_s=WAIT_TIMEOUT_S)

    def prepare() -> None:
        t0 = time.perf_counter()
        drain(warm_dir, "warmup-cold")
        res.info["cold_s"] = time.perf_counter() - t0
        drain(backlog_dir, "warmup-backlog")

    res.setup_s = run.setup(prepare)
    n_events = BACKFILL_FILES * BACKFILL_EVENTS_PER_FILE
    done = []
    i, spent = 0, 0.0
    run.begin_measure()
    # the budget is drain time; a drain starts only if one more of
    # average length fits
    while i < BACKFILL_MIN_DRAINS or spent * (i + 1) / i <= run.seconds:
        name = f"drain-{i}"
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            drain(backlog_dir, name)
        except Exception:  # noqa: BLE001 - a failed drain is counted, not fatal
            traceback.print_exc()
            res.failed += 1
        else:
            dt = time.perf_counter() - t0
            res.latencies.append(dt)
            res.work += n_events
            res.busy_s += dt
            done.append(name)
        spent += time.perf_counter() - t0
        i += 1
    run.end_measure(res)

    # one availableNow batch takes a whole input directory
    warm = load_expected(warm_dir)
    res.problems += _check(
        _ingest_dirs(run, "warmup-cold"), warm, expected_serving([warm[0].good])
    )
    # after the first drain of the backlog passes the full check, a
    # drain whose serving store holds the same rows needs no pure-Python
    # comparison
    files = load_expected(backlog_dir)
    store = expected_serving([[e for f in files for e in f.good]])
    known_good = None
    for name in ["warmup-backlog", *done]:
        dirs = _ingest_dirs(run, name)
        problems = _check(dirs, files, store, known_good)
        if problems:
            res.problems += problems
            res.failed += name in done
        elif known_good is None:
            known_good = serving_fingerprint(dirs["serving_path"])
    res.info |= {
        "backlog_events": n_events,
        "backlog_files": BACKFILL_FILES,
        "warmup_events": WARMUP_EVENTS,
        "drains": len(res.latencies),
    }
    return res


# ---------------------------------------------------------------------------
# trickle
# ---------------------------------------------------------------------------


def _source_log(checkpoint: str) -> dict[str, int]:
    """file name → batch id, from the file source's metadata log
    (``sources/0/<batchId>``, compacted every few batches)."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name), encoding="utf-8") as f:
                lines = f.read().splitlines()[1:]  # first line is the version
        except FileNotFoundError:  # compaction removed it meanwhile
            continue
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _log_mtime(checkpoint: str, log: str, batch_id: int) -> float | None:
    try:
        return os.stat(os.path.join(checkpoint, log, str(batch_id))).st_mtime
    except FileNotFoundError:
        return None


def _wait_committed(checkpoint: str, names: list[str], timeout: float) -> dict[str, int]:
    """Wait until every file in ``names`` sits in a committed batch."""
    deadline = time.monotonic() + timeout
    while True:
        log = _source_log(checkpoint)
        if all(n in log for n in names) and all(
            _log_mtime(checkpoint, "commits", log[n]) is not None for n in names
        ):
            return log
        if time.monotonic() > deadline:
            raise TimeoutError(f"files not committed within {timeout}s")
        time.sleep(0.02)


class _Generator(threading.Thread):
    """The open-loop load generator: renames one staged file into the
    source directory per tick, on a fixed schedule that does not slow
    down when the pipeline does."""

    def __init__(self, staged: list[str], rate: float, start_at: float) -> None:
        super().__init__(name="trickle-generator", daemon=True)
        self.staged = staged
        self.due = [start_at + i / rate for i in range(len(staged))]
        self.actual: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for path, due in zip(self.staged, self.due):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                head, name = os.path.split(path)
                os.rename(path, os.path.join(head, name.lstrip(".")))
                self.actual.append(time.time())
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            self.error = exc


def trickle(run: Run) -> Result:
    """Open loop: one generator thread renames one envelope file per
    tick into the source directory of a running ``IngestionPipeline``
    (default trigger), at a fixed rate well below capacity."""
    from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
        read_envelope_stream,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import (
        IngestionPipeline,
    )

    n_warm = TRICKLE_WARMUP_FILES
    n_timed = max(1, math.ceil(run.seconds * TRICKLE_FILES_PER_S))
    dirs = _ingest_dirs(run, "trickle")
    source = run.path("trickle", "source")
    # staged under hidden names, which the file source skips; the
    # generator's rename is what publishes a file
    run.generate(
        (write_envelopes, source, n_warm + n_timed, TRICKLE_EVENTS_PER_FILE, run.seed, True)
    )
    staged = envelope_paths(source, n_warm + n_timed, hidden=True)

    res = Result()
    ck = dirs["checkpoint"]
    names = [os.path.basename(p).lstrip(".") for p in staged]
    state = {}

    def prepare() -> None:
        pipeline = IngestionPipeline(
            run.spark, dirs["warehouse"], dirs["serving_path"], dirs["errors_path"]
        )
        state["query"] = pipeline.start(
            read_envelope_stream(run.spark, source), checkpoint=ck
        )
        for i in range(n_warm):
            t0 = time.time()
            os.rename(staged[i], os.path.join(source, names[i]))
            log = _wait_committed(ck, names[i : i + 1], WAIT_TIMEOUT_S)
            if i == 0:
                res.info["cold_s"] = _log_mtime(ck, "commits", log[names[0]]) - t0

    try:
        res.setup_s = run.setup(prepare)
        run.begin_measure()
        gen = _Generator(staged[n_warm:], TRICKLE_FILES_PER_S, time.time() + 0.05)
        gen.start()
        gen.join(run.seconds + WAIT_TIMEOUT_S)
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"trickle generator failed: {gen.error!r}")
        log = _wait_committed(ck, names, WAIT_TIMEOUT_S)
        run.end_measure(res)
    finally:
        if "query" in state:
            state.pop("query").stop()

    lateness = [a - d for a, d in zip(gen.actual, gen.due)]
    late = sum(1 for x in lateness if x > TRICKLE_MAX_LATENESS_S)
    res.attempted = n_timed
    timed_names = names[n_warm:]
    for name, due in zip(timed_names, gen.due):
        res.latencies.append(_log_mtime(ck, "commits", log[name]) - due)
    timed_batches = sorted({log[n] for n in timed_names})
    for b in timed_batches:
        res.busy_s += _log_mtime(ck, "commits", b) - _log_mtime(ck, "offsets", b)
    res.work = n_timed * TRICKLE_EVENTS_PER_FILE

    files = load_expected(source)
    by_batch: dict[int, list[dict]] = {}
    for f, name in zip(files, names):
        by_batch.setdefault(log[name], []).extend(f.good)
    problems = _check(
        dirs, files, expected_serving([by_batch[b] for b in sorted(by_batch)])
    )
    if problems:
        res.problems += problems
        res.failed = res.attempted
    if late:
        # a late rename says the generator was held up (a stalled host,
        # or this process), not that an output is wrong: the run is
        # flagged, not failed, and latencies still count from due times
        sys.stderr.write(
            f"trickle: {late} of {n_timed} files published more than "
            f"{TRICKLE_MAX_LATENESS_S}s late; run marked invalid\n"
        )
    res.info |= {
        "files_per_s": TRICKLE_FILES_PER_S,
        "events_per_file": TRICKLE_EVENTS_PER_FILE,
        "timed_files": n_timed,
        "batches": len(timed_batches),
        "generator_lateness_max_s": max(lateness),
        "generator_lateness_p50_s": statistics.median(lateness),
        "generator_late_files": late,
        "valid": late == 0,
    }
    return res


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def analytics(run: Run) -> Result:
    """Closed loop, one client: the five reference queries over a
    warehouse the pipeline's own sinks wrote, for warm rounds. A traced
    run then makes one cold pass over the operator panel."""
    from aws_kinesis_data_ingestion_restapi_spark.catalog import (
        register_derived_tables,
        run_reference_sql,
    )
    from aws_kinesis_data_ingestion_restapi_spark.queries import REFERENCE_SQL
    from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
        read_envelope_stream,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import (
        IngestionPipeline,
    )

    tracer = run.tracer
    source = run.path("source")
    panel_dir = run.path("panel-tables")
    run.generate(
        (write_envelopes, source, ANALYTICS_FILES, ANALYTICS_EVENTS_PER_FILE, run.seed),
        *([(write_panel_tables, panel_dir, run.seed)] if tracer.enabled else []),
    )
    dirs = _ingest_dirs(run, "warehouse-build")

    res = Result(layer_phase="setup")

    def execute(name: str, sql: str) -> tuple[list, list[str]]:
        df = run_reference_sql(run.spark, sql)
        if tracer.enabled:
            with tracer.span(f"queries.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"queries.{name}.exec"):
                return df.collect(), df.columns
        return df.collect(), df.columns

    def prepare() -> None:
        # several micro-batches (one file each), so readers see the
        # real bid=<batch>/Hive layout
        pipeline = IngestionPipeline(
            run.spark, dirs["warehouse"], dirs["serving_path"], dirs["errors_path"]
        )
        query = pipeline.start(
            read_envelope_stream(run.spark, source, max_files_per_trigger=1),
            checkpoint=dirs["checkpoint"],
            trigger={"availableNow": True},
        )
        try:
            if not query.awaitTermination(WAIT_TIMEOUT_S):
                raise TimeoutError("warehouse build did not finish")
        finally:
            if query.isActive:
                query.stop()
        with tracer.span("catalog.register_derived_tables"):
            register_derived_tables(run.spark, dirs["warehouse"])
        for _ in range(ANALYTICS_WARMUP_PASSES):
            for name, sql in REFERENCE_SQL.items():
                execute(name, sql)

    res.setup_s = run.setup(prepare)
    oracle = Oracle()
    try:
        oracle.warehouse_views(dirs["warehouse"])
        want = {name: oracle.result(sql) for name, sql in REFERENCE_SQL.items()}
    finally:
        oracle.close()

    deadline = time.perf_counter() + run.seconds
    rounds = 0
    by_query: dict[str, list[float]] = {}
    run.begin_measure()
    while rounds < 1 or time.perf_counter() < deadline:
        for name, sql in REFERENCE_SQL.items():
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                rows, cols = execute(name, sql)
            except Exception:  # noqa: BLE001 - counted, not fatal
                traceback.print_exc()
                res.failed += 1
                continue
            dt = time.perf_counter() - t0
            res.latencies.append(dt)
            by_query.setdefault(name, []).append(dt)
            res.busy_s += dt
            res.work += 1
            if canonical(rows, cols) != want[name]:
                res.failed += 1
                res.problems.append(f"{name}: result differs from DuckDB")
        rounds += 1
    run.end_measure(res)

    files = load_expected(source)
    res.problems += _check(dirs, files, expected_serving([f.good for f in files]))
    res.info = {
        "ref_query_median_s": {k: statistics.median(v) for k, v in by_query.items()},
        "warehouse_events": ANALYTICS_FILES * ANALYTICS_EVENTS_PER_FILE,
        "warehouse_batches": ANALYTICS_FILES,
        "query_rounds": rounds,
    }
    if tracer.enabled:
        oracle = Oracle()
        try:
            oracle.table_views(panel_dir)
            panel = _cold_panel(run, res, oracle, panel_dir)
        finally:
            oracle.close()
        res.info["panel_s"] = sum(panel.values())
        res.info["panel_entry_s"] = panel
    return res


def _cold_panel(run: Run, res: Result, oracle: Oracle, panel_dir: str) -> dict[str, float]:
    """Each panel entry once, the first time in this process, so no
    ``_session_cached`` frame of it exists yet; checked against its
    ``ORACLE_SQL`` where the registry has one."""
    from aws_kinesis_data_ingestion_restapi_spark.registry import ORACLE_SQL, QUERY_FNS

    panel = {}
    for entry in PANEL:
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"registry.{entry}"), job_group(
                run.spark, f"perfbench-registry-{entry}"
            ) as jobs:
                df = QUERY_FNS[entry](run.spark, panel_dir)
                rows, cols = df.collect(), df.columns
        except Exception:  # noqa: BLE001 - counted, not fatal
            traceback.print_exc()
            res.failed += 1
            continue
        panel[entry] = time.perf_counter() - t0
        run.tracer.add(f"registry.{entry}.jobs", jobs())
        if entry in ORACLE_SQL and canonical(rows, cols) != oracle.result(ORACLE_SQL[entry]):
            res.failed += 1
            res.problems.append(f"{entry}: result differs from ORACLE_SQL")
    return panel


WORKLOADS = {"backfill": backfill, "trickle": trickle, "analytics": analytics}
