"""CDC-consumer benchmark: one run of one workload.

    python3 perfbench/run.py --workload {backfill,trickle} --seed N \
        --seconds S --trace {0,1}

Generates the workload's seed state and transport files from ``--seed``,
drives the unmodified ``CDCPipeline`` (``file_envelope_stream`` transport,
default ``PartitionedParquetStateStore``) in a closed loop with one file
outstanding, measures for ``--seconds`` after a warm-up counted in batches,
checks every table of the replica against ``oracle.Oracle``, and prints one
JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
All files live under ``.perfbench_work/`` in the checkout and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow.compute as pc  # noqa: E402

from perfbench import gen, oracle  # noqa: E402

HEAP = "2g"
DEADLINE_S = 150  # the whole run must end well inside 180 s
SESSION_CONF = {
    "spark.sql.streaming.numRecentProgressUpdates": "1000",
    "spark.ui.showConsoleProgress": "false",
}
SEED_REPEATS = 3
LOOKUPS, LOOKUP_WARMUP = 8, 2
ISOLATED_FILES, ISOLATED_REPEATS = 3, 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="with --trace 1, also write the spans JSON here")
    return p.parse_args(argv)


def import_engine():
    """The engine must come from this checkout, never from site-packages."""
    import etl_consumer_spark

    if not os.path.abspath(etl_consumer_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"etl_consumer_spark not found under {ROOT}")


# -- process metrics ---------------------------------------------------------

def _proc_children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _status_kb(pid: int, field_name: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field_name + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine: the share of time the
    hypervisor ran someone else, which no setting of ours controls."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_tree(jvm_pid: int) -> list[int]:
    pids, todo = [os.getpid(), jvm_pid], [jvm_pid]
    while todo:
        kids = _proc_children(todo.pop())
        pids += kids
        todo += kids
    return pids


# -- the run -----------------------------------------------------------------

class Run:
    def __init__(self, args):
        self.args = args
        self.w = gen.WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.records: list[dict] = []
        self.landed: dict[int, float] = {}
        self.done = threading.Event()
        self.failure: BaseException | None = None
        self.window: dict = {}
        self.tracer = None
        self.pinned: dict = {}

    # environment -------------------------------------------------------

    def pin_environment(self) -> None:
        cores = len(os.sched_getaffinity(0))
        tmp = f"{self.work}/tmp"
        os.makedirs(tmp, exist_ok=True)
        self.pinned = {
            "cores": cores,
            "master": f"local[{cores}]",
            "SPARK_DRIVER_MEMORY": HEAP,
            "driver_java_options": f"-Xms{HEAP} -XX:-UsePerfData",
            "SHUFFLE_PARTITIONS": str(cores),
            "SPARK_LOCAL_DIRS": f"{self.work}/spark-local",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-class's own JVM: no /tmp file either
            "session_conf": SESSION_CONF,
            "generator_processes": 1,
            "seed_repeats": SEED_REPEATS,
        }
        for k in ("SPARK_DRIVER_MEMORY", "SHUFFLE_PARTITIONS", "SPARK_LOCAL_DIRS", "TMPDIR", "PYSPARK_PYTHON",
                  "SPARK_LAUNCHER_OPTS"):
            os.environ[k] = self.pinned[k]
        os.environ.pop("SPARK_MASTER", None)

    def start_session(self):
        from etl_consumer_spark.session import get_spark

        cores = self.pinned["cores"]
        # initial heap = max heap: no resize decisions to move peak RSS; no
        # hsperfdata file in /tmp
        java_opts = f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={self.pinned['TMPDIR']}"
        self.spark = get_spark(
            app_name="perfbench",
            master=self.pinned["master"],
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                **SESSION_CONF,
            },
        )
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # the JVM ignored EOF on stdin
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # set-up ------------------------------------------------------------

    def pipeline(self, state_dir: str):
        from etl_consumer_spark.config import Config
        from etl_consumer_spark.sources.envelope import WireField
        from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec

        cfg = Config()
        cfg.server, cfg.db_name, cfg.tables = gen.SERVER, gen.DB, list(self.w.tables)
        cfg.replace_all_scheme, cfg.reclaim, cfg.republish = True, False, True
        cfg.with_timezone, cfg.timezone_hours = False, oracle.TZ_HOURS
        cfg.checkpoint_dir = f"{self.work}/ckpt"
        cfg.passthrough_limit, cfg.max_results = 100, 256
        self.pinned["config"] = {
            k: getattr(cfg, k) for k in (
                "server", "db_name", "tables", "replace_all_scheme", "reclaim", "republish",
                "with_timezone", "timezone_hours", "passthrough_limit", "max_results",
            )
        }
        specs = [
            TableSpec(t, [WireField(c.name, c.wire, c.logical, c.scale, c.precision) for c in gen.BASE_COLUMNS], ["id"])
            for t in self.w.tables
        ]
        return CDCPipeline(
            self.spark, cfg, specs, state_path=state_dir,
            dead_letter_path=f"{self.work}/dead_letters",
            republish_path=f"{self.work}/republish",
        )

    def seed_store(self, pipe) -> float:
        t0 = time.perf_counter()
        for t in self.w.tables:
            pipe.store.init(t, self.spark.read.parquet(f"{self.work}/seed/{t}.parquet"), ["id"])
        return time.perf_counter() - t0

    # closed loop -------------------------------------------------------

    def land(self, index: int) -> None:
        os.rename(gen.batch_path(self.work, index), f"{self.work}/transport/batch-{index:05d}.parquet")
        self.landed[index] = time.perf_counter()

    def on_batch(self, process, df, epoch):
        index = len(self.records)
        t0 = time.perf_counter()
        if self.tracer is not None:
            result = self.tracer.batch(lambda: process(df, epoch), epoch)
        else:
            result = process(df, epoch)
        t1 = time.perf_counter()
        self.records.append({"index": index, "epoch": epoch, "start": t0, "commit": t1, "result": result})
        n = len(self.records)
        warm = self.w.warmup_batches
        if n == warm:
            self.window = {"start": time.perf_counter(), **self.probe()}
        measured = n - warm
        if measured > 0 and measured % self.w.cycle == 0 and (
            t1 - self.window["start"] >= self.args.seconds or n + self.w.cycle > self.w.max_batches
        ):
            self.window.update(end=t1, batches=measured, **{f"{k}_end": v for k, v in self.probe().items()})
            self.done.set()
            return
        self.land(n)

    def probe(self) -> dict:
        """Cumulative CPU (and, traced, GC) counters at a window edge."""
        out = {"cpu": sum(_cpu_s(p) for p in (os.getpid(), self.jvm_pid))}
        if self.tracer is not None:
            beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
            out["gc_ms"] = sum(b.getCollectionTime() for b in beans)
        return out

    def stream(self, pipe) -> None:
        from etl_consumer_spark.sources.kafka import file_envelope_stream

        os.makedirs(f"{self.work}/transport")
        process = pipe.process_batch
        pipe.process_batch = lambda df, epoch: self._guard(self.on_batch, process, df, epoch)
        self.land(0)
        transport = file_envelope_stream(self.spark, f"{self.work}/transport", max_files_per_trigger=1)
        self.query = pipe.start(transport, checkpoint_dir=f"{self.work}/ckpt")
        deadline = T_START + DEADLINE_S
        while not self.done.wait(0.2):
            if self.failure is not None or not self.query.isActive or time.perf_counter() > deadline:
                break
        if self.failure is None and self.done.is_set():
            last = self.records[-1]["epoch"]
            while time.perf_counter() < deadline:  # let the last commit-log write finish
                progress = self.query.lastProgress
                if progress and progress["batchId"] >= last:
                    break
                time.sleep(0.05)
        self.progress = list(self.query.recentProgress)
        self.query.stop()
        if self.failure is not None:
            raise self.failure
        if not self.done.is_set():
            raise RuntimeError(f"stream ended early: {self.query.exception()}")

    def _guard(self, fn, *args):
        try:
            return fn(*args)
        except BaseException as exc:
            self.failure = exc
            raise

    # checks ------------------------------------------------------------

    def check(self, pipe, plan_tables: dict) -> dict:
        """Fold the committed batches and compare every table, the planned
        counts and a sample of point lookups against the oracle."""
        committed = [self.batches[r["index"]] for r in self.records]
        orc = oracle.Oracle(plan_tables)
        for b in committed:
            orc.apply(b)
        failed, mismatched, checksums = 0, {}, {}
        expected = {}
        for t in self.w.tables:
            expected[t] = orc.expected(t)
            replica = pipe.store.read(t).toArrow()
            checksums[t] = [oracle.checksum(expected[t]), oracle.checksum(replica)]
            keys = oracle.mismatched_keys(expected[t], replica)
            if keys or checksums[t][0] != checksums[t][1]:
                mismatched[t] = keys[:10]
                failed += max(1, oracle.failed_events(orc, t, keys))
        results = [r["result"] for r in self.records]
        observed = {
            "ddl_applied": sum(len(r.ddl_applied) for r in results),
            "ddl_skipped": sum(len(r.ddl_skipped) for r in results),
            "dead_letter": sum(r.dead_letters for r in results),
            "passthrough": sum(len(r.passthrough) for r in results),
            "republish": sum(r.republish for r in results),
        }
        dl_path = f"{self.work}/dead_letters"
        observed["dead_letter_rows"] = self.spark.read.parquet(dl_path).count() if os.path.isdir(dl_path) else 0
        planned = {k: orc.planned.get(k, 0) for k in ("ddl_applied", "ddl_skipped", "dead_letter", "passthrough")}
        planned.update(republish=0, dead_letter_rows=planned["dead_letter"])
        count_errors = sum(abs(observed[k] - planned[k]) for k in planned)
        lookup_ms, lookup_failed = self.lookups(pipe, expected)
        attempted = orc.events + len(lookup_ms)
        failed += count_errors + lookup_failed
        return {
            "attempted": attempted,
            "failed": failed,
            "lookup_ms": lookup_ms,
            "mismatched": mismatched,
            "checksums": checksums,
            "planned": planned,
            "observed": observed,
            "expected": expected,
        }

    def lookups(self, pipe, expected: dict) -> tuple[list[float], int]:
        """Point lookups on the final replica; each result is checked too."""
        rng = random.Random(self.args.seed)
        times, failed = [], 0
        for i in range(LOOKUPS):
            t = self.w.tables[i % len(self.w.tables)]
            ids = expected[t]["id"]
            key = ids[rng.randrange(len(ids))].as_py() if i % 3 else self.w.state_rows * 10 + i
            t0 = time.perf_counter()
            got = pipe.store.read_keys(t, [key]).toArrow()
            times.append((time.perf_counter() - t0) * 1e3)
            want = expected[t].filter(pc.equal(expected[t]["id"], key))
            if oracle.mismatched_keys(want, got):
                failed += 1
        return times[LOOKUP_WARMUP:], failed

    # isolated layer timings (traced run) ---------------------------------

    def isolated(self, pipe, measured: list[dict]) -> dict:
        """Decode and apply timed on their own over the last measured files,
        each written to the no-op sink; the fastest pass counts, so plan
        compilation of a first pass does not."""
        from pyspark.sql import functions as F

        from etl_consumer_spark.operators.apply import apply_cdc
        from etl_consumer_spark.sources.envelope import decode_envelope, parse_dml_envelope
        from etl_consumer_spark.sources.kafka import TRANSPORT_SCHEMA

        files = [f"{self.work}/transport/batch-{r['index']:05d}.parquet" for r in measured[-ISOLATED_FILES:]]
        raw = self.spark.read.schema(TRANSPORT_SCHEMA).parquet(*files).filter(F.col("topic") != gen.SERVER)
        events = raw.count()
        parsed = parse_dml_envelope(raw).filter(F.col("envelope.payload").isNotNull())

        def decoded(t):
            spec = pipe.tables[t]
            return decode_envelope(
                parsed.filter(F.col("envelope.payload.source.table") == t), spec.fields,
                tz_hours=oracle.TZ_HOURS,
            ).filter(F.col("passthrough").isNull())

        def timed(make) -> float:
            runs = []
            for _ in range(ISOLATED_REPEATS):
                t0 = time.perf_counter()
                for t in self.w.tables:
                    make(t).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            return min(runs) * 1e3

        decode_ms = timed(decoded)
        staged = {}
        for t in self.w.tables:
            path = f"{self.work}/isolated/{t}"
            decoded(t).write.mode("overwrite").parquet(path)
            staged[t] = self.spark.read.parquet(path)
        apply_ms = timed(lambda t: apply_cdc(pipe.store.read(t), staged[t], ["id"], missing_update="upsert"))
        kevents = max(events, 1) / 1e3
        return {"sources.decode_ms_per_kevent": decode_ms / kevents, "operators.apply_ms_per_kevent": apply_ms / kevents}

    # main ----------------------------------------------------------------

    def execute(self) -> dict:
        args, w = self.args, self.w
        steal0 = cpu_ticks()
        t_gen0 = time.perf_counter()
        plan, self.batches = gen.generate(w, args.seed, self.work)
        seed_tables = {t: plan.seed_table(t) for t in w.tables}
        t_gen = time.perf_counter() - t_gen0
        self.pin_environment()
        t_session0 = time.perf_counter()
        self.start_session()
        t_session = time.perf_counter() - t_session0
        seeds = []
        for i in range(SEED_REPEATS):
            pipe = self.pipeline(f"{self.work}/state{i}")
            seeds.append(self.seed_store(pipe))
        for i in range(SEED_REPEATS - 1):
            shutil.rmtree(f"{self.work}/state{i}")
        state_dir = f"{self.work}/state{SEED_REPEATS - 1}"
        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(self.spark, state_dir)
            self.tracer.install(pipe)
        t_ready0 = time.perf_counter()
        self.stream(pipe)
        t_stream = time.perf_counter() - t_ready0
        # set-up: process start to the last warm-up commit, less the
        # benchmark's own generation and all but the median seeding
        warm_commit = self.records[w.warmup_batches - 1]["commit"]
        setup_s = (warm_commit - T_START) - t_gen - sum(seeds) + statistics.median(seeds)
        if self.tracer is not None:
            self.tracer.remove(pipe)
        measured = self.records[w.warmup_batches:]
        t_check0 = time.perf_counter()
        check = self.check(pipe, seed_tables)
        t_check = time.perf_counter() - t_check0
        rss_kb = sum(_status_kb(p, "VmHWM") for p in process_tree(self.jvm_pid))
        events = sum(len(self.batches[r["index"]].values) for r in measured)
        window_s = self.window["end"] - self.window["start"]
        lags = [(r["commit"] - self.landed[r["index"]]) * 1e3 for r in measured]
        e2e = {
            "setup_s": (setup_s, "s"),
            "events_per_s": (events / window_s, "events/s"),
            "lag_ms_p50": (statistics.median(lags), "ms"),
            # inclusive: never extrapolates past the slowest of a few samples
            "lag_ms_p90": (statistics.quantiles(lags, n=10, method="inclusive")[-1] if len(lags) > 1 else lags[0], "ms"),
            "lookup_ms_p50": (statistics.median(check["lookup_ms"]), "ms"),
            "peak_rss_mb": (rss_kb / 1024, "MB"),
            "error_share": (check["failed"] / check["attempted"], "ratio"),
        }
        detail = {
            "workload": w.name, "seed": args.seed, "trace": args.trace,
            "measured_batches": len(measured), "warmup_batches": w.warmup_batches,
            "events_measured": events, "window_s": window_s, "lag_samples": len(lags),
            "lag_ms": [round(x) for x in lags],
            "batch_ms": [round((r["commit"] - r["start"]) * 1e3) for r in self.records],
            "phases_s": {"generation": t_gen, "session": t_session, "seeding": sum(seeds),
                         "stream": t_stream, "check": t_check},
            "seed_s": seeds,
            "steal_share": (cpu_ticks()[0] - steal0[0]) / max(1, cpu_ticks()[1] - steal0[1]),
            "planned": check["planned"], "observed": check["observed"],
            "mismatched": check["mismatched"], "checksums": check["checksums"], "pinned": self.pinned,
        }
        out = {"check": check, "e2e": e2e, "detail": detail}
        if self.tracer is not None:
            out["layers"] = self.layers(pipe, measured, events, window_s)
            if args.spans:
                self.tracer.dump(args.spans)
        return out

    def layers(self, pipe, measured, events, window_s) -> dict:
        from perfbench.tracing import state_files

        epochs = {r["epoch"] for r in measured}
        n = len(measured)
        layers = self.tracer.batch_summary(epochs)
        results = [r["result"] for r in measured]
        files = state_files(self.tracer.state_dir)
        progress = [p for p in self.progress if p["batchId"] in epochs]
        dur = lambda key: statistics.median([p["durationMs"].get(key, 0) for p in progress]) if progress else 0.0  # noqa: E731
        layers.update({
            "sinks.bytes_written_per_event": self.tracer.bytes_written / max(1, events),
            "sinks.files_end": len(files),
            "sinks.bytes_end": sum(files.values()),
            "sinks.dead_letter_rows": sum(r.dead_letters for r in results) / n,
            "operators.ddl_applied": sum(len(r.ddl_applied) for r in results) / n,
            "operators.ddl_skipped": sum(len(r.ddl_skipped) for r in results) / n,
            "trigger.latest_offset_ms_p50": dur("latestOffset"),
            "trigger.wal_commit_ms_p50": dur("walCommit"),
            "trigger.commit_offsets_ms_p50": dur("commitOffsets"),
            "trigger.query_planning_ms_p50": dur("queryPlanning"),
            "trigger.add_batch_ms_p50": dur("addBatch"),
            "sources.input_rows_per_batch": statistics.median([p["numInputRows"] for p in progress]) if progress else 0.0,
            "jvm.gc_ms": self.window["gc_ms_end"] - self.window["gc_ms"],
            "process.cpu_s_per_kevent": (self.window["cpu_end"] - self.window["cpu"]) / (events / 1e3),
            "trace.events_per_s": events / window_s,
        })
        layers.update(self.isolated(pipe, measured))
        return layers


UNITS = {
    "streaming.batch_ms_p50": "ms", "streaming.self_ms_p50": "ms", "streaming.child_ms_p50": "ms",
    "streaming.jobs_per_batch": "jobs/batch", "sinks.upserts_per_batch": "calls/batch",
    "sinks.useful_upsert_ratio": "ratio", "sinks.upsert_ms_p50": "ms", "sinks.jobs_per_upsert": "jobs/call",
    "sinks.buckets_per_upsert": "buckets/call", "sinks.bytes_written_per_event": "B/event",
    "sinks.files_end": "count", "sinks.bytes_end": "B", "sinks.evolve_ms_p50": "ms",
    "sinks.dead_letter_rows": "rows/batch", "sinks.dead_letter_write_ms": "ms",
    "operators.ddl_applied": "stmts/batch", "operators.ddl_skipped": "stmts/batch",
    "sources.decode_ms_per_kevent": "ms/kevent", "operators.apply_ms_per_kevent": "ms/kevent",
    "trigger.latest_offset_ms_p50": "ms", "trigger.wal_commit_ms_p50": "ms",
    "trigger.commit_offsets_ms_p50": "ms", "trigger.query_planning_ms_p50": "ms",
    "trigger.add_batch_ms_p50": "ms", "sources.input_rows_per_batch": "rows/batch",
    "jvm.gc_ms": "ms", "process.cpu_s_per_kevent": "s/kevent", "trace.events_per_s": "events/s",
}

# error_share is reported in the detail line and through attempted/failed:
# the result line carries only metrics that cannot read 0
RESULT_E2E = ("setup_s", "events_per_s", "lag_ms_p50", "lag_ms_p90", "lookup_ms_p50", "peak_rss_mb")


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()
    run = Run(args)
    try:
        out = run.execute()
    finally:
        try:
            run.stop_session()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run.work))
            except OSError:
                pass  # another run still owns a directory there
    check = out["check"]
    print("detail " + json.dumps(out["detail"], sort_keys=True))
    for name, (value, unit) in out["e2e"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": out["e2e"][k][0], "unit": out["e2e"][k][1]} for k in RESULT_E2E}
    print(json.dumps({
        "correct": check["failed"] == 0,
        "attempted": check["attempted"],
        "failed": check["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
