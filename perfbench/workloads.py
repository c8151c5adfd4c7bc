"""The benchmark's workloads.

Each is a closed loop with one client: a *round* is a fixed list of
operations run back to back, and the next round starts when the last
one returns. The engine only ever sees the generated files.

* ``ingest`` -- ``run_pipeline`` over one CSV, then a ``run_stream`` drain
  of a backlog of CSV files, one file per micro-batch.
* ``query``  -- short read-only query keys, then iterative keys, each a
  fresh plan written to the ``noop`` sink.
"""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import time

import gen
from oracle import fingerprint, oracle_fingerprints
from tracing import EventLog, PhaseListener, Tracer

# "bench" is what the benchmark measures; "tiny" is the smoke size of the
# benchmark's own tests.
SIZES = {
    "bench": {"batch_rows": 50_000, "stream_files": 2, "stream_rows": 10_000, "sf": 0.01},
    "tiny": {"batch_rows": 10_000, "stream_files": 2, "stream_rows": 5_000, "sf": 0.001},
}

# Short, read-only keys from bench.py's BENCH_QUERIES, one per operator
# family (the whole list does not fit one run's time budget).
# Only keys whose results are exact: the keys that round sums of doubles
# to cents (q1, q3, q5, ...) can land on a half cent, where the engine and
# its DuckDB oracle round apart, and the gate would fail by chance.
QUERY_KEYS = [
    "q4_order_priority",     # semi join + group-agg
    "q13_order_counts",      # outer join + two-level aggregation
    "m_features",            # Arrow-batched mapInPandas
]
# Tens of jobs per key, checkpointing.materialize every round.
ITERATIVE_KEYS = [
    "g_label_propagation",   # 5-round integer label propagation
]

EXEC_FIELDS = {
    "exec.s": "job_s", "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.executor_run_s": "executor_run_s", "exec.executor_cpu_s": "cpu_s",
    "exec.gc_s": "gc_s", "exec.input_bytes": "input_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes", "exec.spill_bytes": "spill_bytes",
    "exec.task_skew": "task_skew", "exec.not_in_tasks_s": "not_in_tasks_s",
}


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(map(math.log, values)) / len(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, int] | None:
    """The highest of p99/p95/p90/p75/p50 with >= 10 samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n - math.ceil(n * p / 100) >= 10:
            return statistics.quantiles(values, n=100, method="inclusive")[p - 1], p
    return None


_TICK = os.sysconf("SC_CLK_TCK")
_SIGCHLD_BIT = 1 << (signal.SIGCHLD - 1)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


class CpuMeter:
    """CPU seconds used so far by every process of this session: the
    benchmark's Python, the Spark JVM, PySpark's daemon and its Python
    workers. The daemon moves itself and the workers into a process group
    of their own, but not out of the session, which the launcher starts
    for the run. Time the hypervisor steals from the host is not in it.

    A process's own ticks plus those of the children it waited for are
    counted while it lives. When it exits, a parent in the session that
    waits for it takes its ticks into its own ``cutime``. Otherwise, as
    for the workers of the daemon, which ignores SIGCHLD, the ticks last
    seen are kept."""

    def __init__(self) -> None:
        self.sid = os.getsid(0)
        self.seen: dict[tuple[str, str], tuple[int, str]] = {}  # (pid, start) -> (ticks, ppid)
        self.gone = 0

    def _waits(self, pid: str) -> bool:
        status = _read(f"/proc/{pid}/status") or ""
        for line in status.splitlines():
            if line.startswith("SigIgn:"):
                return not int(line.split()[1], 16) & _SIGCHLD_BIT
        return False

    def __call__(self) -> float:
        now = {}
        for pid in os.listdir("/proc"):
            stat = pid.isdigit() and _read(f"/proc/{pid}/stat")
            if not stat:
                continue
            fields = stat[stat.rfind(")") + 2:].split()  # fields[0] is field 3, state
            if int(fields[3]) == self.sid:
                # utime stime cutime cstime; ppid; starttime
                now[(pid, fields[19])] = (sum(int(x) for x in fields[11:15]), fields[1])
        ppids = {pid for pid, _ in now}
        for key, (ticks, ppid) in self.seen.items():
            if key not in now and not (ppid in ppids and self._waits(ppid)):
                self.gone += ticks
        self.seen = now
        return (self.gone + sum(t for t, _ in now.values())) / _TICK


cpu_s = CpuMeter()


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]  # user nice system irq softirq | steal


def _op(kind: str, fn, tracer: Tracer | None, spark, **extra) -> dict:
    """Time one operation ``fn(rec)``; traced, its Spark jobs carry a job group."""
    rec = {"kind": kind, "ok": True, "error": None, **extra}
    sc = spark.sparkContext
    if tracer is not None:
        rec["group"] = f"pb-{len(tracer.spans)}-{kind}"
        sc.setJobGroup(rec["group"], kind)
    rec["start"], cpu0, ticks0 = time.time(), cpu_s(), host_ticks()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            rec["result"] = fn(rec)
        else:
            with tracer.span(f"op.{kind}", group=rec["group"]):
                rec["result"] = fn(rec)
    except Exception as ex:  # noqa: BLE001 -- counted as a failed operation
        rec["ok"], rec["error"] = False, f"{type(ex).__name__}: {ex}"[:400]
    rec["wall"] = time.perf_counter() - t0
    rec["end"], rec["cpu"] = time.time(), cpu_s() - cpu0
    busy, stolen = (b - a for a, b in zip(ticks0, host_ticks()))
    rec["stolen_frac"] = stolen / (busy + stolen) if busy + stolen else 0.0
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rec


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_back(root: str) -> tuple[int, int]:
    """Rows in both status tables under ``root``, read from the parquet
    footers of every data file a reader would see."""
    import pyarrow.parquet as pq

    counts = []
    for table in ("delivered_orders", "other_status_orders"):
        n = 0
        for d, dirs, files in os.walk(os.path.join(root, table)):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            n += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                     for f in files if f.endswith(".parquet") and not f.startswith(("_", ".")))
        counts.append(n)
    return tuple(counts)


def exec_layers(rows: list[dict]) -> dict:
    """Median of each execution metric over a list of per-op exec rows."""
    return {name: median(r[f] for r in rows) for name, f in EXEC_FIELDS.items()}


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        self.out_root = os.path.join(ctx.run_dir, "out")
        self.n_out = 0

    def fresh_dir(self) -> str:
        self.n_out += 1
        return os.path.join(self.out_root, f"o{self.n_out}")

    def prepare(self) -> dict:
        """Generate the inputs; no Spark yet."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def steps(self, spark, tracer: Tracer | None) -> list:
        """One round: callables that each run one step and return its ops."""
        raise NotImplementedError

    def timed(self, ops: list[dict]) -> list[dict]:
        """The operations the end-to-end metrics and failure counts cover."""
        raise NotImplementedError

    def round_kinds(self) -> dict[str, int]:
        """Operation kind -> how many of it make up one round."""
        raise NotImplementedError

    def post_check(self, ops: list[dict]) -> None:
        """Verify outputs outside the timed window; mark wrong ops failed."""

    def summary(self, ops: list[dict]) -> dict:
        """The workload's own metrics, by name: (value, unit[, details])."""
        raise NotImplementedError

    def layers(self, ops: list[dict], log: EventLog, tracer: Tracer, phases: PhaseListener) -> dict:
        """Per-layer metrics of a traced window, plus ``_residual``: per
        operation, (wall, wall minus the layers measured inside it)."""
        raise NotImplementedError


class Ingest(Workload):
    """The reference's job both ways: ``run_pipeline`` over one CSV, and
    ``run_stream`` draining a backlog of CSV files, one per micro-batch.

    A round is ``PIPELINE_RUNS`` pipeline runs, each into a fresh output
    directory, then one drain into a fresh table and checkpoint pair."""

    name = "ingest"
    PIPELINE_RUNS = 2
    # With less warm-up, the JIT is still compiling in the window and the
    # CPU seconds of each operation keep falling from one round to the next.
    WARM_PIPELINE_RUNS, WARM_DRAINS = 8, 2

    def prepare(self) -> dict:
        seed, size = self.ctx.seed, self.size
        rows = size["batch_rows"]
        self.csv = os.path.join(self.ctx.input_dir, "food.csv")
        self.expected = gen.write_food_csv(self.csv, rows, seed)
        self.input_bytes = os.path.getsize(self.csv)

        # the stream source reads every file in the directory: keep it to the backlog
        n, per = size["stream_files"], size["stream_rows"]
        self.in_dir = os.path.join(self.ctx.input_dir, "stream")
        self.per_file = [
            gen.write_food_csv(os.path.join(self.in_dir, f"part-{i:03d}.csv"), per, seed * 1000 + i)
            for i in range(n)
        ]
        self.stream_expected = sum(self.per_file[1:], self.per_file[0])
        return {"batch_rows": rows, "batch_bytes": self.input_bytes, "stream_files": n,
                "stream_rows_per_file": per}

    # -- operations ----------------------------------------------------------
    def _pipeline(self, spark, tracer) -> dict:
        from gcp_food_delivery_data_pipeline_spark import pipeline

        out = self.fresh_dir()
        rec = _op("run_pipeline", lambda _: pipeline.run_pipeline(spark, self.csv, out),
                  tracer, spark, out=out)
        if rec["ok"]:
            c, e = rec["result"].counts, self.expected
            if (c.total, c.delivered, c.other) != (e.total, e.delivered, e.other):
                rec["ok"], rec["error"] = False, f"counts {c} != generated {e}"
        return rec

    def _ladder(self, spark, tracer) -> list[dict]:
        """Traced only: scan, then scan + clean, each to ``noop``; with the
        pipeline run after them, each rung adds one layer to the last."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from gcp_food_delivery_data_pipeline_spark.operators import clean
        from gcp_food_delivery_data_pipeline_spark.sources import readers

        def scan(_):
            _noop(readers.read_orders_csv(spark, self.csv))

        def cleaned(_):
            obs = Observation("clean")
            df = clean.clean_orders(readers.read_orders_csv(spark, self.csv), drop_malformed=False)
            _noop(df.observe(obs, F.count(F.lit(1)).alias("n"),
                             F.count(F.when(F.col("is_short"), 1)).alias("short")))
            return obs.get

        return [_op("scan", scan, tracer, spark), _op("clean", cleaned, tracer, spark)]

    def warmup(self, spark) -> None:
        """Pipeline runs and drains of the backlog, unchecked and untimed."""
        from gcp_food_delivery_data_pipeline_spark import pipeline
        from gcp_food_delivery_data_pipeline_spark.streaming import stream

        out = self.fresh_dir()
        for i in range(self.WARM_PIPELINE_RUNS):
            pipeline.run_pipeline(spark, self.csv, os.path.join(out, f"batch{i}"))
        for i in range(self.WARM_DRAINS):
            stream.run_stream(spark, self.in_dir, os.path.join(out, f"tables{i}"),
                              os.path.join(out, f"ckpt{i}")).awaitTermination()
        shutil.rmtree(out, ignore_errors=True)

    def _drain(self, spark, tracer) -> list[dict]:
        from gcp_food_delivery_data_pipeline_spark.streaming import stream

        seen: list[tuple[int, int, int]] = []

        def count(_, c):
            seen.append((c.total, c.delivered, c.other))

        def drain(rec):
            q = stream.run_stream(
                spark, self.in_dir, os.path.join(rec["out"], "tables"), os.path.join(rec["out"], "ckpt"),
                on_counts=count,
            )
            q.awaitTermination()
            return q

        rec = _op("drain", drain, tracer, spark, out=self.fresh_dir())
        if not rec["ok"]:
            return [rec]
        q = rec.pop("result")
        rec["run_id"] = str(q.runId)
        want = sorted((e.total, e.delivered, e.other) for e in self.per_file)
        if sorted(seen) != want:
            rec["ok"], rec["error"] = False, f"per-batch counts {sorted(seen)} != per-file {want}"
        # one batch per file, empty ones included: a stray file or an idle
        # trigger in the drain fails it
        batches = [
            {"kind": "micro_batch", "run_id": rec["run_id"], "batch": p.batchId,
             "stolen_frac": rec["stolen_frac"],
             "wall": p.durationMs.get("triggerExecution", 0) / 1000.0,
             "rows": p.numInputRows, "durations": dict(p.durationMs)}
            for p in q.recentProgress
        ]
        if len(batches) != len(self.per_file) and rec["ok"]:
            rec["ok"], rec["error"] = False, f"{len(batches)} batches for {len(self.per_file)} files"
        for b in batches:
            b["ok"], b["error"] = rec["ok"], rec["error"]
        return [rec, *batches]

    def steps(self, spark, tracer):
        steps = [lambda: self._ladder(spark, tracer)] if tracer is not None else []
        steps += [lambda: [self._pipeline(spark, tracer)]] * self.PIPELINE_RUNS
        return steps + [lambda: self._drain(spark, tracer)]

    def timed(self, ops):
        return [o for o in ops if o["kind"] in ("run_pipeline", "micro_batch")
                or (o["kind"] == "drain" and not o["ok"])]

    def round_kinds(self):
        return {"run_pipeline": self.PIPELINE_RUNS, "drain": 1}

    def post_check(self, ops):
        """Both tables of every run hold the generated counts, each row once."""
        for rec in ops:
            if rec["kind"] == "run_pipeline":
                root, e = rec["out"], self.expected
            elif rec["kind"] == "drain":
                root, e = os.path.join(rec["out"], "tables"), self.stream_expected
            else:
                continue
            want = (e.delivered_table, e.other_table)
            if rec["ok"] and (got := _read_back(root)) != want:
                rec["ok"], rec["error"] = False, f"tables read back {got} != {want}"
                for b in ops:
                    if rec["kind"] == "drain" and b.get("run_id") == rec["run_id"]:
                        b["ok"], b["error"] = False, rec["error"]
            shutil.rmtree(rec["out"], ignore_errors=True)

    # -- reporting -----------------------------------------------------------
    def summary(self, ops):
        runs = [o["wall"] for o in ops if o["kind"] == "run_pipeline"]
        drains = [o["wall"] for o in ops if o["kind"] == "drain"]
        batches = [o["wall"] for o in ops if o["kind"] == "micro_batch"]
        t = tail(batches)
        return {
            "ingest_rows_per_s": (self.expected.total * len(runs) / sum(runs), "rows/s"),
            "ingest_run_s_p50": (median(runs), "s"),
            "stream_rows_per_s": (self.stream_expected.total * len(drains) / sum(drains), "rows/s"),
            "stream_batch_s_p50": (median(batches), "s"),
            "stream_batch_s_tail": (
                t[0] if t else max(batches, default=0.0), "s",
                {"percentile": t[1] if t else 100, "samples": len(batches)},
            ),
        }

    def layers(self, ops, log, tracer, phases):
        ok = {k: [o for o in ops if o["kind"] == k and o["ok"]]
              for k in ("scan", "clean", "run_pipeline", "drain", "micro_batch")}
        wall = {k: median(o["wall"] for o in v) for k, v in ok.items()}

        def jobs_of(o):
            return log.exec_metrics(log.job_ids(o["group"]), o["start"], o["end"])

        runs, scans = [jobs_of(o) for o in ok["run_pipeline"]], [jobs_of(o) for o in ok["scan"]]
        for o, r in zip(ok["run_pipeline"], runs):
            r.update(phases.within(o["start"], o["end"]))
        batches = []
        for b in ok["micro_batch"]:
            ids = log.job_ids(b["run_id"], b["batch"])
            start = min((log.jobs[j]["submit"] for j in ids), default=0.0)
            batches.append(log.exec_metrics(ids, start, start + b["wall"]))
            batches[-1].update(phases.within(start, start + b["wall"]))
        both = runs + batches
        seen = ok["clean"][-1]["result"] if ok["clean"] else {"n": 0, "short": 0}
        last = ok["run_pipeline"][-1] if ok["run_pipeline"] else None
        files = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(last["out"]) for f in fs if f.endswith(".parquet")
        ] if last else []
        counts = last["result"].counts if last else None

        def dur(key):
            return median(b["durations"].get(key, 0) for b in ok["micro_batch"])

        ex_runs, ex_batches = exec_layers(runs), exec_layers(batches)
        return {
            "readers.scan_s": wall["scan"],
            "readers.input_bytes": median(s["input_bytes"] for s in scans),
            "readers.rows_read": median(s["input_records"] for s in scans),
            "clean.s": wall["clean"] - wall["scan"],
            "clean.short_rows": seen["short"],
            "clean.rows_kept_frac": (seen["n"] - seen["short"]) / seen["n"] if seen["n"] else 0.0,
            "writers.s": wall["run_pipeline"] - wall["clean"],
            "writers.bytes_written": sum(files),
            "writers.files_written": len(files),
            "writers.bytes_per_input_byte": sum(files) / self.input_bytes,
            "pipeline.jobs": median(r["jobs"] for r in runs),
            "pipeline.rows_total": counts.total if counts else 0,
            "pipeline.rows_delivered": counts.delivered if counts else 0,
            "pipeline.rows_other": counts.other if counts else 0,
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.jobs_per_batch": median(r["jobs"] for r in batches),
            "stream.rows_per_batch": median(b["rows"] for b in ok["micro_batch"]),
            # maxFilesPerTrigger=1: each batch should hold exactly one file
            "stream.files_per_batch": (
                len(self.per_file) * len(ok["drain"]) / len(ok["micro_batch"]) if ok["micro_batch"] else 0.0
            ),
            # one pipeline run plus one micro-batch, the two operations timed
            **{k: ex_runs[k] + ex_batches[k] for k in ex_runs},
            "exec.task_skew": median(r["task_skew"] for r in both),
            **{f"catalyst.{p}": median(r[p] for r in runs) + median(r[p] for r in batches)
               for p in ("analysis_ms", "optimization_ms", "planning_ms")},
            "_residual": [
                (o["wall"], o["wall"] - r["job_s"] - (r["optimization_ms"] + r["planning_ms"]) / 1000.0)
                for o, r in zip(ok["run_pipeline"] + ok["micro_batch"], both)
            ],
        }


class Query(Workload):
    """Query keys, each a fresh plan -> ``noop``, one after the other.

    The short keys are read-only and one-to-few jobs each; the iterative
    keys launch tens of jobs and call ``checkpointing.materialize`` every
    round, so fixed per-job cost shows in them."""

    name = "query"
    keys = QUERY_KEYS + ITERATIVE_KEYS

    def prepare(self) -> dict:
        import __spark_entry__ as entry

        sf = self.size["sf"]
        self.data = os.path.join(self.ctx.input_dir, "tables")
        rows = gen.write_tables(self.data, sf, self.ctx.seed)
        sqls = entry.oracle_sql()
        self.queries = entry.queries()
        self.expected = oracle_fingerprints(self.data, {k: sqls[k] for k in self.keys}, self.ctx.cpus)
        self.wrong: dict[str, str] = {}
        return {"sf": sf, "rows": sum(rows.values()), "keys": len(self.keys)}

    def warmup(self, spark) -> None:
        # The correctness gate: each key's collected result against its
        # DuckDB oracle. It also warms the JVM up, so it stays untimed.
        for key in self.keys:
            try:
                df = self.queries[key](spark, self.data)
                got = fingerprint([tuple(r) for r in df.collect()], df.columns)
            except Exception as ex:  # noqa: BLE001
                self.wrong[key] = f"{type(ex).__name__}: {ex}"[:400]
                continue
            if got != self.expected[key]:
                self.wrong[key] = f"fingerprint {got} != oracle {self.expected[key]}"
        # the first noop writes still pay for JIT compilation
        for key in self.keys:
            if key not in self.wrong:
                _noop(self.queries[key](spark, self.data))

    def _key(self, spark, tracer, key) -> dict:
        def run(rec):
            if tracer is None:
                return _noop(self.queries[key](spark, self.data))
            sc = spark.sparkContext
            sc.setJobGroup(rec["group"] + "-build", key)
            t0 = time.time()
            with tracer.span("plans.build", key=key):
                df = self.queries[key](spark, self.data)
            rec["build"] = (t0, time.time())
            sc.setJobGroup(rec["group"], key)
            _noop(df)
            # the DataFrame's own analysis ran inside the build; the write's
            # optimization and planning reach the PhaseListener
            analysis = df._jdf.queryExecution().tracker().phases().get("analysis")
            rec["analysis_ms"] = analysis.get().durationMs() if analysis.isDefined() else 0

        rec = _op(key, run, tracer, spark)
        if key in self.wrong and rec["ok"]:
            rec["ok"], rec["error"] = False, self.wrong[key]
        return rec

    def steps(self, spark, tracer):
        return [lambda k=k: [self._key(spark, tracer, k)] for k in self.keys]

    def timed(self, ops):
        return ops

    def round_kinds(self):
        return dict.fromkeys(self.keys, 1)

    def summary(self, ops):
        per_key = {k: median(o["wall"] for o in ops if o["kind"] == k) for k in self.keys}
        out = {}
        for prefix, keys in (("query", QUERY_KEYS), ("iter", ITERATIVE_KEYS)):
            out[f"{prefix}_geomean_s"] = (geomean(per_key[k] for k in keys), "s")
            out[f"{prefix}_total_s"] = (sum(per_key[k] for k in keys), "s")
        return out

    def layers(self, ops, log, tracer, phases):
        rows = []
        for o in ops:
            if not o["ok"]:
                continue
            b0, b1 = o["build"]
            build_jobs = log.job_ids(o["group"] + "-build")
            ex = log.exec_metrics(log.job_ids(o["group"]), b1, o["end"])
            whole = log.exec_metrics(log.job_ids(o["group"]) + build_jobs, o["start"], o["end"])
            mats = tracer.within("checkpointing.materialize", o["start"], o["end"])
            # eager actions inside the build are planned there: count them in
            # the Catalyst totals, but only the write's phases in the split
            key_phases, run = phases.within(o["start"], o["end"]), phases.within(b1, o["end"])
            layered = (b1 - b0) + (run["optimization_ms"] + run["planning_ms"]) / 1000.0 + ex["job_s"]
            rows.append({
                "key": o["kind"], "wall": o["wall"], "build_s": b1 - b0, "build_jobs": len(build_jobs),
                "analysis_ms": o["analysis_ms"] + key_phases["analysis_ms"],
                "optimization_ms": key_phases["optimization_ms"],
                "planning_ms": key_phases["planning_ms"], **ex, "not_in_tasks_s": whole["not_in_tasks_s"],
                "materialize_calls": len(mats),
                "materialize_s": sum(s["end"] - s["start"] for s in mats),
                "residual_s": o["wall"] - layered,
            })

        def per_key_sum(field):
            """One round's worth: the sum over keys of each key's median."""
            return sum(median(r[field] for r in rows if r["key"] == k) for k in self.keys)

        out = {
            "plans.build_s": per_key_sum("build_s"),
            "plans.build_jobs": per_key_sum("build_jobs"),
            "catalyst.analysis_ms": per_key_sum("analysis_ms"),
            "catalyst.optimization_ms": per_key_sum("optimization_ms"),
            "catalyst.planning_ms": per_key_sum("planning_ms"),
            "checkpointing.materialize_calls": per_key_sum("materialize_calls"),
            "checkpointing.materialize_s": per_key_sum("materialize_s"),
            **{name: per_key_sum(f) for name, f in EXEC_FIELDS.items()},
            "exec.task_skew": median(r["task_skew"] for r in rows),
            "_residual": [(r["wall"], r["residual_s"]) for r in rows],
            "_rows": rows,
        }
        return out


WORKLOADS = {w.name: w for w in (Ingest, Query)}
