"""One benchmark run of one workload, in a fresh process started by run.py.

Phases: generate inputs -> set-up: the cold session start (JVM launch,
``get_spark``, a small probe job), then the workload's untimed warm-up
and correctness pass -> the timed closed loop -> checks of what the
timed operations wrote. With ``--trace 1`` an untimed
window is followed by a traced window in a fresh session that writes a
Spark event log; the trace file goes to ``.perfbench_out/``.

The last stdout line is the result object; the line before it carries
the workload's own metrics under their names and units, plus the host
record (cores, heap, steal).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import EventLog, PhaseListener, Tracer, event_log_conf  # noqa: E402

from workloads import WORKLOADS, geomean, cpu_s, host_ticks, median  # noqa: E402


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a live process, in MB (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Context:
    def __init__(self, args) -> None:
        self.seed, self.scale = args.seed, args.scale
        self.run_dir = os.environ["PERFBENCH_RUN_DIR"]
        self.input_dir = os.path.join(self.run_dir, "inputs")
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])


class Session:
    """The run's SparkSession, (re)built through the engine's ``get_spark``."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = None
        self.jvm_pid = None
        self.peak_jvm_mb = 0.0

    def conf(self, extra: dict | None = None) -> dict:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.ctx.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        conf.update(extra or {})
        return conf

    def start(self, extra: dict | None = None) -> float:
        """Stop any current session, build a new one and run a probe job."""
        from gcp_food_delivery_data_pipeline_spark import session

        t0 = time.perf_counter()
        self.stop()
        self.spark = session.get_spark(app_name="perfbench", extra_conf=self.conf(extra))
        self.spark.range(1 << 16).selectExpr("sum(id)").collect()
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.peak_jvm_mb = max(self.peak_jvm_mb, vm_hwm_mb(self.jvm_pid))
            self.spark.stop()
            self.spark = None

    def alive(self) -> bool:
        try:
            self.spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
            return True
        except Exception:  # noqa: BLE001 -- any gateway error means the JVM is gone
            return False

    def peak_rss_mb(self) -> float:
        jvm = vm_hwm_mb(self.jvm_pid) if self.spark is not None else 0.0
        return max(self.peak_jvm_mb, jvm) + vm_hwm_mb("self")


class JvmDied(Exception):
    """The gateway stopped answering: the JVM is gone (most often OOM-killed)."""


def closed_loop(wl, sess: Session, seconds: float, tracer: Tracer | None):
    """Run the workload's steps round after round for ``seconds``; returns
    (ops, wall). The first round always runs whole; after it, a step starts
    only if a step like it, at its median so far, would end in time."""
    ops, took, t0 = [], {}, time.perf_counter()
    for n in itertools.count():
        for i, step in enumerate(wl.steps(sess.spark, tracer)):
            if n and time.perf_counter() - t0 + median(took[i]) > seconds:
                return ops, time.perf_counter() - t0
            s0 = time.perf_counter()
            done = step()
            took.setdefault(i, []).append(time.perf_counter() - s0)
            ops.extend(done)
            if any(not o["ok"] for o in done) and not sess.alive():
                raise JvmDied(ops)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()

    ctx = Context(args)
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    inputs = wl.prepare()
    prepare_s = time.perf_counter() - t0

    # set-up: the cold session start (JVM launch, get_spark, a probe job)
    # and the workload's warm-up, up to the first timed operation
    sess = Session(ctx)
    cpu0 = cpu_s()
    start_s = sess.start()
    start_cpu = cpu_s() - cpu0
    t0 = time.perf_counter()
    wl.warmup(sess.spark)
    warmup_s, setup_cpu = time.perf_counter() - t0, cpu_s() - cpu0

    error, traced, wall = None, None, 0.0
    ticks0 = host_ticks()
    try:
        ops, wall = closed_loop(wl, sess, args.seconds, None)
        ticks1 = host_ticks()
        wl.post_check(ops)
        if args.trace:
            traced = run_traced(wl, sess, ctx, args, ops, start_s, warmup_s)
    except JvmDied as died:
        ticks1, ops = host_ticks(), died.args[0]
        error = "the Spark JVM died (killed by the OS, out of memory?); the rest of the run counts as failed"
    timed = wl.timed(ops)
    failed = sum(not o["ok"] for o in timed) + (error is not None)
    attempted = len(timed) + (error is not None)
    # CPU seconds, not wall: on a shared host the wall time of the same
    # work moves with the CPU the hypervisor steals (steal_pct below).
    e2e = {
        "setup_s": (setup_cpu, "s"),
        "round_cpu_s": (round_seconds(wl, ops, "cpu"), "s"),
        "peak_rss_mb": (sess.peak_rss_mb(), "MB"),
    }
    if error is None:
        sess.stop()
    own = {
        "setup_wall_s": (start_s + warmup_s, "s"),
        "peak_rss_mb": e2e["peak_rss_mb"],
        # CPU per operation, geometric mean over kinds: steadier than wall,
        # but not steady enough here to be bounded
        "op_cpu_s": (geomean(median(o["cpu"] for o in ops if o["kind"] == k) for k in wl.round_kinds()), "s"),
        "failed_frac": (failed / attempted, "ratio"),
        **(wl.summary(ops) if error is None else {}),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "inputs": inputs,
        "host": {
            "cpus": ctx.cpus,
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "mem_available_mb": int(os.environ.get("PERFBENCH_MEM_AVAILABLE_MB", "0")),
            # share of the timed window's busy CPU time the hypervisor took
            "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(1, sum(ticks1) - sum(ticks0)),
            "loadavg_1m": os.getloadavg()[0],
        },
        "prepare_s": prepare_s, "start_s": start_s, "start_cpu_s": start_cpu,
        "warmup_s": warmup_s,
        "timed_ops": len(timed), "timed_wall_s": wall,
        "metrics": {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})} for k, v in own.items()},
        "errors": sorted({o["error"] for o in timed if o["error"]} | ({error} if error else set()))[:10],
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**detail, "ops": [_plain(o) for o in ops],
                   **({"trace": traced["file"]} if traced else {})}, f, default=str)
    if traced is not None:
        failed += len(traced["failed"])
        attempted += len(traced["timed"])
    if error:
        print(error, file=sys.stderr)
    print(json.dumps({"perfbench": detail}, default=str))
    metrics = traced["metrics"] if traced is not None else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


def _plain(op: dict) -> dict:
    return {k: v for k, v in op.items() if k != "result"}


def run_traced(wl, sess: Session, ctx: Context, args, untraced: list[dict], start_s, warmup_s) -> dict:
    """A traced window in a fresh session that writes a Spark event log."""
    from gcp_food_delivery_data_pipeline_spark import checkpointing

    log_dir = os.path.join(ctx.run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    tracer = Tracer(f"{args.workload}-seed{args.seed}")
    failures0 = len(checkpointing.RELEASE_FAILURES)
    tracer.install()
    try:
        sess.start(event_log_conf(log_dir))
        phases = PhaseListener(sess.spark)
        ops, _ = closed_loop(wl, sess, args.seconds, tracer)
        sess.stop()  # drains the listener bus and closes the event log
    finally:
        tracer.uninstall()
    lay = wl.layers(ops, EventLog(log_dir), tracer, phases)
    wl.post_check(ops)

    residual = lay.pop("_residual")
    rows = lay.pop("_rows", None)
    base, with_trace = op_seconds(wl.timed(untraced)), op_seconds(wl.timed(ops))
    lay.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "checkpointing.release_failures": len(checkpointing.RELEASE_FAILURES) - failures0,
        "trace.overhead_frac": with_trace / base - 1.0 if base else 0.0,
        "trace.residual_frac": (
            sum(abs(r) for _, r in residual) / sum(w for w, _ in residual) if residual else 0.0
        ),
    })
    metrics = {m["name"]: (float(lay.get(m["name"], 0.0)), m["unit"]) for m in declared("per_layer")}
    return {
        "metrics": metrics,
        "timed": wl.timed(ops),
        "failed": [o["error"] for o in wl.timed(ops) if not o["ok"]],
        "file": {"spans": tracer.spans, "ops": [_plain(o) for o in ops], "key_rows": rows},
    }


def op_seconds(ops: list[dict]) -> float:
    """Geometric mean over operation kinds of the median wall per kind."""
    per_kind: dict[str, list[float]] = {}
    for o in ops:
        per_kind.setdefault(o["kind"], []).append(o["wall"])
    return geomean(median(v) for v in per_kind.values())


def round_seconds(wl, ops: list[dict], field: str) -> float:
    """One round's ``field`` (wall or CPU), from the median of each kind of step."""
    return sum(n * median(o[field] for o in ops if o["kind"] == kind)
               for kind, n in wl.round_kinds().items())


def declared(section: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


if __name__ == "__main__":
    sys.exit(main())
