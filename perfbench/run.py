#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload construct_batch --seed 1 --seconds 25 --trace 0

Run from the repository root. The engine (``agraph_spark/``) is imported
from the directory above this one; every file the run writes goes under
``.perfbench_work/`` there, and is removed at the end except the
graph_query cache of the KG and its store. With ``--trace 0`` the last line of standard output
is the JSON result with the end-to-end metrics; with ``--trace 1`` it holds
the per-layer metrics of a traced run, whose spans and per-op breakdown
are also written to ``.perfbench_work/traces/``. The line before the
result is ``# meta {...}``: host, versions, seed and the figures behind
each metric. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")

OP_TIMEOUT_S = 90      # an op still running after this is cancelled and failed
RUN_DEADLINE_S = 170   # the whole run, session start (or end of building inputs) to exit

LAYERS = ("session", "reassemble", "fused", "relations", "checkpoint", "materialize",
          "linking", "components", "analytics", "retrieval", "vectors", "chunking", "io",
          "incremental", "dedup_docs")
FAMILY = ("self_s", "jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes")
NOTES = ("reassemble.docs_out", "fused.ents_out", "fused.cands_out",
         "relations.candidates_in", "relations.triples_out", "checkpoint.bytes_written",
         "materialize.nodes_out", "materialize.edges_out", "linking.candidate_pairs",
         "linking.confirmed_pairs", "linking.mappings_out", "components.reached_out",
         "retrieval.rows_out", "io.bytes_written", "incremental.buckets_touched",
         "incremental.bytes_written_per_new_row", "incremental.store_bytes",
         "dedup_docs.minhash_pairs", "dedup_docs.ngram_pairs", "caching.persisted_per_op")


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in FAMILY]
    names += ["caching.self_s", "driver_other.self_s", "driver_other.jobs",
              "driver_other.tasks", "driver_other.executor_cpu_s"]
    names += list(NOTES)
    names += ["session.start_s", "fused.python_bytes_in", "fused.python_bytes_out",
              "relations.resolved_ratio", "linking.confirm_ratio",
              "trace.op_wall_s", "trace.overhead_ratio"]
    return names


def other_spark_jvms() -> list[int]:
    """Pids of Spark driver JVMs already running on this host. A contended
    run skews every figure, so the result is flagged."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(d))
    return pids


def host_probe_s() -> float:
    """Wall time of a fixed single-threaded Python loop: a record of the
    host's speed when the run started (shared hosts drift by tens of
    percent over minutes). Diagnostic only; no metric uses it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def source_id() -> dict:
    """The git commit when the tree is a checkout, and always a hash of the
    engine's sources (the benchmark also runs from exported trees)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "agraph_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def stop_session(spark) -> None:
    """Stop ``spark`` and end its JVM, so that the next session in this
    process starts a fresh JVM, with the environment (PYTHONPATH) of that
    moment."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


class Op(NamedTuple):
    id: str
    traced: bool
    ok: bool
    wall: float         # stats.FAILED when the op failed or timed out
    items: int
    fingerprint: object


class Run:
    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.jvm = None
        self.probe = None
        self.deadline = None

    def arm_deadline(self) -> None:
        """(Re)start the run deadline: RUN_DEADLINE_S from now."""
        if self.deadline is not None:
            self.deadline.cancel()
        self.deadline = threading.Timer(RUN_DEADLINE_S, self.kill)
        self.deadline.daemon = True
        self.deadline.start()

    # -------------------------------------------------------------- session
    def start_session(self) -> float:
        for sub in ("local", "tmp", "warehouse", "events"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        # every file the run writes stays in its own directory: Spark's
        # scratch space, Python and JVM temp files (-XX:-UsePerfData keeps the
        # JVM's hsperfdata file out of /tmp)
        tmp = os.path.join(self.dir, "tmp")
        # The driver JVM compiles with C1 only. Under the default tiered
        # compiler an op keeps getting faster for minutes while C2 recompiles
        # (construct_batch: 22 s, then 16, 15, 13.7, 12.7 s) and its compiler
        # threads compete with the tasks for the 4 CPUs; with C1 only the op
        # time is flat from the second op on. The larger code cache keeps C1
        # from filling the default 48 MB one and turning compilation off.
        jit = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {jit}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + os.path.join(self.dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from agraph_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.nproc}]",
                               shuffle_partitions=self.nproc, extra_conf=conf)
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
        self.spark = self.jvm = None

    def kill(self) -> None:
        """Deadline: end the JVM (and so its Python workers) and exit."""
        sys.stderr.write("perfbench: run deadline passed, aborting\n")
        if self.jvm is not None:
            self.jvm.kill()
            self.jvm.wait()
        shutil.rmtree(self.dir, ignore_errors=True)
        os._exit(3)

    # -------------------------------------------------------------- ops
    def attempt(self, fn):
        """Run one op under a timeout: (ok, wall seconds, result)."""
        sc = self.spark.sparkContext
        fired = threading.Event()

        def cancel():
            fired.set()
            sc.cancelAllJobs()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        t0 = time.perf_counter()
        try:
            res = fn()
            ok = not fired.is_set()
        except Exception:  # an op failure is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        finally:
            timer.cancel()
        return ok, time.perf_counter() - t0, res


def expected_for(workload: str, seed: int):
    if not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as f:
        table = json.load(f).get(workload, {})
    return table.get(str(seed))


def record_expected(workload: str, seed: int, fp) -> None:
    table = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            table = json.load(f)
    table.setdefault(workload, {})[str(seed)] = fp
    with open(EXPECTED, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def layer_metrics(tracer, events, notes, traced_ops, start_s, overhead, op_wall):
    """Per-layer figures of a traced run: the session and set-up phases
    counted once, plus the mean over traced ops (``traced_ops`` maps op id
    to the wall time ``Run.attempt`` measured for it)."""
    import spans as tr

    breakdown = tr.op_breakdown(tracer.spans)
    counters = tr.layer_counters(tracer.spans, tr.job_counters(events))
    n = max(1, len(traced_ops))
    m = {k: 0.0 for k in per_layer_names()}

    def add(key, value, weight):
        if key in m:
            m[key] += value * weight

    for op, layers in breakdown.items():
        w = 1.0 if op in ("session", "setup") else (1 / n if op in traced_ops else 0)
        for layer, secs in layers.items():
            if layer != tr.DRIVER_OTHER or op in traced_ops:
                add(f"{layer}.self_s", secs, w)
        for layer, cs in counters.get(op, {}).items():
            if layer != tr.DRIVER_OTHER or op in traced_ops:
                for k, v in cs.items():
                    add(f"{layer}.{k}", v, w)
        for k, v in notes.get(op, {}).items():
            add(k, v, w)
    m["session.self_s"] += start_s
    m["session.start_s"] = start_s
    m["relations.resolved_ratio"] = (notes_mean(notes, traced_ops, "relations.resolved")
                                     / max(1, m["relations.candidates_in"]))
    m["linking.confirm_ratio"] = m["linking.confirmed_pairs"] / max(1, m["linking.candidate_pairs"])
    m["trace.op_wall_s"] = op_wall
    m["trace.overhead_ratio"] = overhead
    errors = tr.nesting_errors(tracer.spans) + tr.attribution_errors(breakdown, traced_ops)
    return m, breakdown, counters, errors


def notes_mean(notes, ops, key) -> float:
    return sum(notes.get(op, {}).get(key, 0) for op in ops) / max(1, len(ops))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this seed's output fingerprint in expected.json")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "agraph_spark")):
        sys.stderr.write(f"perfbench: the engine (agraph_spark/) is not in {ROOT}\n")
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; "
                         f"one of {sorted(wl.WORKLOADS)}\n")
        return 2
    contended = other_spark_jvms()
    if contended:
        sys.stderr.write(f"perfbench: other Spark JVMs are running ({contended}); "
                         "this result is flagged as contended\n")

    run = Run(args)
    run.probe = host_probe_s()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run.arm_deadline()
    env = {k: os.environ.get(k) for k in ("SPARK_LOCAL_DIRS", "TMPDIR")}
    tmp = tempfile.tempdir
    try:
        return measure(run, wl, args, contended)
    finally:
        run.deadline.cancel()
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
        # the run pointed temp files into its own directory, now gone
        for k, v in env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = tmp


def measure(run: Run, wl, args, contended) -> int:
    from stats import FAILED, tail

    phases = {}
    t_phase = time.perf_counter()
    start_s = run.start_session()
    spark = run.spark
    tracer = None
    if args.trace:
        import spans as tr

        tracer = tr.Tracer(spark.sparkContext)
    w = wl.WORKLOADS[args.workload]()
    ctx = wl.Ctx(spark, os.path.join(run.dir, "work"), os.path.join(WORK, "cache"), args.seed,
                 source_id()["source_sha256"])
    phases["session_s"] = time.perf_counter() - t_phase
    if hasattr(w, "prepare"):
        # inputs built once per checkout (untraced; not part of set-up)
        t_phase = time.perf_counter()
        if w.prepare(ctx):
            # building warmed this JVM: restart, so that set-up starts as
            # cold as on every run that finds the inputs built
            run.stop()
            shutil.rmtree(os.path.join(run.dir, "events"), ignore_errors=True)
            start_s = run.start_session()
            ctx.spark = spark = run.spark
            if tracer is not None:
                tracer = tr.Tracer(spark.sparkContext)
            # only the first run of a checkout builds, and it may take
            # longer: the rest of the run gets the whole deadline
            run.arm_deadline()
        phases["prepare_s"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()

    # set-up, repeated where it is cheap; the median is reported
    setups = []
    for _ in range(1 if args.trace else w.setup_reps):
        ctx.op = "setup"
        ctx.tracer = tracer
        t0 = time.perf_counter()
        with ctx.span("setup", op="setup"):
            w.setup(ctx)
        setups.append(time.perf_counter() - t0)
    ctx.tracer = None

    phases["setup_s"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    # A traced run compares traced with untraced ops, so it warms up with a
    # whole op, and both kinds run warm. An untraced run warms up where the
    # workload has a warm-up (see workloads.py).
    ctx.op = "session"
    if tracer is not None:
        with tracer.span("warmup", op="session"), tracer.span("session"):
            w.op(ctx, -1)
    elif hasattr(w, "warm_up"):
        w.warm_up(ctx)

    phases["warmup_s"] = time.perf_counter() - t_phase
    ops: list[Op] = []
    t_start = time.perf_counter()
    i = 0
    min_ops = max(w.min_ops, 2 if tracer is not None else 1)
    while i < min_ops or time.perf_counter() - t_start < args.seconds:
        traced = tracer is not None and i % 2 == 1
        op_id = f"op{i}"
        ctx.op = op_id
        ctx.tracer = tracer if traced else None
        state = w.before(ctx) if traced and hasattr(w, "before") else None

        def call(i=i, traced=traced, op_id=op_id):
            if traced:
                with tracer.span(args.workload, op=op_id):
                    return w.op_traced(ctx, i)
            return w.op(ctx, i)

        ok, wall, res = run.attempt(call)
        ctx.tracer = None
        if ok and state is not None:
            w.after(ctx, state)
        ops.append(Op(op_id, traced, ok, wall if ok else FAILED, res[0] if ok else 0,
                      w.fingerprint(ctx, res[1]) if ok else None))
        i += 1

    phases["window_s"] = time.perf_counter() - t_start
    t_phase = time.perf_counter()
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.ok)
    good = [o for o in ops if o.ok]
    errors = w.check(ctx, [o.fingerprint for o in ops]) if good else ["every op failed"]
    fp0 = good[0].fingerprint if good else None
    want = expected_for(args.workload, args.seed)
    if want is not None and fp0 is not None and want != json.loads(json.dumps(fp0)):
        errors.append(f"{args.workload}: output {fp0} != recorded {want}")
    if args.record and fp0 is not None and not errors:
        record_expected(args.workload, args.seed, fp0)

    phases["checks_s"] = time.perf_counter() - t_phase
    rss = vm_hwm_mb("self")
    walls = [o.wall for o in ops if not o.traced]
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": run.nproc, "master": f"local[{run.nproc}]",
        "host": platform.node(), "contended_spark_jvms": contended,
        "host_probe_s": run.probe,
        "python": platform.python_version(), **versions(), **source_id(),
        "item": w.item, "setup_s_samples": setups, "ops": attempted, "failed": failed,
        "op_walls_s": [o.wall if o.ok else None for o in ops],
        "errors": errors, "fingerprint": fp0, "phases": phases,
    }
    if args.trace:
        metrics, meta_extra = traced_metrics(run, args, tracer, ctx, ops, start_s)
        meta.update(meta_extra)
        errors.extend(meta_extra["attribution_errors"])
    else:
        p50 = statistics.median(walls)
        # The tail needs 11 ops, which no run reaches within its time budget:
        # reported in the metadata with its percentile and sample count, not
        # as a metric.
        tail_v, tail_pct, tail_n = tail(walls)
        done = [o for o in good if not o.traced]
        meta["op_tail"] = {"value_s": tail_v, "percentile": tail_pct, "samples": tail_n}
        if hasattr(w, "kind_s"):
            meta["kind_p50_s"] = {k: statistics.median([d[k] for d in w.kind_s])
                                  for k in w.KINDS}
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "op_p50_s": (p50, "s"),
            "items_per_s": (statistics.median(o.items for o in done) / p50, "1/s"),
            "success_rate": ((attempted - failed) / attempted, "ratio"),
            "driver_peak_rss_mb": (rss, "MB"),
        }
    if any(not math.isfinite(v) for v, _ in metrics.values()):
        sys.stderr.write("perfbench: a metric is undefined (every op failed)\n")
        return 4
    print("# meta " + json.dumps(meta, default=str), flush=True)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    for e in errors:
        sys.stderr.write(f"perfbench: check failed: {e}\n")
    return 1 if errors else 0


def traced_metrics(run: Run, args, tracer, ctx, ops, start_s):
    """Stop the session (flushing the event log), attribute, and write the
    spans and the per-op breakdown out."""
    import spans as tr

    traced = [o for o in ops if o.traced and o.ok]
    plain = [o for o in ops if not o.traced and o.ok]
    op_wall = statistics.median([o.wall for o in traced]) if traced else 0.0
    overhead = (op_wall / statistics.median([o.wall for o in plain]) - 1) if traced and plain else 0.0
    run.stop()
    events = tr.read_event_log(os.path.join(run.dir, "events"))
    metrics, breakdown, counters, attribution_errors = layer_metrics(
        tracer, events, ctx.notes, {o.id: o.wall for o in traced}, start_s, overhead, op_wall)
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": [vars(s) for s in tracer.spans],
                   "self_s": breakdown, "counters": counters, "notes": ctx.notes,
                   "per_layer": metrics}, f, indent=1, default=str)
    return ({k: (v, unit_of(k)) for k, v in metrics.items()},
            {"trace_file": os.path.relpath(path, ROOT), "attribution_errors": attribution_errors,
             "traced_ops": len(traced), "untraced_ops": len(plain)})


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_new_row"):
        return "bytes/row"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__}


if __name__ == "__main__":
    sys.exit(main())
