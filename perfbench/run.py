#!/usr/bin/env python3
"""End-to-end benchmark of geeflow_spark as its binaries run.

    python3 perfbench/run.py --workload generate --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. One process: it starts the session the CLI
entry points use (`geeflow_spark.session.get_spark` at local[nproc]),
generates the workload's inputs from --seed, sets up five times (the
median is `setup_s`), runs one untimed warm-up operation, then runs
operations back to back for --seconds, checks every operation's output
outside the timed loop, and prints the metrics. Lines starting with '#'
are a readable summary (seed, input sizes and nproc beside every number);
the last line is one JSON object.

--trace 0 reports the end-to-end metrics. --trace 1 turns on Spark's event
log, alternates plain and traced operations (spans around each layer
call, each span its own Spark job group), runs the single-layer probes,
and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5

END_TO_END = {"op_p50_s": "s", "rows_per_s": "1/s", "setup_s": "s",
              "out_bytes_per_in_byte": "ratio"}


def per_layer_units() -> dict:
    """The unit of every per-layer metric, as --trace 1 reports them."""
    from workloads import CORPUS_STEPS
    return {
        "failed_ratio": "ratio", "op_samples": "count", "peak_rss_mb": "MB",
        "trace.op_p50_s": "s", "trace.overhead_s": "s",
        "setup.jvm_start_s": "s", "setup.warmup_s": "s",
        "host.steal_share": "ratio",
        "sources.scan_s": "s", "spark.input_bytes": "bytes",
        "functions.s2.encode_us_per_row": "us",
        "functions.geometry.pip_us_per_pair": "us",
        "functions.utm.us_per_row": "us",
        "functions.s2.ring_us_per_cell": "us",
        "spatial_join.covers_s": "s",
        "spatial_join.candidates_per_doc": "count",
        "spatial_join.pip_hit_ratio": "ratio",
        "arrow.to_python_bytes": "bytes", "arrow.from_python_bytes": "bytes",
        "arrow.from_python_rows": "count",
        "generate.compute_s": "s", "checkpoint.write_s": "s",
        "checkpoint.kernel_passes": "count",
        "corpus.op_s": "s",
        **{f"corpus.{s}.{k}": u for s in CORPUS_STEPS
           for k, u in (("s", "s"), ("jobs", "count"),
                        ("rows_out", "count"))},
        "config.source_s": "s", "reducers.median_s": "s",
        "reducers.mosaic_s": "s", "reducers.groups": "count",
        "knn.batch_s": "s", "knn.data_prep_s": "s",
        "knn.jobs_per_batch": "count",
        "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.task_skew": "ratio", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.gc_s": "s", "spark.peak_exec_mem_bytes": "bytes",
        "spark.output_bytes": "bytes", "driver.gap_s": "s",
        "pins.live_count": "count", "pins.live_bytes": "bytes",
        **{f"self_s.{layer}": "s" for layer in (
            "op", "plans.generate", "plans.checkpoint", "plans.corpus",
            "plans.config", "operators.reducers")},
    }


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True,
                   choices=("generate", "composite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- processes and memory -----------------------------------------------------

def process_tree(pid: int) -> list[int]:
    """pid and all its descendants (the driver JVM and its Python
    workers)."""
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as f:
                    stack += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            continue
    return out


def reset_peak_rss(pids) -> None:
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except FileNotFoundError:
            pass


def peak_rss_mb(pids) -> list[float]:
    """Each process's peak resident set (VmHWM) since the reset, in MB."""
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out.append(int(line.split()[1]) / 1024.0)
        except FileNotFoundError:
            pass
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the machine so far, from /proc/stat:
    stolen is time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


# -- session ---------------------------------------------------------------

class Session:
    """The CLI's session, started and restarted inside one JVM."""

    def __init__(self, work: str, trace: bool):
        self.extra = None
        if trace:
            self.eventlog_dir = os.path.join(work, "eventlog")
            os.makedirs(self.eventlog_dir)
            self.extra = {"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + self.eventlog_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"}
        self.spark = None

    def start(self):
        from geeflow_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=self.extra)
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def pins(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return (int(jsc.getPersistentRDDs().size()),
                int(sum(i.memSize() + i.diskSize() for i in infos)))

    def stop(self) -> str | None:
        """Stops the session and the JVM; returns the event log path."""
        from pyspark import SparkContext
        log = None
        if self.spark is not None:
            app = self.spark.sparkContext.applicationId
            self.spark.stop()
            self.spark = None
            if self.extra:
                log = os.path.join(self.eventlog_dir, app)
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
                except Exception:
                    proc.kill()
                    proc.wait()
        return log


# -- metrics -----------------------------------------------------------------

def median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def layer_metrics(tr, log, ops, probe, units) -> dict:
    """Per-layer metrics from the traced operations' spans and the
    event log, plus the workload's single-layer probes."""
    from spans import covered_s
    from workloads import CORPUS_STEPS
    m = {k: 0.0 for k in units}
    traced = [o for o in ops if o["traced"]]
    op_spans = {s["op"]: s for s in tr.named("op")}
    per_op = []
    for o in traced:
        sp = op_spans[o["i"]]
        groups = tr.subtree_groups(sp["id"])
        s = log.summary(groups)
        s["gap"] = (sp["end"] - sp["start"]) - covered_s(
            log.job_intervals(groups), sp["start"], sp["end"])
        per_op.append(s)

    def avg(key):
        return statistics.fmean(p.get(key, 0) for p in per_op) \
            if per_op else 0.0
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "task_skew", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "gc_s",
                "peak_exec_mem_bytes", "output_bytes", "input_bytes"):
        m[f"spark.{key}"] = avg(key)
    m["driver.gap_s"] = avg("gap")
    m["arrow.to_python_bytes"] = avg("py:data sent to Python workers")
    m["arrow.from_python_bytes"] = avg(
        "py:data returned from Python workers")
    m["arrow.from_python_rows"] = avg("py:number of output rows")

    def spans(name):
        return [s for s in tr.named(name) if s["op"] is not None]

    def dur(name):
        return median([s["end"] - s["start"] for s in spans(name)])

    def self_s(*names):
        per = {}
        for n in names:
            for s in spans(n):
                per[s["op"]] = per.get(s["op"], 0.0) + tr.self_time(s["id"])
        return median(list(per.values()))

    m["self_s.op"] = self_s("op")
    for layer in ("plans.generate", "plans.checkpoint", "plans.corpus",
                  "plans.config"):
        m[f"self_s.{layer}"] = self_s(layer)
    m["self_s.operators.reducers"] = self_s("operators.reducers.median",
                                            "operators.reducers.mosaic")
    m["checkpoint.write_s"] = dur("plans.checkpoint")
    m["checkpoint.kernel_passes"] = median(
        [log.summary(tr.subtree_groups(s["id"]))["python_stages"]
         for s in spans("plans.checkpoint")])
    m["config.source_s"] = dur("plans.config")
    m["reducers.median_s"] = dur("operators.reducers.median")
    m["reducers.mosaic_s"] = dur("operators.reducers.mosaic")
    groups_per_op = {}
    for s in tr.spans:
        if s["name"].startswith("operators.reducers."):
            groups_per_op[s["op"]] = groups_per_op.get(s["op"], 0) + \
                log.summary(tr.subtree_groups(s["id"]))["output_records"]
    m["reducers.groups"] = median(list(groups_per_op.values()))
    for step in CORPUS_STEPS:
        m[f"corpus.{step}.s"] = dur(f"corpus.{step}")
        m[f"corpus.{step}.jobs"] = median(
            [log.jobs_between(tr.subtree_groups(s["parent"]),
                              s["start"], s["end"])
             for s in spans(f"corpus.{step}")])
    for sp in tr.named("operators.knn"):
        groups = tr.subtree_groups(sp["id"])
        m["knn.data_prep_s"] = log.first_action_s(groups)
        m["knn.jobs_per_batch"] = log.summary(groups)["jobs"]
    m.update(probe)
    return m


# -- main --------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geeflow_spark",
                                       "__init__.py")):
        print("perfbench: no geeflow_spark package beside perfbench/; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    n = nproc()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "out"):
        os.makedirs(os.path.join(work, d))
    # The CLI's session at local[nproc]; every file Spark, the JVM and
    # the Python workers write stays under the work dir.
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    session = Session(work, bool(args.trace))
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, n, work, session)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)


def run(args, n, work, session) -> int:
    from inputs import dir_bytes
    from spans import EventLog, Tracer
    from workloads import WORKLOADS, fresh_dir
    per_layer = per_layer_units()

    wl = WORKLOADS[args.workload](args.seed, args.scale,
                                  os.path.join(work, "in"))
    # JVM launch and its first job; the set-ups below restart the
    # session inside this JVM, so each repetition has the same shape.
    t0 = time.perf_counter()
    session.start().range(1).count()
    jvm_start = time.perf_counter() - t0
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = session.start()
        wl.make_inputs()
        wl.open(spark)
        setup.append(time.perf_counter() - t0)

    tr = Tracer(bool(args.trace), spark)
    plain = Tracer(False)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warmup = time.perf_counter() - t0

    ops = []
    # At least three operations run. The first one still runs 20-40%
    # slower than the ones after it (the JIT keeps compiling); as the
    # slowest sample it does not set the median. Traced runs alternate plain
    # (even) and traced (odd) operations.
    min_ops = 3
    steal0, total0 = cpu_jiffies()
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < args.seconds
           or len(ops) < min_ops):
        i = len(ops)
        out = fresh_dir(os.path.join(work, "out", f"op{i}"))
        traced = bool(args.trace) and i % 2 == 1
        op_tr = tr if traced else plain
        reset_peak_rss(process_tree(session.jvm_pid()))
        t0 = time.perf_counter()
        ok = True
        try:
            with op_tr.span("op", i):
                wl.op(spark, i, op_tr, out)
        except Exception:
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        peaks = peak_rss_mb(process_tree(session.jvm_pid()))
        ops.append({"i": i, "wall": wall, "ok": ok, "traced": traced,
                    "out": out, "out_bytes": dir_bytes(out),
                    "rss_mb": sum(peaks), "rss_parts": peaks})
    steal1, total1 = cpu_jiffies()
    live_pins = session.pins()

    errors = []
    try:
        errors = wl.check(spark, [o["out"] for o in ops if o["ok"]])
    except Exception:
        traceback.print_exc()
        errors = [(o["out"], "check raised") for o in ops]
    bad = {out for out, _ in errors}
    for out, msg in errors:
        print(f"perfbench: check failed: {out}: {msg}", file=sys.stderr)
    for o in ops:
        o["ok"] = o["ok"] and o["out"] not in bad
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)

    probe = {}
    if args.trace:
        try:
            probe, checks = wl.probe(spark, tr)
        except Exception:
            traceback.print_exc()
            checks = {"probe": ["raised"]}
        for name, msgs in checks.items():
            attempted += 1
            failed += bool(msgs)
            for msg in msgs:
                print(f"perfbench: check failed: {name}: {msg}",
                      file=sys.stderr)

    log_path = session.stop()

    good = [o for o in ops if o["ok"]] or ops
    walls = [o["wall"] for o in ops]
    op_p50 = median([o["wall"] for o in ops if not o["traced"]])
    e2e = {
        "op_p50_s": op_p50,
        "rows_per_s": wl.in_rows / op_p50,
        "setup_s": median(setup),
        "peak_rss_mb": median([o["rss_mb"] for o in ops]),
        "out_bytes_per_in_byte": median(
            [o["out_bytes"] / wl.in_bytes for o in good]),
    }
    if args.trace:
        metrics = {**layer_metrics(tr, EventLog(log_path), ops, probe,
                                   per_layer), **e2e}
        traced_walls = [o["wall"] for o in ops if o["traced"]]
        metrics["trace.op_p50_s"] = median(traced_walls)
        metrics["trace.overhead_s"] = (metrics["trace.op_p50_s"]
                                       - e2e["op_p50_s"])
        metrics["pins.live_count"], metrics["pins.live_bytes"] = live_pins
        units = per_layer
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".bench_out",
                             f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics, units = e2e, END_TO_END
    metrics["failed_ratio"] = failed / attempted
    metrics["op_samples"] = len(ops)
    metrics["setup.jvm_start_s"] = jvm_start
    metrics["setup.warmup_s"] = warmup
    metrics["host.steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)

    print(f"# perfbench workload={wl.name} seed={args.seed} nproc={n} "
          f"scale={args.scale} size={wl.size} "
          f"in_rows={wl.in_rows} ({wl.ROWS_UNIT}) "
          f"in_bytes={wl.in_bytes} trace={args.trace}")
    print(f"# ops={len(ops)} walls_s="
          + ",".join(f"{w:.3f}" for w in walls)
          + f" setup_s=" + ",".join(f"{s:.3f}" for s in setup)
          + f" failed={failed}/{attempted}")
    print("# peak_rss_mb per op (jvm+workers): " + " ".join(
        "+".join(f"{p:.0f}" for p in o["rss_parts"]) for o in ops))
    all_units = {**END_TO_END, **per_layer}
    for k in sorted(metrics):
        print(f"# {k} = {metrics[k]:.6g} {all_units[k]}")
    result = {"correct": failed == 0 and not errors,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
