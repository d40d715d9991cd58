"""Layered benchmark of the engine: analytics queries, iterative operators
and a month-by-month NYC-taxi replay.

Run from the repository root::

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 24 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` prints every
per-layer metric instead (see perfbench/README.md). The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the machine's state. Inputs are generated from
``--seed`` under ``perfbench/_work/`` and removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
)

#: Key prefixes of the iterative key set.
FAMILIES = ("graph", "llm", "ml", "stream")

PER_LAYER = (
    ("session.import_s", "s"),
    ("session.jvm_launch_s", "s"),
    ("session.boot_s", "s"),
    ("session.cold_boot_s", "s"),
    ("catalog.load_table_calls", "count"),
    ("catalog.load_table_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.build_job_s", "s"),
    ("queries.build_self_s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.core_util", "ratio"),
    ("exec.input_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.failed_tasks", "count"),
    *(
        (f"{metric}.{fam}", unit)
        for fam in FAMILIES
        for metric, unit in (
            ("queries.build_s", "s"), ("queries.build_jobs", "count"),
            ("exec.s", "s"), ("exec.jobs", "count"),
        )
    ),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "bytes"),
    ("ingest.run_s", "s"),
    ("ingest.jobs", "count"),
    ("ingest.rows", "count"),
    ("ingest.files", "count"),
    ("rollup.upsert_s", "s"),
    ("rollup.jobs", "count"),
    ("rollup.partitions_rewritten", "count"),
    ("rollup.upsert_growth", "ratio"),
    ("atomic.vacuum_s", "s"),
    ("atomic.snapshots_removed", "count"),
    ("archive.s", "s"),
    ("silver.files", "count"),
    ("silver.bytes_per_input_byte", "ratio"),
    ("gold.files", "count"),
    ("gold.bytes_per_live_byte", "ratio"),
    ("storage.stored_bytes_ratio", "ratio"),
    ("op.self_s", "s"),
    ("trace.overhead_frac", "ratio"),
)

SETUP_REPS = 3
DRIVER_MEMORY = "2g"


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def machine_state(seed: int) -> dict:
    """Load average, other Spark JVMs on the box, usable cores, seed."""
    others = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "java" in cmd and "spark" in cmd.lower():
            others += 1
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "other_spark_jvms": others,
        "nproc": len(os.sched_getaffinity(0)),
        "seed": seed,
    }


class JvmLaunchTimer:
    """Times pyspark's JVM launch, the one set-up step a process pays once:
    wraps ``launch_gateway`` where ``SparkContext`` looks it up."""

    def __init__(self) -> None:
        import pyspark.core.context as ctx

        self.seconds = 0.0
        original = ctx.launch_gateway

        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t

        ctx.launch_gateway = timed


def warmup_query(spark) -> None:
    spark.range(1 << 16).selectExpr("id % 7 AS k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()


class Session:
    """The benchmark's Spark session: set up several times, rebooted
    between windows of a traced run, and shut down with its JVM."""

    def __init__(self, work: str, cores: int) -> None:
        self.master = f"local[{cores}]"
        self.spark = None
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        self.event_log = os.path.join(work, "eventlog")

    def boot(self, traced: bool = False) -> tuple[float, float]:
        """(Re)start the SparkSession, tune it, build the registry and run
        the warm-up query. Returns the seconds ``get_spark`` took and the
        seconds the whole boot took."""
        from serverless_etl_aws_spark import session
        from serverless_etl_aws_spark.queries import build_registry

        if self.spark is not None:
            self.spark.stop()
        conf = dict(self.conf)
        if traced:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            })
        t = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", master=self.master, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        boot_s = time.perf_counter() - t
        session.tune_for_session(self.spark)
        build_registry()
        warmup_query(self.spark)
        return boot_s, time.perf_counter() - t

    def setup(self) -> dict:
        """``setup_s`` = engine import + JVM launch (once per process) +
        the median of ``SETUP_REPS`` session boots (SparkSession, tuning,
        registry, warm-up query) in the launched JVM."""
        t = time.perf_counter()
        from serverless_etl_aws_spark.queries import build_registry

        build_registry()
        import_s = time.perf_counter() - t
        jvm = JvmLaunchTimer()
        totals, boots = [], []
        for _ in range(SETUP_REPS):
            before = jvm.seconds
            boot_s, total = self.boot()
            launch = jvm.seconds - before
            totals.append(total - launch)
            boots.append(boot_s - launch)
        return {
            "setup_s": import_s + jvm.seconds + statistics.median(totals),
            "session.import_s": import_s,
            "session.jvm_launch_s": jvm.seconds,
            "session.boot_s": statistics.median(boots),
            "session.cold_boot_s": totals[0],
        }

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        proc = self._jvm_proc()
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    @staticmethod
    def _jvm_proc():
        from pyspark import SparkContext

        return getattr(SparkContext._gateway, "proc", None)

    def stop_context(self) -> str | None:
        if self.spark is None:
            return None
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app_id

    def shutdown(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin closes)
        and wait for it and every process it started."""
        from pyspark import SparkContext

        proc = self._jvm_proc()
        kids = _descendants(proc.pid) if proc is not None else []
        self.stop_context()
        if proc is None:
            return
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        cur = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == cur]
        out.extend(kids)
        frontier.extend(kids)
    return out


def end_to_end(setup: dict, win, rss_mb: float) -> dict:
    lat = win.latencies or [0.0]
    return {
        "setup_s": setup["setup_s"],
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(win.latencies) / win.wall,
        "rows_per_s": win.rows / win.wall,
        "peak_rss_mb": rss_mb,
    }


def overhead(untraced, traced) -> float:
    """Traced ÷ untraced time over the ops both windows ran, minus one.
    Both windows start at the same point (a pass start, or month 1)."""
    k = min(len(untraced.latencies), len(traced.latencies))
    base = sum(untraced.latencies[:k])
    return sum(traced.latencies[:k]) / base - 1.0 if base else 0.0


def layer_metrics(tracer, jobs, progress, win, cores: int) -> tuple[dict, list]:
    """Per-layer metrics of one traced window, per unit of work (a full
    pass over the keys, or a replayed month), and the ops whose layer
    spans do not add up to the op."""
    from spans import attach_jobs, children_of, covered, self_time

    attach_jobs(tracer, jobs)
    kids = children_of(tracer.spans)
    by_id = {s.id: s for s in tracer.spans}
    m = {name: 0.0 for name, _ in PER_LAYER}
    bad_ops = []

    def jobs_under(span):
        out, stack = [], [span.id]
        while stack:
            for c in kids[stack.pop()]:
                (out.append(c) if c.kind == "job" else stack.append(c.id))
        return out

    def job_cover(span, js):
        return covered(span.start, span.end, [(j.start, j.end) for j in js])

    exec_wall = 0.0
    upserts = []
    ops = [s for s in tracer.spans if s.kind == "op"]
    for s in tracer.spans:
        js = jobs_under(s) if s.kind != "job" else []
        fam = by_id[s.parent].attrs.get("family") if s.parent is not None else None
        if s.kind == "load_table":
            m["catalog.load_table_calls"] += 1
            m["catalog.load_table_s"] += s.duration
        elif s.kind == "build":
            cov = job_cover(s, js)
            m["queries.build_s"] += s.duration
            m["queries.build_jobs"] += len(js)
            m["queries.build_job_s"] += cov
            m["queries.build_self_s"] += s.duration - cov
            if fam in FAMILIES:
                m[f"queries.build_s.{fam}"] += s.duration
                m[f"queries.build_jobs.{fam}"] += len(js)
        elif s.kind == "exec":
            m["exec.s"] += s.duration
            m["exec.jobs"] += len(js)
            for j in js:
                a = j.attrs
                m["exec.stages"] += a["stages"]
                m["exec.tasks"] += a["tasks"]
                m["exec.failed_tasks"] += a["failed_tasks"]
                m["exec.task_run_s"] += a["task_run_s"]
                m["exec.input_bytes"] += a["input_bytes"]
                m["exec.shuffle_write_bytes"] += a["shuffle_write_bytes"]
                m["exec.spill_bytes"] += a["spill_bytes"]
            exec_wall += s.duration
            if fam in FAMILIES:
                m[f"exec.s.{fam}"] += s.duration
                m[f"exec.jobs.{fam}"] += len(js)
        elif s.kind == "ingest":
            m["ingest.run_s"] += s.duration
            m["ingest.jobs"] += len(js)
            m["ingest.rows"] += s.attrs.get("rows", 0)
            m["ingest.files"] += s.attrs.get("files", 0)
        elif s.kind == "upsert":
            upserts.append(s.duration)
            m["rollup.upsert_s"] += s.duration
            m["rollup.jobs"] += len(js)
            m["rollup.partitions_rewritten"] += s.attrs.get("partitions", 0)
        elif s.kind == "archive":
            m["archive.s"] += s.duration
        elif s.kind == "vacuum":
            m["atomic.vacuum_s"] = s.duration
            m["atomic.snapshots_removed"] = s.attrs.get("removed", 0)
        elif s.kind == "op":
            layers = sorted(
                (c for c in kids[s.id] if c.kind != "job"), key=lambda c: c.start
            )
            inside = all(s.start <= c.start and c.end <= s.end for c in layers)
            disjoint = all(a.end <= b.start for a, b in zip(layers, layers[1:]))
            self_s = self_time(s, layers)
            summed = sum(c.duration for c in layers) + self_s
            if not (inside and disjoint and abs(summed - s.duration) < 1e-6):
                bad_ops.append(s.name)
            m["op.self_s"] += self_s
    m["exec.core_util"] = m["exec.task_run_s"] / (exec_wall * cores) if exec_wall else 0.0

    if ops:
        lo, hi = ops[0].start, max(s.end for s in ops)
        batches = [p for p in progress if lo <= p.time <= hi]
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(p.batch_s for p in batches)
        m["streaming.state_rows"] = max((p.state_rows for p in batches), default=0)
        m["streaming.state_mem_bytes"] = max(
            (p.state_mem_bytes for p in batches), default=0
        )
    if upserts:
        third = max(1, len(upserts) // 3)
        m["rollup.upsert_growth"] = (
            statistics.mean(upserts[-third:]) / statistics.mean(upserts[:third])
        )

    once = {
        "exec.core_util", "streaming.state_rows", "streaming.state_mem_bytes",
        "rollup.upsert_growth", "atomic.vacuum_s", "atomic.snapshots_removed",
    }
    units = max(win.units, 1)
    for name in m:
        if name not in once:
            m[name] /= units
    m.update(win.extra)
    return m, bad_ops


def run(args) -> int:
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temp file, spill dir and scratch staging inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the small JVM spark-submit runs to build the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)

    import workloads
    from spans import Tracer, event_log_files, read_event_log

    state = machine_state(args.seed)
    ticks0 = cpu_ticks()
    cores = state["nproc"]
    wl = workloads.make(args.workload, work, args.seed)
    wl.prepare()

    sess = Session(work, cores)
    phases = {"start": time.perf_counter()}
    try:
        setup = sess.setup()
        phases["setup"] = time.perf_counter()
        checks = wl.gate(sess.spark)
        phases["gate"] = time.perf_counter()
        off = Tracer(False)
        if not args.trace:
            win = wl.window(sess.spark, off, args.seconds, "run")
            checks += wl.post(sess.spark, win)
            windows = [win]
            metrics = end_to_end(setup, win, sess.peak_rss_mb())
            metric_units = dict(END_TO_END)
        else:
            import serverless_etl_aws_spark.catalog as catalog

            # The traced window runs first, so the untraced one gets the
            # longer warm-up and trace.overhead_frac errs high, not low.
            sess.boot(traced=True)
            tracer = Tracer(True)
            load_table = catalog.load_table

            def traced_load_table(spark, sf_dir, name):
                with tracer.span(name, "load_table"):
                    return load_table(spark, sf_dir, name)

            catalog.load_table = traced_load_table
            try:
                win = wl.window(sess.spark, tracer, args.seconds, "traced")
            finally:
                catalog.load_table = load_table
            checks += wl.post(sess.spark, win)
            app_id = sess.spark.sparkContext.applicationId
            sess.boot()  # stopping the traced context completes its event log
            plain = wl.window(sess.spark, off, args.seconds, "plain")
            windows = [win, plain]
            log_files = event_log_files(sess.event_log, app_id)
            checks.append(workloads.Check("event log found", bool(log_files)))
            jobs, progress = read_event_log(log_files)
            metrics, bad_ops = layer_metrics(tracer, jobs, progress, win, cores)
            metrics.update({k: v for k, v in setup.items() if k in metrics})
            metrics["trace.overhead_frac"] = overhead(plain, win)
            checks.append(workloads.Check(
                "op = layer spans + self time", not bad_ops, ", ".join(bad_ops)
            ))
            tracer.dump(os.path.join(HERE, "_work", f"trace-{args.workload}.jsonl"))
            metric_units = dict(PER_LAYER)
    finally:
        phases["window"] = time.perf_counter()
        sess.shutdown()
        phases["shutdown"] = time.perf_counter()
        shutil.rmtree(work, ignore_errors=True)

    for c in checks:
        if not c.ok:
            print(f"perfbench: check {c.name} FAILED {c.detail}", file=sys.stderr)
    failed = sum(not c.ok for c in checks) + sum(w.failed for w in windows)
    attempted = len(checks) + sum(w.attempted for w in windows)
    ticks1 = cpu_ticks()
    state.update({
        # share of this VM's CPU time the hypervisor gave to other guests
        "steal_frac": round((ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]), 4),
        "workload": args.workload,
        "ops": [w.attempted for w in windows],
        "units": [w.units for w in windows],
        "window_s": [round(w.wall, 3) for w in windows],
        "op_s": [
            [[n, round(t, 3)] for n, t in zip(w.names, w.latencies)] for w in windows
        ],
        "phase_s": {
            k: round(v - phases["start"], 2) for k, v in phases.items() if k != "start"
        },
        "setup": {k: round(v, 3) for k, v in setup.items()},
    })
    print(json.dumps({"context": state}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in metric_units.items()
        },
    }), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics", "iterative", "taxi_replay"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "serverless_etl_aws_spark")):
        print("perfbench: the engine package serverless_etl_aws_spark/ is not "
              "next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
