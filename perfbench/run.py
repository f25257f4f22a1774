"""The repo benchmark: the encode-queue control loop and the query path,
end to end, with a per-layer trace.

    python3 perfbench/run.py --workload drain_50k_status --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, inputs generated from --seed):

* ``drain_50k_status`` -- ``Scheduler.run_cycle`` back to back over a
  50,000-job queue, with a ``bot_status`` read after each cycle.
* ``query_mix``        -- registered queries run in a fixed order, pass
  after pass, in one session, each built with ``q.fn`` and executed to
  the ``noop`` sink.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it spells the
same run out under the wall-clock metric names of README.md
with the environment.  Both are also written to
``.perfbench_results/`` with the traced run's spans.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

SERVER = "Encode Server"
MAX_CONCURRENT = 4
SETUP_REPS = 3
# Steps run before and inside the measured window.  A step's cost
# still drifts with its position while the JVM warms, so every run
# measures the same positions: --seconds only adds steps.
WARMUP_CYCLES = 1
MIN_CYCLES = 3
MIN_PASSES = 2
DRIVER_MEMORY = "4g"
MIX_SCALE = 0.005  # analytic tables: 30,000 lineitem rows

DRAIN = {"drain_50k_status": {"n_jobs": 50_000, "n_media": 2_000}}

# Three of the 16 frozen bench.py headline queries, then two multi-job
# heavy queries; five plan modules, few enough that the cold checked
# pass and two measured passes fit one run.
HEADLINE = ["poll_topk", "q1_pricing_summary", "dedup_minhash"]
HEAVY = ["corpus_dataset_card", "embedding_density_clusters"]
PLAN_MODULES = ["parity", "tpch", "llm", "curation", "mining"]

# per-layer metric -> (end-to-end metrics it should move, workload).  The
# bounded end-to-end metrics are CPU seconds; after them come their
# wall-clock companions from the detail line.
DRAIN_WL = "drain_50k_status"
CYCLE = "step_cpu_s cycle_p50_s"
COMMIT = "step_cpu_s cycle_p50_s jobs_per_s"
LAYER_TARGETS = {
    "jobs.scheduler.spark_jobs_per_cycle": (CYCLE, DRAIN_WL),
    "jobs.scheduler.spark_stages_per_cycle": (CYCLE, DRAIN_WL),
    "jobs.scheduler.cycle_self_s": (CYCLE, DRAIN_WL),
    "jobs.state.claim_s": (CYCLE, DRAIN_WL),
    "jobs.state.jobs_upsert_s": (COMMIT, DRAIN_WL),
    "jobs.state.vf_upsert_s": (COMMIT, DRAIN_WL),
    "jobs.state.commits_per_cycle": (COMMIT, DRAIN_WL),
    "jobs.state.bytes_written_per_cycle": (COMMIT, DRAIN_WL),
    "jobs.state.rows_rewritten_per_row_changed": (COMMIT, DRAIN_WL),
    "jobs.state.commit_conflicts": ("none: 0 with one writer, else a defect", DRAIN_WL),
    "jobs.state.read_s": ("probe_cpu_s status_read_p50_s", DRAIN_WL),
    "jobs.process.copy_s": (CYCLE, DRAIN_WL),
    "jobs.process.encode_s": (CYCLE, DRAIN_WL),
    "jobs.process.publish_s": (CYCLE, DRAIN_WL),
    **{
        f"plans.{m}.wall_s": (
            "probe_cpu_s headline_wall_s"
            if m in ("parity", "tpch", "llm")
            else "step_cpu_s heavy_wall_s",
            "query_mix",
        )
        for m in PLAN_MODULES
    },
    "plans.build_s": ("step_cpu_s heavy_wall_s", "query_mix"),
    "plans.execute_s": ("probe_cpu_s headline_wall_s", "query_mix"),
    "plans.spark_jobs_per_pass": ("step_cpu_s heavy_wall_s", "query_mix"),
    "plans.build_spark_jobs_per_pass": ("step_cpu_s heavy_wall_s", "query_mix"),
    "plans.persisted_rdds_after_pass": ("step_cpu_s heavy_wall_s", "query_mix"),
    "spark.task_s": ("step_cpu_s", "all"),
    "spark.parallelism": ("cycle_p50_s heavy_wall_s", "all"),
    "spark.shuffle_write_bytes": ("step_cpu_s", "all"),
    "spark.spill_bytes": ("step_cpu_s", "all"),
    "trace.step_cpu_s": ("tracing overhead: this over the untraced step_cpu_s", "all"),
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


# --- environment and process lifetime -----------------------------------------


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside `work`, pin the driver memory below physical RAM, and let
    the Python workers import the benchmark's span wrappers."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # C1 only: with C2 the JVM compiles for over a minute and a step's
    # cost depends on how far that got; C1 settles inside the warm-up.
    # Compiler threads that exit would take their CPU out of the JIT
    # share CpuClock subtracts, so keep them all alive.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1\" "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


CLK_TCK = os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds (user + system, reaped children included) used so far
    by this process, the driver JVM and every process under the JVM:
    the Spark Python workers.  Time the host steals from this machine
    and other tenants' load do not count, which wall time cannot say.

    The JVM's JIT compiler threads are counted apart: they compile in
    the background for tens of seconds after start, so their CPU says
    how warm the JVM is, not what the measured work costs."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, spark) -> None:
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def settle(self) -> None:
        """Wait until Spark's listener bus has processed every event
        posted so far, so bookkeeping for one block's jobs is charged
        to that block and not to the next."""
        self._bus.waitUntilEmpty()

    @staticmethod
    def _ticks(stat_path: str) -> tuple[str, int]:
        with open(stat_path) as f:
            text = f.read()
        comm = text[text.index("(") + 1 : text.rindex(")")]
        fields = text.rsplit(")", 1)[1].split()
        return comm, sum(int(x) for x in fields[11:15])

    def read(self) -> tuple[float, float]:
        """(work CPU seconds, JIT compiler CPU seconds) so far."""
        total = jit = 0
        for pid in (os.getpid(), self.jvm_pid, *_descendants(self.jvm_pid)):
            try:
                total += self._ticks(f"/proc/{pid}/stat")[1]
            except OSError:  # exited since the scan
                continue
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                comm, ticks = self._ticks(f"{task_dir}/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(self.JIT_THREADS):
                jit += ticks
        return (total - jit) / CLK_TCK, jit / CLK_TCK


class Sample:
    """Wall, work-CPU and JIT-CPU seconds of the block it wraps."""

    def __init__(self, cpu: CpuClock) -> None:
        self.cpu_clock = cpu

    def __enter__(self) -> Sample:
        self.cpu_clock.settle()
        self._c0 = self.cpu_clock.read()
        self._w0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_clock.settle()
        self.wall = time.perf_counter() - self._w0
        c1 = self.cpu_clock.read()
        self.cpu = c1[0] - self._c0[0]
        self.jit = c1[1] - self._c0[1]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def heap_retained_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the run left
    live (cached blocks, plans, listeners), free of the collector's
    timing, which moves the resident-set peak by hundreds of MB."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers
    the JVM started, and wait until all of them have exited."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def environment(spark, n_cpu: int) -> dict:
    import pyspark

    return {
        "nproc": n_cpu,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


# --- the drain workloads ----------------------------------------------------------


class Drain:
    """``Scheduler.run_cycle`` back to back over a generated queue."""

    def __init__(self, spark, work: str, seed: int, n_jobs: int, n_media: int):
        t0 = time.perf_counter()
        self.spark = spark
        self.work = work
        self.queue = gen.job_queue(seed, n_jobs, n_media, SERVER)
        self.inputs = gen.write_job_queue(self.queue, os.path.join(work, "input"))
        self.n_media = n_media
        self.generate_s = time.perf_counter() - t0

    def set_up(self, rep: int):
        """The program's set-up: both stores initialised from the
        generated tables, then ``startup_reset``.  Returns the
        scheduler and the number of rows the reset requeued."""
        from encodesrv_spark.jobs.process import ProcessConfig
        from encodesrv_spark.jobs.scheduler import Scheduler, SchedulerConfig
        from encodesrv_spark.jobs.state import JobStore

        d = os.path.join(self.work, f"stores{rep}")
        jobs = JobStore(self.spark, os.path.join(d, "jobs"))
        jobs.init(self.spark.read.parquet(self.inputs["jobs"]))
        vf = JobStore(self.spark, os.path.join(d, "video_files"))
        vf.init(self.spark.read.parquet(self.inputs["video_files"]))
        self.scratch = os.path.join(self.work, "scratch")
        os.makedirs(self.scratch, exist_ok=True)
        sched = Scheduler(
            spark=self.spark,
            jobs=jobs,
            formats=self.spark.createDataFrame(gen.format_rows()),
            video_files=vf,
            process_cfg=ProcessConfig(server=SERVER, scratch_root=self.scratch),
            cfg=SchedulerConfig(
                server=SERVER,
                mount_prefix=self.work + "/input/",
                max_concurrent=MAX_CONCURRENT,
            ),
            sleeper=lambda s: None,
        )
        return sched, sched.startup_reset()

    def run(self, seconds: float, tracer: spans.Tracer, cpu: CpuClock, trace: bool) -> dict:
        from encodesrv_spark.jobs import state

        sc = self.spark.sparkContext
        out: dict = {"attempted": 0, "failed": 0}
        media = os.path.join(self.work, "input", "media")

        def set_up(rep: int, sample=contextlib.nullcontext()):
            with sample:
                sched, n_reset = self.set_up(rep)
            out["attempted"] += 1
            out["failed"] += n_reset != len(self.queue.stale)
            return sched, checks.DrainModel(self.queue, SERVER, media)

        def cycle(sched, model, k: int) -> dict[str, Sample | int]:
            traced = tracer.enabled
            if traced:
                stores = (sched.jobs.path, sched.video_files.path)
                sc.setJobGroup(f"cycle-{k}", "perfbench cycle")
                v0 = sched.jobs.current_version() + sched.video_files.current_version()
                t_wall = time.time()
            with tracer.span("cycle", k=k) as s, Sample(cpu) as c:
                res = sched.run_cycle()
            if traced:
                s.attrs["commits"] = (
                    sched.jobs.current_version() + sched.video_files.current_version() - v0
                )
                s.attrs["bytes"], s.attrs["rows"] = _written_since(stores, t_wall)
                s.attrs.update(spans.group_counters(sc, f"cycle-{k}"))
                sc.setJobGroup("perfbench-check", "perfbench checks")
            rows = [r.asDict() for r in res.collect()]
            out["attempted"] += len(rows)
            out["failed"] += checks.check_cycle(model, rows, MAX_CONCURRENT)
            if traced:
                s.attrs["rows_changed"] = 2 * len(rows) + sum(
                    1 for r in rows if r["final_status"] == "Done" and r["video_id"] is not None
                )
            with tracer.span("status_read"), Sample(cpu) as r:
                st = state.bot_status(sched.jobs.read(), SERVER)
            out["attempted"] += 1
            out["failed"] += checks.check_status(model, st)
            return {"cycle": c, "read": r, "jobs": len(rows)}

        # warm-up on a throw-away copy of the stores: the first set-up and
        # cycles pay for class loading, JIT and Python worker start
        t0 = time.perf_counter()
        sched, model = set_up(0)
        for k in range(WARMUP_CYCLES):
            cycle(sched, model, -k)
        shutil.rmtree(os.path.join(self.work, "stores0"))
        out["warmup_s"] = time.perf_counter() - t0
        setup = [Sample(cpu) for _ in range(SETUP_REPS)]
        for rep, sample in enumerate(setup, start=1):
            if rep > 1:
                shutil.rmtree(os.path.join(self.work, f"stores{rep - 1}"))
            sched, model = set_up(rep, sample)
        self.sched = sched
        out["startup_s"] = time.perf_counter() - T_PROCESS

        if trace:
            self._install(tracer, sched)
        samples = []
        t_end = time.perf_counter() + seconds
        max_cycles = self.n_media // MAX_CONCURRENT
        while len(samples) < max_cycles and (
            time.perf_counter() < t_end or len(samples) < MIN_CYCLES
        ):
            samples.append(cycle(sched, model, len(samples) + 1))
        tracer.unpatch()
        t0 = time.perf_counter()
        out["failed"] += self._check_stores(model)
        out["attempted"] += 2
        out["verify_s"] = time.perf_counter() - t0
        out["generate_s"] = self.generate_s
        cyc = [x["cycle"] for x in samples]
        reads = [x["read"] for x in samples]
        jobs = sum(x["jobs"] for x in samples)
        out.update(
            setup_s=median(c.cpu for c in setup),
            setup_wall_s=[c.wall for c in setup],
            setup_cpu_s=[c.cpu for c in setup],
            cycles=len(samples),
            cycle_p50_s=median(c.wall for c in cyc),
            jobs_per_s=jobs / sum(c.wall for c in cyc),
            status_read_p50_s=median(r.wall for r in reads),
            step_wall_s=[c.wall for c in cyc],
            step_cpu_list_s=[c.cpu for c in cyc],
            step_jit_s=[c.jit for c in cyc],
            step_cpu_s=mean(c.cpu for c in cyc),
            probe_cpu_s=mean(r.cpu for r in reads),
        )
        return out

    def _install(self, tracer: spans.Tracer, sched) -> None:
        from encodesrv_spark.jobs import state
        from encodesrv_spark.jobs.process import ProcessConfig, default_copy, stub_encode
        from encodesrv_spark.jobs.state import JobStore

        self.spool = os.path.join(self.work, "worker-spans")
        os.makedirs(self.spool, exist_ok=True)
        sched.process_cfg = ProcessConfig(
            server=SERVER,
            scratch_root=self.scratch,
            copy=spans.WorkerSpan(default_copy, self.spool, spans.CopyKind(self.scratch)),
            encode=spans.WorkerSpan(stub_encode, self.spool, spans.encode_kind),
        )
        tracer.enabled = True
        tracer.patch(state, "claim_jobs", "claim")
        tracer.patch(
            JobStore, "upsert", lambda store, *a, **k: f"upsert:{os.path.basename(store.path)}"
        )
        tracer.patch(JobStore, "read", "read")

    def _check_stores(self, model: checks.DrainModel) -> int:
        """Compare both final stores with the generated tables: the rows
        the model says changed hold their expected values, every other
        row is untouched.  Returns the number of failed stores."""
        from pyspark.sql import functions as F

        spark = self.spark
        sched = self.sched

        def mismatches(final, initial, changes, schema, cols):
            exp = spark.createDataFrame(changes, schema)
            f, i = final.alias("f"), initial.alias("i")
            j = f.join(i, F.col("f.id") == F.col("i.id"), "full_outer").join(
                F.broadcast(exp.alias("e")), F.col("e.id") == F.col("i.id"), "left"
            )
            changed = F.col("e.id").isNotNull()
            bad = F.lit(False)
            for c in final.columns:
                want = F.col(f"i.{c}")
                if c in cols:
                    want = F.when(changed, F.col(f"e.{c}")).otherwise(want)
                bad = bad | ~F.col(f"f.{c}").eqNullSafe(want)
            return j.filter(bad).count()

        n_bad = mismatches(
            sched.jobs.read(),
            spark.read.parquet(self.inputs["jobs"]),
            checks.expected_job_changes(model),
            "id long, status string",
            ["status"],
        )
        vf_changes = [(vid, True, size) for vid, size in sorted(model.published.items())]
        n_bad_vf = mismatches(
            sched.video_files.read(),
            spark.read.parquet(self.inputs["video_files"]),
            vf_changes,
            "id long, is_enabled boolean, size long",
            ["is_enabled", "size"],
        )
        return int(n_bad > 0) + int(n_bad_vf > 0)


def _written_since(roots, t0: float) -> tuple[int, int]:
    """Bytes and parquet rows in files under `roots` modified at or
    after `t0`: what one cycle wrote, whatever the store layout."""
    import pyarrow.parquet as pq

    n_bytes = n_rows = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for fname in files:
                p = os.path.join(d, fname)
                st = os.stat(p)
                if st.st_mtime < t0:
                    continue
                n_bytes += st.st_size
                if fname.endswith(".parquet"):
                    n_rows += pq.ParquetFile(p).metadata.num_rows
    return n_bytes, n_rows


def drain_layers(tracer: spans.Tracer, spool: str) -> dict[str, float]:
    cyc = [i for i, s in enumerate(tracer.spans) if s.name == "cycle"]
    worker = spans.read_worker_spans(spool)
    per: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per.setdefault(name, []).append(v)

    for i in cyc:
        c = tracer.spans[i]
        kids = tracer.children(i)
        add("jobs.scheduler.cycle_self_s", tracer.self_time(i))
        add("jobs.scheduler.spark_jobs_per_cycle", c.attrs["jobs"])
        add("jobs.scheduler.spark_stages_per_cycle", c.attrs["stages"])
        add("jobs.state.claim_s", sum(k.dur for k in kids if k.name == "claim"))
        add("jobs.state.jobs_upsert_s", sum(k.dur for k in kids if k.name == "upsert:jobs"))
        add(
            "jobs.state.vf_upsert_s",
            sum(k.dur for k in kids if k.name == "upsert:video_files"),
        )
        add("jobs.state.commits_per_cycle", c.attrs["commits"])
        add("jobs.state.bytes_written_per_cycle", c.attrs["bytes"])
        add(
            "jobs.state.rows_rewritten_per_row_changed",
            c.attrs["rows"] / max(c.attrs["rows_changed"], 1),
        )
        for kind in ("copy", "encode", "publish"):
            add(
                f"jobs.process.{kind}_s",
                sum(
                    w["end"] - w["start"]
                    for w in worker
                    if w["name"] == kind and c.start <= w["start"] <= c.end
                ),
            )
        add_spark(add, c.attrs, c.dur)
    out = {k: median(v) for k, v in per.items()}
    out["jobs.state.commit_conflicts"] = sum(
        1
        for s in tracer.spans
        if s.name.startswith("upsert:") and s.attrs.get("error") == "CommitConflict"
    )
    out["jobs.state.read_s"] = median(s.dur for s in tracer.spans if s.name == "status_read")
    return out


def add_spark(add, counters: dict, wall: float) -> None:
    add("spark.task_s", counters["task_s"])
    add("spark.parallelism", counters["task_s"] / wall if wall > 0 else 0.0)
    add("spark.shuffle_write_bytes", counters["shuffle_write_bytes"])
    add("spark.spill_bytes", counters["spill_bytes"])


# --- the query mix ------------------------------------------------------------------


class QueryMix:
    """Registered queries in a fixed order, pass after pass, in one
    session.  Frames a query leaves persisted stay persisted: the
    run-order cost they cause is part of what this workload shows."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.sf_dir = gen.write_tables(
            gen.analytic_tables(seed, MIX_SCALE), os.path.join(work, "tables")
        )

    def run(self, seconds: float, tracer: spans.Tracer, cpu: CpuClock, trace: bool) -> dict:
        import duckdb

        from encodesrv_spark.catalog import TABLES, load_table
        from encodesrv_spark.plans.registry import all_queries

        spark, sc = self.spark, self.spark.sparkContext
        out: dict = {"attempted": 0, "failed": 0}
        qs = all_queries()
        order = HEADLINE + HEAVY

        # warm-up pass, checked against the DuckDB oracle
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in order:
            q = qs[name]
            df = q.fn(spark, self.sf_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            res = con.execute(q.oracle)
            ocols = [d[0] for d in res.description]
            out["attempted"] += 1
            out["failed"] += not checks.query_matches(cols, rows, ocols, res.fetchall())
        con.close()

        # the program's per-session set-up: every catalog table loaded
        setup = []
        for _ in range(SETUP_REPS):
            with Sample(cpu) as c:
                for t in TABLES:
                    load_table(spark, self.sf_dir, t)
            setup.append(c)
        out["startup_s"] = time.perf_counter() - T_PROCESS

        def run_query(k: int, name: str) -> None:
            q = qs[name]
            mod = q.fn.__module__.rsplit(".", 1)[-1]
            with tracer.span("query", query=name, module=mod, k=k) as s:
                if s is not None:
                    sc.setJobGroup(f"p{k}:{name}:build", "perfbench build")
                with tracer.span("build"):
                    df = q.fn(spark, self.sf_dir)
                if s is not None:
                    sc.setJobGroup(f"p{k}:{name}:exec", "perfbench execute")
                with tracer.span("execute"):
                    df.write.mode("overwrite").format("noop").save()
            if s is not None:
                s.attrs["build"] = spans.group_counters(sc, f"p{k}:{name}:build")
                s.attrs["exec"] = spans.group_counters(sc, f"p{k}:{name}:exec")
            out["attempted"] += 1

        tracer.enabled = trace
        passes = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
            k = len(passes)
            with Sample(cpu) as head:
                for name in HEADLINE:
                    run_query(k, name)
            with Sample(cpu) as heavy:
                for name in HEAVY:
                    run_query(k, name)
            passes.append((head, heavy, len(sc._jsc.getPersistentRDDs())))
        tracer.enabled = False

        heads = [p[0] for p in passes]
        heavies = [p[1] for p in passes]
        out.update(
            setup_s=median(c.cpu for c in setup),
            setup_wall_s=[c.wall for c in setup],
            setup_cpu_s=[c.cpu for c in setup],
            passes=len(passes),
            headline_wall_s=median(h.wall for h in heads),
            heavy_wall_s=median(h.wall for h in heavies),
            persisted_rdds_after_pass=[p[2] for p in passes],
            step_wall_s=[h.wall for h in heavies],
            step_cpu_list_s=[h.cpu for h in heavies],
            step_jit_s=[h.jit for h in heavies],
            step_cpu_s=mean(h.cpu for h in heavies),
            probe_cpu_s=mean(h.cpu for h in heads),
        )
        return out


def mix_layers(tracer: spans.Tracer, persisted: list[int]) -> dict[str, float]:
    per: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per.setdefault(name, []).append(v)

    for k in sorted({s.attrs["k"] for s in tracer.spans if s.name == "query"}):
        idx = [i for i, s in enumerate(tracer.spans) if s.name == "query" and s.attrs["k"] == k]
        q = [tracer.spans[i] for i in idx]
        for m in PLAN_MODULES:
            add(f"plans.{m}.wall_s", sum(s.dur for s in q if s.attrs["module"] == m))
        build = [c for i in idx for c in tracer.children(i) if c.name == "build"]
        execute = [c for i in idx for c in tracer.children(i) if c.name == "execute"]
        add("plans.build_s", sum(c.dur for c in build))
        add("plans.execute_s", sum(c.dur for c in execute))
        add("plans.spark_jobs_per_pass", sum(s.attrs["build"]["jobs"] + s.attrs["exec"]["jobs"] for s in q))
        add("plans.build_spark_jobs_per_pass", sum(s.attrs["build"]["jobs"] for s in q))
        tot = {
            key: sum(s.attrs["build"][key] + s.attrs["exec"][key] for s in q)
            for key in ("task_s", "shuffle_write_bytes", "spill_bytes")
        }
        wall = sum(s.dur for s in q)
        add_spark(add, tot, wall)
    out = {k: median(v) for k, v in per.items()}
    out["plans.persisted_rdds_after_pass"] = persisted[0]
    return out


# --- entry point ---------------------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "step_cpu_s": "s",
    "probe_cpu_s": "s",
    "heap_retained_mb": "MB",
    "ok_share": "ratio",
}
DETAIL_UNITS = {
    "setup_s": "s",
    "startup_s": "s",
    "cycle_p50_s": "s",
    "jobs_per_s": "jobs/s",
    "status_read_p50_s": "s",
    "headline_wall_s": "s",
    "heavy_wall_s": "s",
    "step_cpu_s": "s",
    "probe_cpu_s": "s",
    "peak_rss_mb": "MB",
    "heap_retained_mb": "MB",
    "failed_share": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written_per_cycle"):
        return "bytes"
    if name.endswith("parallelism") or name.endswith("per_row_changed"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*DRAIN, "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    from encodesrv_spark.session import get_spark

    load_before = os.getloadavg()[0]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    configure_env(work)
    n_cpu = len(os.sched_getaffinity(0))
    try:
        spark = get_spark("perfbench", cpus=n_cpu)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    session_s = time.perf_counter() - T_PROCESS
    try:
        env = environment(spark, n_cpu)
        tracer = spans.Tracer()
        cpu = CpuClock(spark)
        if args.workload in DRAIN:
            wl = Drain(spark, work, args.seed, **DRAIN[args.workload])
        else:
            wl = QueryMix(spark, work, args.seed)
        out = wl.run(args.seconds, tracer, cpu, bool(args.trace))
        out["peak_rss_mb"] = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")
        out["heap_retained_mb"] = heap_retained_mb(spark)
        layers: dict[str, float] = {}
        if args.trace:
            if args.workload in DRAIN:
                layers = drain_layers(tracer, wl.spool)
            else:
                layers = mix_layers(tracer, out["persisted_rdds_after_pass"])
            layers["trace.step_cpu_s"] = out["step_cpu_s"]
            with open(os.path.join(results, f"{tag}-spans.json"), "w") as f:
                json.dump(
                    {
                        "driver": [s.__dict__ for s in tracer.spans],
                        "worker": spans.read_worker_spans(getattr(wl, "spool", "")),
                    },
                    f,
                )
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t0

    attempted, failed = out["attempted"], out["failed"]
    out["failed_share"] = failed / attempted
    out["ok_share"] = 1.0 - out["failed_share"]
    env["loadavg_1m_before"] = load_before
    env["loadavg_1m_after"] = os.getloadavg()[0]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "attempted": attempted,
        "failed": failed,
        "env": env,
        "metrics": {k: {"value": out[k], "unit": u} for k, u in DETAIL_UNITS.items() if k in out},
        "samples": {
            k: out[k]
            for k in (
                "cycles",
                "passes",
                "setup_wall_s",
                "setup_cpu_s",
                "step_wall_s",
                "step_cpu_list_s",
                "step_jit_s",
                "persisted_rdds_after_pass",
            )
            if k in out
        },
        "phases_s": {
            "session": session_s,
            **{k: out[k] for k in ("generate_s", "warmup_s", "verify_s") if k in out},
            "stop": stop_s,
            "total": time.perf_counter() - T_PROCESS,
        },
    }
    if args.trace:
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": layer_unit(name)} for name in LAYER_TARGETS}
        detail["layer_targets"] = LAYER_TARGETS
    else:
        metrics = {k: {"value": float(out[k]), "unit": u} for k, u in E2E_UNITS.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
