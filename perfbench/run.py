"""Engine benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload relational_dispatch --seed 1 \
        --seconds 5 --trace 0

Run it from the repository root, the way ``bench.py`` and the tests are
launched: Spark's Python workers import the package from there.

Load model: one process, one client, closed loop -- each operation
starts after the previous one has finished and been checked. Spark runs
``local[nproc]`` with a fixed-size driver heap inside physical RAM. The
run first times ``SETUPS - 1`` set-ups (import + session start) in fresh
processes, then its own, starts the session, runs one untimed warm-up
pass, waits for the JIT compiler to go idle, then runs timed passes
until ``--seconds`` have elapsed, always finishing the pass in progress.
Every operation's output is checked, in every pass, warm-up included.

``--trace 0`` prints the end-to-end metrics: median set-up time, CPU
seconds per pass, and the largest heap the driver JVM still holds after
an operation of the warm-up pass. ``--trace 1`` runs pairs of one plain
pass and one with per-operation job groups, status-store reads and a
streaming listener, in alternating order, and prints the client's
wall-clock view plus the per-layer metrics. Every run prints an info
line (machine facts, wall-clock view, tail percentile and sample count)
before the result line, and writes one record per operation to
``perfbench/.work/detail/``. Inputs (the test tables, the seeded Netflix
catalog) are generated under ``perfbench/.work/``; nothing is written
outside the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
NETFLIX_ROWS = 5_000
# untimed passes before measuring: cold passes run 2-10x slower (JIT,
# whole-stage codegen). One keeps a run inside the benchmark's per-run
# time budget (perfbench/README.md).
WARMUP_PASSES = 1
# set-ups per run, each in a fresh process; setup_s is their median
SETUPS = 2


def _isolate() -> None:
    """Point every scratch location Spark, the JVM and Python use at the
    checkout, and pin the clock zone the collected timestamps use."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC", TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local")
    )
    time.tzset()


def _driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return max(1024, min(2048, total_mb // 4))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _live_heap_mb(spark) -> float:
    """Heap in use right after a full collection: the data the driver JVM
    still holds, which a fixed heap size does not cap the way RSS is.
    Python is collected first, so that JVM objects only an unreachable
    Python wrapper still pins are released before the JVM collects."""
    gc.collect()
    jvm = spark._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / (1024 * 1024)


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total


def _jit_s(pid: int) -> float:
    return _jit_ticks(pid) / os.sysconf("SC_CLK_TCK")


def _drain_jit(pid: int, idle_s: float = 0.02, limit_s: float = 10.0) -> float:
    """Wait until the JIT compiler threads are idle for a quarter second,
    so compilation queued by the warm-up does not land in a timed pass;
    returns the seconds waited."""
    t0 = time.perf_counter()
    last = _jit_s(pid)
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.25)
        now = _jit_s(pid)
        if now - last < idle_s:
            break
        last = now
    return time.perf_counter() - t0


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process plus ``root_pid`` (the
    driver JVM) and all its descendants (Python workers), reaped
    children included. The JIT compiler threads count: classes the engine
    generates and compiles during a pass are part of its cost."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {root_pid}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in procs.items() if ppid in frontier} - tree
    ticks = sum(procs[p][1] for p in tree if p in procs)
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _git_sha() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def add_package_paths() -> None:
    """Make the package importable from the repository root, and the
    repo's oracle harness (``tests/oracle_harness.py``) after it."""
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))


def set_up(cores: int, mem_mb: int):
    """Import the package and start its session, the way a user of the
    engine sets up; returns ``({"import_s", "start_s"}, spark)``."""
    t0 = time.perf_counter()
    add_package_paths()
    from data_engineer_task_spark.plans import analytics, netflix, netflix_queries  # noqa: F401
    from data_engineer_task_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf={
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # a fixed-size heap: left to grow, G1 sizes it differently from
        # run to run, and GC work and CPU time follow. JIT compiler
        # threads that live as long as the JVM, so their CPU time can be
        # read per thread (jvm.jit_s).
        "spark.driver.extraJavaOptions":
            f"-Xms{mem_mb}m -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    return {"import_s": t1 - t0, "start_s": time.perf_counter() - t1}, spark


def _probe_set_ups(n: int) -> list[dict]:
    """``n`` more set-ups, each in a fresh process that starts the session
    and stops it again (``setup_probe.py``), one after the other."""
    import subprocess

    out = []
    for _ in range(n):
        proc = subprocess.run([sys.executable, os.path.join(HERE, "setup_probe.py")],
                              cwd=ROOT, capture_output=True, text=True, timeout=120)
        if proc.returncode != 0:
            raise RuntimeError(f"set-up probe failed: {proc.stderr[-2000:]}")
        out.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    return out


def _shutdown(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, spark, workload, jvm_pid: int) -> None:
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.workload = workload
        self.tracer = None
        self.live_heap_mb: list[float] | None = None  # sampled after each op when a list

    def _settle(self) -> None:
        # persisted intermediates and streaming memory-sink views must not
        # leak into the next operation's timing
        self.spark.catalog.clearCache()
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)

    def run_op(self, op, tag: str) -> dict:
        rec: dict = {"op": op.name, "layer": op.layer, "ok": False}
        tr = self.tracer
        t0 = t1 = time.perf_counter()
        try:
            if tr:
                tr.phase(f"{tag}:build")
            obj = op.build()
            t1 = time.perf_counter()
            if tr:
                tr.phase(f"{tag}:exec")
            rows, cols = op.execute(obj)
            t2 = time.perf_counter()
            rec.update(rows=len(rows), ok=bool(op.check(rows, cols)))
        except Exception as e:  # counted as a failed operation, never skipped
            t2 = time.perf_counter()
            rec["error"] = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
        rec.update(build_s=t1 - t0, exec_s=t2 - t1)
        if tr:
            t = tr.collect(f"{tag}:build", f"{tag}:exec")
            rec.update(
                jobs_build=t.jobs_build, jobs=t.jobs, stages=t.stages,
                stages_skipped=t.stages_skipped, tasks=t.tasks,
                job_spans_ms=t.job_spans_ms, batches=t.batches, **t.totals,
            )
        if self.live_heap_mb is not None:
            self.live_heap_mb.append(_live_heap_mb(self.spark))
        t3 = time.perf_counter()
        self._settle()
        rec["settle_s"] = time.perf_counter() - t3
        return rec

    def run_pass(self, rng: random.Random, k: int) -> dict:
        cpu0, steal0, jit0 = _tree_cpu_s(self.jvm_pid), _steal_s(), _jit_s(self.jvm_pid)
        t0 = time.perf_counter()
        ops = [self.run_op(op, f"p{k}-{i}-{op.name}")
               for i, op in enumerate(self.workload.pass_ops(rng, k))]
        t1 = time.perf_counter()
        self.workload.end_pass(k)
        self.spark._jvm.System.gc()
        return {"wall_s": time.perf_counter() - t0, "end_s": time.perf_counter() - t1,
                "cpu_s": _tree_cpu_s(self.jvm_pid) - cpu0, "steal_s": _steal_s() - steal0,
                "jit_s": _jit_s(self.jvm_pid) - jit0, "traced": self.tracer is not None,
                "ops": ops}

    def timed(self, rng: random.Random, first: int, seconds: float) -> list:
        """Passes until ``seconds`` have elapsed, at least one."""
        out = []
        start = time.perf_counter()
        while not out or time.perf_counter() - start < seconds:
            out.append(self.run_pass(rng, first + len(out)))
        return out

    def paired(self, rng: random.Random, first: int, seconds: float, tracer,
               traced_first: bool) -> tuple[list, list]:
        """Pairs of one plain and one traced pass until ``seconds`` have
        elapsed, at least one pair. The order within a pair alternates,
        starting with ``traced_first``, so that neither kind of pass is
        always the later, warmer one."""
        plain, traced = [], []
        start = time.perf_counter()
        while not plain or time.perf_counter() - start < seconds:
            for t in ((tracer, None) if traced_first else (None, tracer)):
                if t:
                    t.attach()
                self.tracer = t
                p = self.run_pass(rng, first + len(plain) + len(traced))
                self.tracer = None
                if t:
                    t.detach()
                (traced if t else plain).append(p)
            traced_first = not traced_first
        return plain, traced


def tail_stat(lat: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least 10 samples beyond it,
    nearest-rank, but never below p90: a pass holds too few operations
    for that rule alone, and a percentile that moved with the number of
    passes would not compare across runs."""
    n = len(lat)
    pct = max(90, math.floor(100 * (1 - 10 / n)))
    return pct, sorted(lat)[max(0, math.ceil(pct / 100 * n) - 1)]


def end_to_end(set_ups: list[dict], passes: list[dict], live_heap_mb: list[float]) -> dict:
    return {
        "setup_s": (statistics.median(u["import_s"] + u["start_s"] for u in set_ups), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "jvm_live_heap_mb": (max(live_heap_mb), "MB"),
    }


def client_view(passes: list[dict]) -> tuple[dict, dict]:
    """Wall-clock latencies the closed-loop client saw. They swing with
    the CPU time the hypervisor steals from this VM, so they are reported
    with the per-layer metrics, and in every run's info line, unbounded."""
    lat = [o["build_s"] + o["exec_s"] for p in passes for o in p["ops"]]
    pct, tail = tail_stat(lat)
    metrics = {
        "client.wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "client.op_p50_s": (statistics.median(lat), "s"),
        "client.op_tail_s": (tail, "s"),
    }
    info = {"op_samples": len(lat), "op_tail_percentile": pct,
            "op_samples_beyond_tail": sum(x > tail for x in lat),
            "steal_s_per_pass": statistics.median(p["steal_s"] for p in passes)}
    return metrics, info


def per_layer(set_ups: list[dict], warmup_s: float, plain: list[dict], traced: list[dict],
              cores: int) -> dict:
    from status_trace import union_s

    def per_pass(p: dict) -> dict:
        ops = p["ops"]

        def s(key, layer=None):
            return sum(o.get(key, 0) for o in ops if layer is None or o["layer"] == layer)

        batches = [b for o in ops for b in o["batches"]]
        build, execute = s("build_s"), s("exec_s")
        task_run = s("task_run_s")
        return {
            "plans.build_s": (build, "s"),
            "plans.build_jobs": (s("jobs_build"), "count"),
            "plans.build_share": (build / (build + execute), "ratio"),
            "plans.etl_run_s": (s("exec_s", "etl"), "s"),
            "plans.analytics_s": (s("build_s", "analytics") + s("exec_s", "analytics"), "s"),
            "spark.exec_s": (union_s([sp for o in ops for sp in o["job_spans_ms"]]), "s"),
            "spark.jobs": (s("jobs"), "count"),
            "spark.stages": (s("stages"), "count"),
            "spark.tasks": (s("tasks"), "count"),
            "spark.task_run_s": (task_run, "s"),
            "spark.task_cpu_s": (s("task_cpu_s"), "s"),
            "spark.gc_s": (s("gc_s"), "s"),
            "spark.shuffle_read_mb": (s("shuffle_read_mb"), "MB"),
            "spark.shuffle_write_mb": (s("shuffle_write_mb"), "MB"),
            "spark.spill_mb": (s("spill_mb"), "MB"),
            "spark.rows_out": (s("rows"), "count"),
            "spark.core_util": (task_run / (p["wall_s"] * cores), "ratio"),
            "sources.input_mb": (s("input_mb"), "MB"),
            "sources.input_rows": (s("input_rows"), "count"),
            "sources.output_mb": (s("output_mb"), "MB"),
            "sources.output_rows": (s("output_rows"), "count"),
            "streaming.batches": (len(batches), "count"),
            "streaming.input_rows": (sum(b[0] for b in batches), "count"),
            "streaming.trigger_s": (sum(b[1] for b in batches) / 1000, "s"),
            "streaming.batch_p50_ms": (
                statistics.median(b[1] for b in batches) if batches else 0, "ms"),
            "bench.settle_s": (s("settle_s") + p["end_s"], "s"),
        }

    rows = [per_pass(p) for p in traced]
    metrics = {k: (statistics.median(r[k][0] for r in rows), rows[0][k][1]) for k in rows[0]}
    metrics.update({
        "session.import_s": (statistics.median(u["import_s"] for u in set_ups), "s"),
        "session.start_s": (statistics.median(u["start_s"] for u in set_ups), "s"),
        "session.warmup_s": (warmup_s, "s"),
        "jvm.jit_s": (statistics.median(p["jit_s"] for p in plain), "s"),
        "bench.trace_overhead": (
            statistics.median(p["wall_s"] for p in traced)
            / statistics.median(p["wall_s"] for p in plain) - 1, "ratio"),
    })
    return metrics


def main(argv: list[str] | None = None) -> int:
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale of the generated test tables (fingerprints: 0.01, 0.001)")
    ap.add_argument("--netflix-rows", type=int, default=NETFLIX_ROWS)
    a = ap.parse_args(argv)

    _isolate()
    import gen_tables

    sf_dir = gen_tables.ensure(os.path.join(WORK, "data"), a.sf)
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        expected = json.load(f).get(str(a.sf), {})

    cores = os.cpu_count() or 1
    mem_mb = _driver_mem_mb()
    # the set-ups of fresh processes first, while nothing else runs
    set_ups = _probe_set_ups(SETUPS - 1)
    first, spark = set_up(cores, mem_mb)
    set_ups.insert(0, first)
    import oracle_harness  # noqa: F401  (output checks; outside every timer)
    import pyspark

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    try:
        if a.workload == wl.NETFLIX:
            w = wl.NetflixWorkload(spark, os.path.join(WORK, "netflix"), a.seed, a.netflix_rows)
        else:
            w = wl.QueryWorkload(spark, wl.QUERY_WORKLOADS[a.workload], sf_dir, expected)
        rng = random.Random(a.seed)
        runner = Runner(spark, w, jvm_pid)
        runner.live_heap_mb = []
        t0 = time.perf_counter()
        # the warm-up runs in one fixed order, whatever the seed: the heap an
        # operation leaves behind depends on what ran before it
        warm = [runner.run_pass(random.Random(0), k) for k in range(WARMUP_PASSES)]
        warmup_s = time.perf_counter() - t0
        jit_drain_s = _drain_jit(jvm_pid)
        live_heap_mb, runner.live_heap_mb = runner.live_heap_mb, None
        traced = []
        if a.trace:
            from status_trace import Tracer

            plain, traced = runner.paired(rng, WARMUP_PASSES, a.seconds, Tracer(spark),
                                          traced_first=a.seed % 2 == 1)
        else:
            plain = runner.timed(rng, WARMUP_PASSES, a.seconds)
        rss_mb = _vm_hwm_mb(jvm_pid)
    finally:
        _shutdown(spark)

    passes = [*warm, *plain, *traced]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(not o["ok"] for p in passes for o in p["ops"])
    machine = {
        "nproc": cores, "driver_memory_mb": mem_mb, "pyspark": pyspark.__version__,
        "git_sha": _git_sha(), "sf": a.sf, "python": sys.version.split()[0],
    }
    client, info = client_view(plain)
    info.update({k: v for k, (v, _) in client.items()})
    # capped by the fixed-size heap: kept for reference, not as a metric
    info["jvm_vmhwm_mb"] = rss_mb
    info["jit_drain_s"] = jit_drain_s
    if a.trace:
        metrics = {**client, **per_layer(set_ups, warmup_s, plain, traced, cores)}
    else:
        metrics = end_to_end(set_ups, plain, live_heap_mb)

    detail_dir = os.path.join(WORK, "detail")
    os.makedirs(detail_dir, exist_ok=True)
    detail = os.path.join(detail_dir, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    with open(detail, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "machine": machine,
                   "set_ups": set_ups, "warmup_s": warmup_s, "live_heap_mb": live_heap_mb,
                   "client": info, "metrics": metrics,
                   "passes": {"warmup": warm, "timed": plain, "traced": traced}}, f, indent=1)
    for p in passes:
        for o in p["ops"]:
            if not o["ok"]:
                print(f"FAILED {o['op']}: {o.get('error', 'output mismatch')}", file=sys.stderr)
    print(json.dumps({"machine": machine, **info, "detail": os.path.relpath(detail, ROOT)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
