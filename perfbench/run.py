"""Repository benchmark: one workload, one seed, one run.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload query_tail --seed 1 --seconds 12 --trace 0

Workloads (single client, closed loop: the next operation starts when the
previous one has finished):

- ``query_tail``: a fixed list of fast registry queries at sf0.1, where the
  fixed cost of each query (planning, jobs, stages, eager pins) dominates.
- ``query_heavy``: a fixed list of slow registry queries at sf0.1, where
  executor CPU, shuffle and the Python-worker boundary dominate.  It runs
  like the others but is not declared in BENCHMARK.json (see
  workloads.py).
- ``table_build``: the reference generator's flagship job on
  ``ParquetSnapshotTable``: 10,000 orders rows appended as 100 files, then
  single-row delete commits (equality and positional, interleaved by the
  seed) with a full merge-on-read read after every block of commits.

Every run generates its inputs from ``--seed`` inside a fresh run directory
under ``.perfbench/runs/`` (data, tables, fixtures, Spark local dirs, event
log), warms up, measures whole passes (queries) or whole blocks (commits)
until ``--seconds`` have passed, checks the outputs, and prints one JSON
object as its last line.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` tags Spark jobs per span, writes a Spark event log and
reports the per-layer metrics instead.  The full record of the run (host,
versions, every sample, failures and, when traced, the spans) is written to
``.perfbench/results/<workload>-s<seed>-t<trace>.json``.

End-to-end metrics (untraced run).  An *op* is one query, from calling its
registry function through the finished ``noop`` write and the
``release_tracked()`` that follows, or on table_build one ``delete_where``
commit and the ``release_tracked()`` that follows (its reads are timed
apart and are not ops).  An op's cost is the CPU time it takes: user and
system time of the driver, its JVM and the JVM's Python workers, read
from /proc around the op, without the JVM's JIT compiler threads (their
work is warm-up that lands on whichever op is running):

- ``setup_s``: wall time from process start to the first steady op,
  without the time spent in the DuckDB oracles and the comparison.  It
  holds JVM and session start, input generation, the checking pass and
  the warm passes (query workloads), or the golden ledger, the 100-file
  append and one commit of each mode (table_build).
- ``op_cpu_p75_s``: 75th percentile of the op CPU times, the highest
  percentile with about ten samples beyond it in a query_tail run.
- ``ops_per_cpu_s``: ops divided by their summed CPU time.

The ops are timed in CPU time rather than wall time because on a shared
host the wall time of a short op follows the other tenants: a query of a
few small Spark jobs hands work between threads many times, and every
hand-off waits while another tenant holds the CPU.  Across ten runs on a
busy 4-core host the wall-time median of query_tail spread by 0.3 of
itself; with three CPU-bound processes beside it, its wall-time median
rose by 65 % and its CPU-time median by under 10 %.  CPU time still
follows how busy the host's cores are: the CPU-time median spread by 0.15
over ten runs on a busy host, twice as much as the mean and the 75th
percentile, so it is reported but not as a metric.  Each run prints the
CPU-time median, the wall-time median and 90th percentile, the wall-time
rate and the share of CPU time the host stole on a ``# ops`` line.

Checks, counted in ``failed``: every query against its DuckDB oracle; the
golden ledger (``scenarios.products_with_deletes``, 450 rows); the visible
``order_id`` list of every merge-on-read read against the generated ids
minus the deleted ones.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "iceberg_table_generator_spark"
WORKLOADS = ("query_tail", "query_heavy", "table_build")


def _process_age() -> float:
    """Seconds since this process started, from /proc (0 if unavailable)."""
    try:
        with open("/proc/self/stat", encoding="ascii") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, AttributeError):
        return 0.0
    return age if 0.0 <= age < 60.0 else 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")

#: perf_counter() reading at process start.
T_START = time.perf_counter() - _process_age()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _meminfo_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _stat_fields(pid: int | str) -> list[str]:
    """Fields 3.. of /proc/<pid>/stat (after the command name)."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        return f.read().rsplit(")", 1)[1].split()


def _proc_cpu_s(pid: int | str) -> float:
    """CPU seconds (user + system, own and reaped children) of a process,
    0 if it has exited."""
    try:
        fields = _stat_fields(pid)
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / CLK_TCK


def _thread_cpu_s(pid: int, tid: int) -> float:
    """CPU seconds (user + system) of one thread; OSError once it has exited."""
    return sum(int(x) for x in _stat_fields(f"{pid}/task/{tid}")[11:13]) / CLK_TCK


def _jit_threads(pid: int) -> list[int]:
    """Thread ids of the JVM's JIT compiler threads."""
    tids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as f:
                if f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    tids.append(int(tid))
        except OSError:
            pass
    return tids


def _descendants(root: int) -> list[int]:
    """``root`` and every live process below it (Python workers of the JVM)."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat_fields(name)[1])
            except (OSError, ValueError, IndexError):
                pass
    tree, frontier = [root], [root]
    while frontier:
        frontier = [pid for pid, ppid in parent.items() if ppid in frontier]
        tree.extend(frontier)
    return tree


def _host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _tree_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def pin_process(run_dir: str) -> dict:
    """Fix the process shape before the package is imported: the package
    reads SPARK_GRAFT_CPUS at import time, and its defaults (32 cores, 24g
    driver) do not fit a small host.  All scratch space lives in the run
    directory."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = _meminfo_gb()
    driver_gb = max(1, min(4, int(mem_gb // 4)))
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # No hsperfdata files under /tmp from the launcher or the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {"nproc": cpus, "mem_gb": round(mem_gb, 1), "driver_mem": f"{driver_gb}g"}


class Bench:
    """State of one run: session, tracer, samples and failures."""

    def __init__(self, args, run_dir: str, env: dict):
        from perfbench.spans import Tracer

        self.args = args
        self.run_dir = run_dir
        self.env = env
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failures: list[dict] = []
        self.check_s = 0.0  # time spent checking outputs before the first steady op
        self.first_steady: float | None = None
        self.samples: list[dict] = []
        self.extra: dict = {}
        self.spark = None
        self.jit_seen: dict[int, float] = {}

    # -- session -------------------------------------------------------------
    def start_session(self) -> None:
        from iceberg_table_generator_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.log.level": "ERROR",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.extra["session.start_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.tracer.sc = sc if self.args.trace else None
        self.jvm_pid = sc._gateway.proc.pid
        self.refresh_cpu_pids()
        self.env.update({
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": self.args.seed,
            "workload": self.args.workload,
        })
        # The first noop write loads the sink once, outside every sample.
        self.spark.range(1).write.format("noop").mode("overwrite").save()

    def stop_session(self) -> None:
        """Stop Spark and its JVM and wait for the JVM to exit (idempotent)."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def refresh_cpu_pids(self) -> None:
        """Find the JVM's process tree again; called between passes, outside
        every sample.  Python workers that start and exit inside a pass are
        counted through their parent's reaped-children time."""
        self.cpu_pids = _descendants(self.jvm_pid)
        self.jit_tids = _jit_threads(self.jvm_pid)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, its JVM and the JVM's
        Python workers.  Time the host steals from the virtual CPUs is not
        CPU time, so this clock does not follow the load of other tenants."""
        procs = sum(_proc_cpu_s(pid) for pid in self.cpu_pids)
        return time.process_time() + procs - self.jit_cpu_s()

    def jit_cpu_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads (a thread that has
        exited keeps the last value read from it)."""
        total = 0.0
        for tid in self.jit_tids:
            try:
                self.jit_seen[tid] = _thread_cpu_s(self.jvm_pid, tid)
            except OSError:
                pass
            total += self.jit_seen.get(tid, 0.0)
        return total

    def peak_rss(self) -> tuple[float, float]:
        return _hwm_mb("self"), _hwm_mb(self.jvm_pid)

    def jvm_gc_s(self) -> float:
        """Total garbage-collection time of the JVM so far."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0

    # -- bookkeeping -----------------------------------------------------------
    def fail(self, op: str, err: str) -> None:
        self.failures.append({"op": op, "error": err[:500]})
        log(f"FAILED {op}: {err[:200]}")

    def mark_steady(self) -> None:
        if self.first_steady is None:
            self.first_steady = time.perf_counter()
            self.ticks0 = _host_ticks()
            self.jit0 = self.jit_cpu_s()

    @property
    def setup_s(self) -> float:
        return (self.first_steady or time.perf_counter()) - T_START - self.check_s


# -- query workloads -----------------------------------------------------------
def _relocate_meta_fixtures(b: Bench, oracles: dict[str, str]) -> dict[str, str]:
    """Point the metadata-table fixtures at the run directory.

    The fixtures' paths are module constants under /tmp and the oracles
    embed them; both are redirected so each run builds its fixtures fresh
    inside its own directory (absent at start, built by the warm-up)."""
    from iceberg_table_generator_spark.operators import metadata_tables as mt

    moves = {
        mt.PARTS_FIXTURE_PATH: os.path.join(b.run_dir, "fixtures", "meta_parts"),
        mt.FIXTURE_PATH: os.path.join(b.run_dir, "fixtures", "meta"),
    }
    os.makedirs(os.path.join(b.run_dir, "fixtures"), exist_ok=True)
    b.extra["fixtures_at_start"] = {
        new: os.path.exists(new) for new in moves.values()
    }
    mt.PARTS_FIXTURE_PATH = moves[mt.PARTS_FIXTURE_PATH]
    mt.FIXTURE_PATH = moves[mt.FIXTURE_PATH]
    out = {}
    for name, sql in oracles.items():
        for old, new in moves.items():
            sql = sql.replace(old, new)
        out[name] = sql
    return out


def run_queries(b: Bench, names: tuple[str, ...]) -> None:
    from iceberg_table_generator_spark import all_oracles, all_queries
    from iceberg_table_generator_spark.functions.cache import release_tracked
    from iceberg_table_generator_spark.plans.compare import canonical_rows, duckdb_conn

    from perfbench.inputs import write_inputs
    from perfbench.workloads import MIN_PASSES, WARM_PASSES

    sf_dir = os.path.join(b.run_dir, "inputs", "sf0.1")
    b.extra["input_rows"] = write_inputs(sf_dir, b.args.seed)
    queries = all_queries()
    oracles = _relocate_meta_fixtures(b, all_oracles())
    spark, tr = b.spark, b.tracer

    # Warm-up pass, which is also the output check: run each query once and
    # collect it (fills codegen, file, fixture and model caches), then
    # compare with its DuckDB oracle.  Only the oracle and the comparison
    # are excluded from setup_s.
    ok_names = []
    with tr.span("pass", "warmup"):
        for name in names:
            b.attempted += 1
            try:
                t0 = time.perf_counter()
                with tr.span("op", name, phase="warmup"):
                    got = queries[name](spark, sf_dir).toPandas()
                    release_tracked()
                b.extra.setdefault("warmup_s", {})[name] = time.perf_counter() - t0
                t0 = time.perf_counter()
                with duckdb_conn(sf_dir) as con:
                    want = con.execute(oracles[name]).fetchdf()
                same = canonical_rows(got) == canonical_rows(want)
                b.check_s += time.perf_counter() - t0
                if not same:
                    b.fail(name, f"result differs from its oracle ({len(got)} vs {len(want)} rows)")
                    continue
                ok_names.append(name)
            except Exception as e:  # noqa: BLE001 — count the failure, keep running
                release_tracked()
                b.fail(name, repr(e))
    b.extra["fixtures_after_warmup"] = {
        d: _tree_stats(os.path.join(b.run_dir, "fixtures", d))
        for d in sorted(os.listdir(os.path.join(b.run_dir, "fixtures")))
    }
    log(f"warm-up done: {len(ok_names)}/{len(names)} queries checked")

    rng = random.Random(b.args.seed)

    def one_pass(p: int, steady: bool) -> None:
        b.refresh_cpu_pids()
        for name in rng.sample(ok_names, len(ok_names)):
            b.attempted += 1
            try:
                c0 = b.cpu_s()
                with tr.span("op", name, steady=steady):
                    t0 = time.perf_counter()
                    with tr.span("build"):
                        df = queries[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    if tr.enabled:
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("execute"):
                        df.write.format("noop").mode("overwrite").save()
                    with tr.span("release") as rs:
                        released = release_tracked()
                        if rs is not None:
                            rs.attrs["released"] = released
                    t2 = time.perf_counter()
                c2 = b.cpu_s()
            except Exception as e:  # noqa: BLE001
                release_tracked()
                b.fail(name, repr(e))
                continue
            if steady:
                b.samples.append({"op": name, "pass": p, "wall": t2 - t0, "cpu": c2 - c0,
                                  "build": t1 - t0, "released": released})

    for w in range(WARM_PASSES):
        with tr.span("pass", f"warm{w}"):
            one_pass(-1 - w, steady=False)
    b.mark_steady()
    t_end = time.perf_counter() + b.args.seconds
    p = 0
    while p < MIN_PASSES or time.perf_counter() < t_end:
        with tr.span("pass", f"pass{p}"):
            one_pass(p, steady=True)
        p += 1
    log(f"measured {len(b.samples)} queries in {p} passes")


# -- table build ---------------------------------------------------------------
def _commit_plan(seed: int) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
    """The seeded delete plan: distinct ids for one warm-up equality and
    one warm-up positional delete, then PLAN_COMMITS deletes in which each
    block of BLOCK_COMMITS holds as many equality as positional deletes,
    in a seeded order."""
    from perfbench.workloads import BLOCK_COMMITS, BUILD_ROWS, PLAN_COMMITS

    rng = random.Random(seed)
    ids = rng.sample(range(BUILD_ROWS), PLAN_COMMITS + 2)
    modes: list[str] = []
    while len(modes) < PLAN_COMMITS:
        block = ["equality", "positional"] * (BLOCK_COMMITS // 2)
        rng.shuffle(block)
        modes.extend(block)
    warm = [("equality", ids[0]), ("positional", ids[1])]
    return warm, list(zip(modes, ids[2:]))


def run_table_build(b: Bench) -> None:
    from iceberg_table_generator_spark.datagen import records
    from iceberg_table_generator_spark.functions.cache import release_tracked
    from iceberg_table_generator_spark.sources import scenarios
    from iceberg_table_generator_spark.sources.lifecycle import ParquetSnapshotTable

    from perfbench.workloads import BLOCK_COMMITS, BUILD_FILES, BUILD_ROWS

    spark, tr = b.spark, b.tracer

    # Warm-up, which is also the golden-ledger check: the reference's
    # hand-verified scenario (appends, equality and positional deletes,
    # merge-on-read read) must end with 450 visible rows.
    b.attempted += 1
    try:
        with tr.span("op", "golden_ledger", phase="warmup"):
            ledger = scenarios.products_with_deletes(spark, os.path.join(b.run_dir, "ledger"))
            n = ledger.read().count()
        if n != 450:
            b.fail("golden_ledger", f"{n} visible rows, expected 450")
    except Exception as e:  # noqa: BLE001 — count the failure, keep running
        b.fail("golden_ledger", repr(e))

    path = os.path.join(b.run_dir, "orders")
    table = ParquetSnapshotTable(spark, path).create(scenarios.ORDERS_COLUMNS)
    b.attempted += 1
    with tr.span("op", "append", phase="setup"):
        t0 = time.perf_counter()
        table.append(records.orders(spark, BUILD_ROWS, seed=b.args.seed), num_files=BUILD_FILES)
        b.extra["append_s"] = time.perf_counter() - t0
    warm, plan = _commit_plan(b.args.seed)
    deleted: list[int] = []

    def release() -> None:
        with tr.span("release") as rs:
            released = release_tracked()
            if rs is not None:
                rs.attrs["released"] = released

    def commit(mode: str, oid: int, steady: bool) -> None:
        b.attempted += 1
        before = _tree_stats(path)
        try:
            c0 = b.cpu_s()
            with tr.span("op", f"delete_{mode}", steady=steady):
                t0 = time.perf_counter()
                with tr.span("commit"):
                    if mode == "equality":
                        table.delete_where(f"order_id = {oid}", mode=mode, equality_columns=["order_id"])
                    else:
                        table.delete_where(f"order_id = {oid}", mode=mode)
                release()
                wall = time.perf_counter() - t0
            cpu = b.cpu_s() - c0
        except Exception as e:  # noqa: BLE001
            release_tracked()
            b.fail(f"delete_{mode}({oid})", repr(e))
            return
        deleted.append(oid)
        after = _tree_stats(path)
        if steady:
            b.samples.append({
                "op": f"delete_{mode}", "wall": wall, "cpu": cpu, "id": oid,
                "files": after[0] - before[0], "bytes": after[1] - before[1],
            })

    visible: set[int] = set()

    def read(steady: bool) -> None:
        """A full merge-on-read read, checked: the visible ids must be the
        generated ids minus the deleted ones."""
        nonlocal visible
        b.attempted += 1
        try:
            c0 = b.cpu_s()
            with tr.span("op", "read", steady=steady):
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = table.read()
                t1 = time.perf_counter()
                if tr.enabled:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("execute"):
                    ids = [r.order_id for r in df.select("order_id").collect()]
                release()
                t2 = time.perf_counter()
            c2 = b.cpu_s()
        except Exception as e:  # noqa: BLE001
            release_tracked()
            b.fail("read", repr(e))
            return
        visible = set(ids)
        if len(ids) != len(visible) or visible != set(range(BUILD_ROWS)) - set(deleted):
            b.fail("read", f"{len(ids)} visible rows ({len(visible)} ids), "
                           f"expected {BUILD_ROWS - len(deleted)}")
        if steady:
            b.samples.append({"op": "read", "wall": t2 - t0, "cpu": c2 - c0, "build": t1 - t0,
                              "execute": t2 - t1})

    # Warm the orders table's own commit paths once.
    for mode, oid in warm:
        commit(mode, oid, steady=False)
    log("warm-up done")

    b.mark_steady()
    t_end = time.perf_counter() + b.args.seconds
    blocks = 0
    while plan and (blocks == 0 or time.perf_counter() < t_end):
        b.refresh_cpu_pids()
        with tr.span("pass", f"block{blocks}"):
            for _ in range(min(BLOCK_COMMITS, len(plan))):
                commit(*plan.pop(0), steady=True)
            read(steady=True)
        blocks += 1
    log(f"measured {blocks} blocks")

    files, size = _tree_stats(path)
    meta = sum(
        os.path.getsize(os.path.join(path, f))
        for f in ("metadata.json", "file_stats.json")
        if os.path.exists(os.path.join(path, f))
    )
    b.extra.update({
        "table_files": files, "table_bytes": size, "visible_rows": len(visible),
        "commits": len(deleted), "metadata_bytes": meta,
    })


# -- metrics -------------------------------------------------------------------
def _pct(values: list[float], q: float) -> float:
    """Percentile with linear interpolation (q in [0, 1])."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(b: Bench) -> dict:
    ops = [s for s in b.samples if s["op"] != "read"]  # reads are timed apart
    cpu = [s["cpu"] for s in ops]
    wall = [s["wall"] for s in ops]
    # Wall-clock latency follows the load of the host's other tenants; it
    # is recorded and printed, but not reported as a metric (see above).
    b.extra["ops"] = {
        "samples": len(ops),
        "cpu_p50_s": _pct(cpu, 0.5),
        "wall_p50_s": _pct(wall, 0.5),
        "wall_p90_s": _pct(wall, 0.9),
        "wall_ops_per_s": len(wall) / sum(wall) if wall else 0.0,
        "steal_frac": b.env.get("steal_frac"),
    }
    return {
        "setup_s": (b.setup_s, "s"),
        "op_cpu_p75_s": (_pct(cpu, 0.75), "s"),
        "ops_per_cpu_s": (len(cpu) / sum(cpu) if cpu else 0.0, "1/s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{tag}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(results_dir, exist_ok=True)
    env = pin_process(run_dir)
    b = Bench(args, run_dir, env)
    try:
        b.start_session()
        log(f"session up: {json.dumps(env)}")
        with b.tracer.span("workload", args.workload):
            if args.workload == "table_build":
                run_table_build(b)
            else:
                from perfbench.workloads import QUERY_HEAVY, QUERY_TAIL

                run_queries(b, QUERY_TAIL if args.workload == "query_tail" else QUERY_HEAVY)
        steal, total = (a - b0 for a, b0 in zip(_host_ticks(), b.ticks0))
        env["steal_frac"] = round(steal / total, 4) if total else 0.0
        b.extra["jit_cpu_steady_s"] = b.jit_cpu_s() - b.jit0
        if args.trace:
            from perfbench.layers import per_layer

            metrics = per_layer(b)  # stops the session to flush the event log
        else:
            metrics = end_to_end(b)
    finally:
        b.stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "env": env,
        "attempted": b.attempted,
        "failures": b.failures,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "extra": b.extra,
        "samples": b.samples,
        "spans": b.tracer.to_json(),
    }
    with open(os.path.join(results_dir, f"{tag}.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"# env {json.dumps(env)}")
    if "ops" in b.extra:
        print(f"# ops {json.dumps(b.extra['ops'])}")
    if "lifecycle" in b.extra:
        print(f"# lifecycle {json.dumps(b.extra['lifecycle'])}")
    if b.failures:
        print(f"# failed ops {json.dumps([f['op'] for f in b.failures])}")
    print(json.dumps({
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
