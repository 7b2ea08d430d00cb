"""sparkobs benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run stages the workload's inputs from
the seed, starts Spark, checks one untimed warm-up pass against the
expected fingerprints, then runs whole timed passes (the seed permutes
the query order of each) until ``--seconds`` have been measured, at
least ``MIN_PASSES``. A traced run first runs one more untimed pass, so
that its traced and untraced passes are all warm. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
readings with ``--trace 1``. Human-readable lines go to stderr. All
scratch lives under ``.perfbench_work/`` in the checkout.

Pass and query times are CPU seconds (see ``cpu_s``): on a shared
virtual host the hypervisor's steal makes wall time drift from minute
to minute. Wall times are printed on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# inputs and scratch of this process; expected fingerprints and traced
# records are shared under WORK
RUN = os.path.join(WORK, f"run-{os.getpid()}")
QUERY_TIMEOUT_S = 60.0
# timed passes of an untraced run; each query's cheapest execution counts
MIN_PASSES = 2

if HERE not in sys.path:
    sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "rows_per_cpu_s": "rows/s", "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Everything Spark, the JVM and the Python workers write goes under
    the work directory; the workers import sparkobs from this checkout."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):  # left behind by a run that was killed
        pid = name[len("run-"):]
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(RUN, sub), exist_ok=True)
    tmp = os.path.join(RUN, "tmp")
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    # a smaller heap than the 8g default keeps peak RSS from following
    # GC timing, and the benchmark's inputs fit in it several times over
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "local")
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def peak_rss_mb(jvm_pid: int) -> float:
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


# JIT compiler threads: compiling is warm-up, not the work of a query
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM's threads other
    than its JIT compilers, and the JVM's descendants (the Python
    workers), reaped children included. Time the hypervisor gives to
    other guests (steal) is not in it."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _comm, f = _stat(f"/proc/{name}/stat")
        except OSError:  # ended meanwhile
            continue
        parent[int(name)] = int(f[1])
        ticks[int(name)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total = 0
    for pid in ticks:
        p = parent[pid]
        while p > 1 and p != jvm_pid:
            p = parent.get(p, 0)
        if p == jvm_pid:
            total += ticks[pid]
    _comm, f = _stat(f"/proc/{jvm_pid}/stat")
    total += int(f[13]) + int(f[14])  # the JVM's reaped children
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            comm, f = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        if not comm.startswith(_JIT_THREADS):
            total += int(f[11]) + int(f[12])
    own = os.times()
    return total * _TICK_S + own.user + own.system


def steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) * _TICK_S


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.data_key = workload.data_key(seed)
        self.data_dir = os.path.realpath(
            os.path.join(RUN, "data", f"{workload.name}-{self.data_key}")
        )
        self.spark = None
        self.source_rows = 0
        self.attempted = 0
        self.failed = 0
        self.oracle_s = 0.0  # DuckDB cross-check, the first time a seed is seen

    # ---- set-up ---------------------------------------------------------
    def _stage(self) -> None:
        import datagen

        tmp = self.data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = datagen.stage(self.seed, self.w.sf, tmp, mirror=self.w.mirror)
        shutil.rmtree(self.data_dir, ignore_errors=True)
        os.rename(tmp, self.data_dir)
        self.source_rows = sum(rows.values())

    def setup(self) -> float:
        """Stage the inputs, start the session and load the expected
        fingerprints. Returns the seconds the session start took. The
        warm-up pass that follows warms the JVM and the Arrow path."""
        from check import Expected
        from sparkobs.session import get_spark

        conf = {
            # a heap and a young generation of fixed size, so peak RSS
            # does not follow how GC sizes them on a fast or slow host
            "spark.driver.extraJavaOptions": "-Xms2g -Xmn512m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(RUN, "tmp", "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        t0 = time.perf_counter()
        self._stage()
        t1 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}", conf)
        t2 = time.perf_counter()
        log(f"# staged {t1 - t0:.1f} s, session start {t2 - t1:.1f} s")
        self.expected = Expected(self.w.name, self.data_key, os.path.join(WORK, "expected"))
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.baseline_views = {t.name for t in self.spark.catalog.listTables()}
        return t2 - t1

    # ---- isolation ------------------------------------------------------
    def release(self) -> None:
        """Session state a query leaves behind, released outside the
        timer (the same release as bench.py's, plus leftover streams)."""
        from sparkobs.operators.dedup import unpersist_candidates

        for q in self.spark.streams.active:
            q.stop()
        unpersist_candidates()
        self.spark.catalog.clearCache()
        for t in self.spark.catalog.listTables():
            if t.name not in self.baseline_views and t.tableType == "TEMPORARY":
                self.spark.catalog.dropTempView(t.name)

    def snapshot_scratch(self) -> None:
        self._tmp_keep = set(os.listdir(os.path.join(RUN, "tmp")))

    def drop_scratch(self) -> int:
        """Delete scratch a pass created (checkpoints, write targets);
        return its size in bytes."""
        tmp = os.path.join(RUN, "tmp")
        size = 0
        for name in set(os.listdir(tmp)) - self._tmp_keep:
            path = os.path.join(tmp, name)
            for dirpath, _dirs, files in os.walk(path):
                size += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files if os.path.isfile(os.path.join(dirpath, f))
                )
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        return size

    def _cancel(self) -> None:
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    # ---- passes ---------------------------------------------------------
    def warmup_pass(self, queries) -> None:
        """Untimed pass that collects every result and checks it against
        the expected fingerprints (or records them for this seed)."""
        from check import agree, duckdb_results, fingerprint

        t0 = time.perf_counter()
        got: dict[str, dict] = {}
        results: dict[str, tuple] = {}
        for name in self.order():
            self.release()
            self.attempted += 1
            tq = time.perf_counter()
            try:
                df = queries[name](self.spark, self.data_dir)
                results[name] = (df.collect(), df.columns)
                got[name] = fingerprint(*results[name], self.data_dir)
                log(f"#   {name:<40} warm-up {time.perf_counter() - tq:.2f} s")
            except Exception as exc:  # noqa: BLE001 - a failed execution is data
                self._fail(name, f"warm-up raised {type(exc).__name__}: {str(exc)[:300]}")
        self.release()
        log(f"# warm-up pass {time.perf_counter() - t0:.1f} s")
        if self.expected:
            for name, fp in got.items():
                want = self.expected.by_query.get(name)
                if want is None:
                    self._fail(name, "no expected fingerprint")
                elif fp != want:
                    self._fail(name, f"fingerprint {fp} != expected {want}")
            log(f"# output check: {len(got)} fingerprints vs {self.expected.source} record")
            return
        import __spark_entry__ as entry
        from datagen import TABLES

        oracles = {
            n: sql for n, sql in entry.oracle_sql(self.data_dir).items()
            if n in got and n not in self.w.no_oracle
        }
        t0 = time.perf_counter()
        refs, skipped = duckdb_results(self.data_dir, TABLES, oracles)
        for name, ref in refs.items():
            diff = agree(*results[name], *ref, self.data_dir)
            if diff:
                self._fail(name, f"differs from its DuckDB oracle: {diff}")
        self.oracle_s = time.perf_counter() - t0
        log(f"# DuckDB oracles {self.oracle_s:.1f} s")
        log(f"# output check: {len(refs)} of {len(got)} cross-checked on DuckDB"
            f" (over budget, not checked: {skipped})")
        if not self.failed:
            self.expected.save(got)

    def order(self) -> list[str]:
        names = list(self.w.queries)
        self.rng.shuffle(names)
        return names

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        log(f"# FAILED {name}: {why}")

    def run_query(self, fn, name: str, probe=None) -> dict:
        """One timed execution, build plus action."""
        want = self.expected.by_query.get(name, {}).get("rows")
        timer = threading.Timer(QUERY_TIMEOUT_S, self._cancel)
        if probe:
            probe.before()
        self.attempted += 1
        c0 = cpu_s(self.jvm_pid)
        timer.start()
        t0 = time.perf_counter()
        e0 = time.time()
        try:
            df = fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed execution is data
            t1 = t2 = time.perf_counter()
            self._fail(name, f"raised {type(exc).__name__}: {str(exc)[:300]}")
            n = None
        finally:
            timer.cancel()
        rec = {
            "query": name, "build_s": t1 - t0, "action_s": t2 - t1, "wall_s": t2 - t0,
            "cpu_s": cpu_s(self.jvm_pid) - c0,
        }
        if n is not None and want is not None and n != want:
            self._fail(name, f"count {n} != expected {want}")
        elif n is not None and t2 - t0 > QUERY_TIMEOUT_S:
            self._fail(name, f"timed out ({t2 - t0:.1f} s)")
        if probe:
            rec.update(probe.after(e0, e0 + (t1 - t0)))
        return rec

    def timed_pass(self, queries, probe=None) -> list[dict]:
        recs = []
        steal0 = steal_s()
        for name in self.order():
            self.release()
            recs.append(self.run_query(queries[name], name, probe))
        self.release()
        wall = sum(r["wall_s"] for r in recs)
        cpu = sum(r["cpu_s"] for r in recs)
        log(f"# pass: wall {wall:.3f} s, cpu {cpu:.2f} s, host steal {steal_s() - steal0:.2f} s")
        return recs


def main(argv=None) -> int:
    args = parse_args(argv)
    t_launch = time.perf_counter()
    if not (
        os.path.isdir(os.path.join(ROOT, "sparkobs"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        log("error: run from a sparkobs checkout (sparkobs/ and __spark_entry__.py not found)")
        return 2
    pin_environment()
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    try:
        return _run(bench, t_launch)
    finally:
        _shutdown(bench)


def _run(bench: Bench, t_launch: float) -> int:
    start_s = bench.setup()
    import __spark_entry__ as entry

    queries = entry.queries()
    missing = [n for n in bench.w.queries if n not in queries]
    if missing:
        log(f"error: queries missing from the registry: {missing}")
        return 2
    probe = None
    if bench.trace:
        from traced import TracedRun

        probe = TracedRun(bench.spark)
    bench.warmup_pass(queries)
    bench.snapshot_scratch()
    if bench.trace:
        # the first pass of count() plans still compiles; keep it out of
        # both sides of trace.overhead_frac
        bench.timed_pass(queries)
        bench.drop_scratch()
    # set-up is launch to the first timed query, less the DuckDB
    # cross-check, which runs only the first time a checkout sees a seed
    setup_s = time.perf_counter() - t_launch - bench.oracle_s
    log(f"# ready after {setup_s:.1f} s (+ {bench.oracle_s:.1f} s DuckDB cross-check)")

    untraced: list[list[dict]] = []
    traced: list[list[dict]] = []
    scratch: list[int] = []
    t0 = time.perf_counter()
    # at least MIN_PASSES untraced passes, or a traced and an untraced one
    while time.perf_counter() - t0 < bench.seconds or (
        len(traced) < 1 or len(untraced) < 1 if bench.trace else len(untraced) < MIN_PASSES
    ):
        trace_this = bench.trace and len(traced) <= len(untraced)
        if trace_this:
            probe.start_pass()
        recs = bench.timed_pass(queries, probe if trace_this else None)
        scratch.append(bench.drop_scratch())
        (traced if trace_this else untraced).append(recs)
        if trace_this:
            probe.end_pass(recs)

    rss = peak_rss_mb(bench.jvm_pid)
    correct = bench.failed == 0
    if bench.trace:
        metrics = probe.metrics(start_s, untraced, traced)
        record = probe.record(bench, metrics)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        path = os.path.join(WORK, "trace", f"{bench.w.name}-seed{bench.seed}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        log(f"# traced record: {path}  dominant layer: {record['dominant_layer']}")
    else:
        # each query's cheapest timed execution: the first timed pass
        # still compiles (JIT), later ones do not
        best: dict[str, dict[str, float]] = {}
        for r in (r for recs in untraced for r in recs):
            b = best.setdefault(r["query"], {"cpu_s": r["cpu_s"], "wall_s": r["wall_s"], "n": 0})
            b["cpu_s"], b["wall_s"] = min(b["cpu_s"], r["cpu_s"]), min(b["wall_s"], r["wall_s"])
            b["n"] += 1
        pass_cpu_s = sum(b["cpu_s"] for b in best.values())
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": pass_cpu_s,
            "rows_per_cpu_s": bench.source_rows / pass_cpu_s,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        log(f"# {bench.w.name} seed={bench.seed}: {len(untraced)} timed passes, "
            f"pass wall (sum of per-query fastest) {sum(b['wall_s'] for b in best.values()):.3f} s, "
            f"scratch per pass {scratch} B")
        for name, b in sorted(best.items()):
            log(f"#   {name:<40} best of {b['n']}: cpu {b['cpu_s']:.3f} s, wall {b['wall_s']:.3f} s")
    for k, m in metrics.items():
        log(f"{k:<32} {m['value']:.6g} {m['unit']}")
    log(f"failed_frac {bench.failed / max(1, bench.attempted):.4f} "
        f"({bench.failed}/{bench.attempted}); output check "
        f"{'passed' if correct else 'FAILED'}")
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def _shutdown(bench: Bench) -> None:
    """Stop Spark, wait for the JVM (and its Python workers) to end and
    remove this run's inputs and scratch."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if bench.spark is not None:
            bench.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    shutil.rmtree(RUN, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
