"""spark-graft benchmark harness.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seconds S] [--trace 0|1]

One run generates the workload's inputs from the seed, starts the session
once (``setup_s`` counts from process start), runs a traced verify pass
that checks every query of the workload against its DuckDB oracle and
evaluates the workload's self-checks (untimed; it also warms the JIT and
the package's fixtures), then times ``round(seconds / nominal_pass_s)``
whole passes over the query mix: each query is a plan build
(``ALL_SPECS[q].fn``) followed by a noop write. ``--trace 1`` follows each
untraced pass with a traced one (Spark event log, job groups per span,
streaming progress listener, Catalyst phase probe) and reports the
per-layer metrics of the traced passes. The last stdout line is one JSON
object
``{"correct", "attempted", "failed", "metrics"}``; the full record (host,
config, inputs, sample counts, failures) goes to
``.perfbench/results/`` and a readable table to stderr.

``--workload all`` runs each workload of ``BENCHMARK.json`` in a child
process, prints each end-to-end metric with its unit and sample count, and
exits 1 on any oracle mismatch, query error or self-check failure.

All state lives under ``.perfbench/`` in the checkout. The package writes
its scratch under an absolute root outside the checkout; the harness
redirects that root into ``.perfbench/`` as it loads the package (see
``_redirect_scratch``). Between runs the harness deletes only scratch
entries tagged with application ids that an earlier run recorded as
finished in ``.perfbench/finished_apps.json``.
"""

from __future__ import annotations

import argparse
import ast
import importlib.abc
import importlib.machinery
import importlib.util
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PKG = "hippo_claim_crossover_spark"
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

_MB = 1024.0 * 1024.0
_RUN_TAG = re.compile(r"local[-_](\d+)")


def _process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- sandbox

class _RedirectLoader(importlib.machinery.SourceFileLoader):
    """Source loader that rewrites one path prefix in the module text.
    Never reads or writes bytecode caches, so the rewrite cannot leak into
    a later plain import of the package."""

    old = new = ""

    def get_code(self, fullname):
        src = self.get_data(self.path).decode("utf-8")
        return compile(src.replace(self.old, self.new), self.path, "exec",
                       dont_inherit=True)


class _RedirectFinder(importlib.abc.MetaPathFinder):
    def find_spec(self, fullname, path, target=None):
        if fullname != PKG and not fullname.startswith(PKG + "."):
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is None or not str(spec.origin).endswith(".py"):
            return spec
        loader = _RedirectLoader(fullname, spec.origin)
        return importlib.util.spec_from_file_location(
            fullname, spec.origin, loader=loader,
            submodule_search_locations=spec.submodule_search_locations)


def _redirect_scratch(new_root: Path) -> None:
    """Point the package's scratch writes into ``new_root``.

    The package roots its run-scoped scratch (``plans/sources._SCRATCH``
    and the literal paths next to it, in several modules) at a fixed
    absolute directory, which need not exist in a checkout. The harness
    reads that constant from the source, without importing it, and
    rewrites its parent-directory prefix in every package module it
    loads, so sinks, stream checkpoints and fixture materializations stay
    inside the checkout."""
    src = (ROOT / PKG / "plans" / "sources.py").read_text()
    for node in ast.parse(src).body:
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and getattr(node.targets[0], "id", "") == "_SCRATCH"
                and isinstance(node.value, ast.Constant)):
            old = os.path.dirname(node.value.value.rstrip("/")) + "/"
            if old != "/":
                _RedirectLoader.old, _RedirectLoader.new = (
                    old, str(new_root) + "/")
                sys.meta_path.insert(0, _RedirectFinder())
            return


def _dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


def _prune_finished(work: Path) -> list[str]:
    """Delete scratch and event logs tagged with the app ids that earlier
    runs recorded as finished; leave everything else alone."""
    ledger = work / "finished_apps.json"
    try:
        finished = set(json.loads(ledger.read_text()))
    except (OSError, ValueError):
        return []
    tags = {m.group(1) for a in finished if (m := _RUN_TAG.search(a))}
    removed = []
    for root in (work / "pkgroot" / "_scratch",
                 work / "pkgroot" / "spark-warehouse" / "bktest.db",
                 work / "eventlog"):
        if not root.is_dir():
            continue
        for entry in root.iterdir():
            m = _RUN_TAG.search(entry.name)
            if m and m.group(1) in tags:
                if entry.is_dir():
                    shutil.rmtree(entry, ignore_errors=True)
                else:
                    entry.unlink(missing_ok=True)
                removed.append(entry.name)
    ledger.unlink(missing_ok=True)
    return removed


def _record_finished(work: Path, app_ids: list[str]) -> None:
    ledger = work / "finished_apps.json"
    try:
        known = json.loads(ledger.read_text())
    except (OSError, ValueError):
        known = []
    ledger.write_text(json.dumps(sorted(set(known) | set(app_ids))))


# ---------------------------------------------------------------- memory

def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the forked Python workers) split among their sharers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(root_pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    members = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in members and pid not in members:
                members.add(pid)
                grew = True
    members.discard(root_pid)
    return members


def _tree_pss_bytes(root_pid: int) -> tuple[int, int]:
    """Memory of ``root_pid`` and of all its descendants."""
    return (_pss_bytes(root_pid),
            sum(_pss_bytes(p) for p in _descendants(root_pid)))


class RssSampler(threading.Thread):
    """Samples the resident memory (PSS) of the JVM and its Python
    workers; keeps the peak of their sum."""

    def __init__(self, pid: int, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            jvm, workers = _tree_pss_bytes(self.pid)
            self.peak = max(self.peak, jvm + workers)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, workers)
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# --------------------------------------------------------------- session

def _spark_conf(work: Path) -> dict[str, str]:
    return {"spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "local")}


def _start_session(data_dir: str, conf: dict) -> tuple:
    """get_spark + warm-up; returns (spark, start_s, warmup_s)."""
    from hippo_claim_crossover_spark.io import load_table
    from hippo_claim_crossover_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(200_000).selectExpr("sum(id)").collect()
    load_table(spark, data_dir, "nation").count()
    return spark, t1 - t0, time.perf_counter() - t1


def _stop_jvm(spark) -> None:
    """Stop the session, shut the gateway JVM down and wait until it and
    its Python workers have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - best effort, the wait follows
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.05)
    for pid in children:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------- tracing

class Tracer:
    """Event log, streaming progress, scan timing and job groups for the
    traced passes. ``attach``/``detach`` bracket one pass on a live
    session, so the untraced passes between them run with none of it;
    what a traced pass records accumulates in ``log``, ``progress`` and
    ``scan_s``."""

    def __init__(self, spark, log_dir: Path) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        import hippo_claim_crossover_spark.io as pio
        import hippo_claim_crossover_spark.plans  # noqa: F401 - every module
        # that calls load_table is loaded before it is patched

        self.spark = spark
        sc = spark.sparkContext
        self._jvm, self._jsc = sc._jvm, sc._jsc.sc()
        log_dir.mkdir(parents=True, exist_ok=True)
        self._log_dir = log_dir
        self._log_path = log_dir / sc.applicationId
        self._conf = (self._jsc.conf().clone()
                      .set("spark.eventLog.compress", "false")
                      .set("spark.eventLog.rolling.enabled", "false")
                      .set("spark.eventLog.overwrite", "true"))
        self._listener = None
        self.log = layers.EventLog()
        self.progress: list[dict] = []
        self.scan_s: list[float] = []
        progress = self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._stream_listener = _Progress()
        self._orig_load = orig = pio.load_table
        scans = self.scan_s

        def timed_load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                scans.append(time.perf_counter() - t0)

        self._timed_load = timed_load_table
        self._patched = [m for m in list(sys.modules.values())
                         if getattr(m, "__name__", "").startswith(PKG)
                         and getattr(m, "load_table", None) is orig]

    def attach(self) -> None:
        jvm = self._jvm
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.spark.sparkContext.applicationId, jvm.scala.Option.empty(),
            jvm.java.net.URI(self._log_dir.as_uri()), self._conf,
            self._jsc.hadoopConfiguration())
        self._listener.start()
        self._jsc.addSparkListener(self._listener)
        self.spark.streams.addListener(self._stream_listener)
        for m in self._patched:
            m.load_table = self._timed_load

    def detach(self) -> None:
        """Drain the listener bus, unhook everything and fold this pass's
        event log into ``log``."""
        self._jsc.listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self._stream_listener)
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        for m in self._patched:
            m.load_table = self._orig_load
        path = self._log_path
        if not path.exists():
            path = path.with_name(path.name + ".inprogress")
        with open(path) as f:
            self.log.add_lines(f)
        path.unlink()

    def job_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    @staticmethod
    def catalyst_s(df) -> float:
        """Analysis + optimization + planning time of ``df``'s own
        QueryExecution, from ``QueryExecution.tracker``."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return total / 1000.0


# ----------------------------------------------------------------- passes

def _order(mix: list[str], seed: int, label: str) -> list[str]:
    order = list(mix)
    random.Random(f"{seed}/{label}").shuffle(order)
    return order


def oracle_checker(mix, data_dir):
    """Start every query's DuckDB oracle in a background thread, on the
    same files; return ``check(q, got) -> problems`` with the comparison
    of tools/check_oracle, and a ``close`` callable."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from hippo_claim_crossover_spark.io import TABLES
    from hippo_claim_crossover_spark.plans import ALL_SPECS
    from tools.check_oracle import compare

    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{tbl}.parquet')")
    pool = ThreadPoolExecutor(max_workers=1)
    oracles = {q: pool.submit(lambda sql: con.execute(sql).fetchdf(),
                              ALL_SPECS[q].oracle)
               for q in mix if ALL_SPECS[q].oracle is not None}

    def check(q, got) -> list[str]:
        if q not in oracles:
            return ["no DuckDB oracle declared"]
        return compare(q, got, oracles[q].result())

    def close() -> None:
        pool.shutdown(wait=True, cancel_futures=True)
        con.close()

    return check, close


def run_pass(spark, mix, data_dir, seed, label,
             tracer: Tracer | None = None, check=None) -> dict:
    """One pass of the closed loop (one client): every query of the mix,
    in a seeded order, each a plan build followed by a noop write. With
    ``check`` the execution is a ``toPandas`` whose result ``check``
    compares with the query's oracle (the verify pass)."""
    from hippo_claim_crossover_spark.plans import ALL_SPECS

    samples = []
    t_pass = time.time()
    for i, q in enumerate(_order(mix, seed, label)):
        sid = f"pb/{label}/{i}/{q}"
        rec = {"query": q, "id": sid, "ok": True}
        t0 = time.time()
        try:
            if tracer:
                tracer.job_group(sid + "/build")
            df = ALL_SPECS[q].fn(spark, data_dir)
            t1 = time.time()
            if tracer:
                tracer.job_group(sid + "/exec")
            if check is None:
                df.write.format("noop").mode("overwrite").save()
            else:
                got = df.toPandas()
            t2 = time.time()
            if check is not None and (problems := check(q, got)):
                rec.update(ok=False, problems=problems)
        except Exception as exc:  # noqa: BLE001 - counted, never dropped
            t1 = t2 = time.time()
            rec.update(ok=False, error=f"{type(exc).__name__}: "
                                       f"{str(exc)[:300]}")
        finally:
            if tracer:
                tracer.job_group(None)
        rec.update(t0=t0, t1=t1, t2=t2, build_s=t1 - t0, exec_s=t2 - t1,
                   wall_s=t2 - t0)
        if tracer and rec["ok"]:
            try:
                rec["catalyst_s"] = tracer.catalyst_s(df)
            except Exception:  # noqa: BLE001 - probe only
                rec["catalyst_s"] = 0.0
        samples.append(rec)
    return {"samples": samples, "t0": t_pass, "wall_s": time.time() - t_pass}


def traced_pass(tracer: Tracer, *args, **kwargs) -> dict:
    tracer.attach()
    try:
        return run_pass(*args, tracer=tracer, **kwargs)
    finally:
        tracer.detach()


def _segment(passes: list[dict]) -> dict:
    return {"samples": [s for p in passes for s in p["samples"]],
            "passes": passes}


def end_to_end(seg: dict, setup_s: float) -> dict:
    """End-to-end metrics of the untraced passes.

    ``pass_s`` is the median pass and ``query_p50_s`` the Harrell-Davis
    median of the query executions (build plus noop write) over every
    timed pass."""
    walls = [s["wall_s"] for s in seg["samples"] if s["ok"]]
    pass_walls = [p["wall_s"] for p in seg["passes"]]
    tail = layers.tail_percentile(walls)
    return {
        "values": {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_walls),
            "query_p50_s": layers.harrell_davis(walls),
            "query_tail_s": tail["value"],
        },
        "samples": {"setup_s": 1, "pass_s": len(pass_walls),
                    "query_p50_s": len(walls), "query_tail_s": len(walls)},
        "pass_min_s": min(pass_walls),
        "pass_quartiles_s": (statistics.quantiles(pass_walls, n=4)
                             if len(pass_walls) > 1 else pass_walls * 3),
        "tail": tail,
    }


def per_layer(seg: dict, tracer: Tracer, cores: int) -> dict:
    """Per-layer metrics of the traced passes in ``seg``, normalised per
    pass."""
    log = tracer.log
    n_pass = len(seg["passes"])
    samples = seg["samples"]
    build_groups = {s["id"] + "/build" for s in samples}
    exec_groups = {s["id"] + "/exec" for s in samples}
    by_group: dict[str, list] = {}
    for job in log.jobs.values():
        if job["group"] and job["end"] is not None:
            by_group.setdefault(job["group"], []).append(
                (job["start"] / 1000.0, job["end"] / 1000.0))
    build_s = build_job_s = build_self_s = 0.0
    for s in samples:
        jobs = by_group.get(s["id"] + "/build", [])
        span = (s["t0"], s["t1"])
        self_s = layers.self_time(span, jobs)
        build_s += s["build_s"]
        build_self_s += self_s
        build_job_s += s["build_s"] - self_s
    groups = build_groups | exec_groups
    tasks = log.task_totals(groups)
    stages, skipped = log.stage_counts(groups)
    bcast, shuffle = log.join_counts()
    py = log.sql_metric_totals(layers.PY_EVAL_METRICS)
    writes = log.sql_metric_totals(layers.WRITE_METRICS)
    prog = tracer.progress
    dur = [b.get("durationMs", {}) for b in prog]
    wall = sum(p["wall_s"] for p in seg["passes"])
    state_rows = sum(op.get("numRowsTotal", 0)
                     for b in prog for op in b.get("stateOperators", []))
    n_jobs = sum(1 for j in log.jobs.values() if j["group"] in build_groups)
    n_exec_jobs = sum(1 for j in log.jobs.values()
                      if j["group"] in exec_groups)
    per = 1.0 / n_pass
    return {
        "plans.build_s": build_s * per,
        "plans.build_jobs": n_jobs * per,
        "plans.build_job_s": build_job_s * per,
        "plans.build_self_s": build_self_s * per,
        "spark.catalyst_s": sum(s.get("catalyst_s", 0.0)
                                for s in samples) * per,
        "spark.exec_s": sum(s["exec_s"] for s in samples) * per,
        "spark.exec_jobs": n_exec_jobs * per,
        "spark.stages": (stages - skipped) * per,
        "spark.stage_skip_frac": skipped / stages if stages else 0.0,
        "spark.tasks": tasks.get("tasks", 0) * per,
        "spark.tasks_failed": tasks.get("tasks_failed", 0) * per,
        "spark.task_run_s": tasks.get("run_ms", 0) / 1000.0 * per,
        "spark.task_cpu_s": tasks.get("cpu_ns", 0) / 1e9 * per,
        "spark.gc_s": tasks.get("gc_ms", 0) / 1000.0 * per,
        "spark.core_busy_frac": (tasks.get("run_ms", 0) / 1000.0
                                 / (cores * wall)) if wall else 0.0,
        "spark.shuffle_write_mb": tasks.get("shuffle_write_bytes", 0)
        / _MB * per,
        "spark.shuffle_read_mb": tasks.get("shuffle_read_bytes", 0)
        / _MB * per,
        "spark.spill_mb": tasks.get("spill_bytes", 0) / _MB * per,
        "spark.broadcast_joins": bcast * per,
        "spark.shuffle_joins": shuffle * per,
        "io.scan_s": sum(tracer.scan_s) * per,
        "io.input_mb": tasks.get("input_bytes", 0) / _MB * per,
        "io.output_mb": tasks.get("output_bytes", 0) / _MB * per,
        "io.files_written": writes["files_written"] * per,
        "operators.py_eval_s": py["py_eval_s"] * per,
        "operators.py_in_mb": py["py_in_bytes"] / _MB * per,
        "operators.py_out_mb": py["py_out_bytes"] / _MB * per,
        "streaming.batches": len(prog) * per,
        "streaming.batch_p50_ms": layers.median_or_zero(
            [d.get("triggerExecution", 0) for d in dur]),
        "streaming.planning_ms": sum(d.get("queryPlanning", 0)
                                     for d in dur) * per,
        "streaming.add_batch_ms": sum(d.get("addBatch", 0)
                                      for d in dur) * per,
        "streaming.commit_ms": sum(d.get("walCommit", 0)
                                   + d.get("commitOffsets", 0)
                                   for d in dur) * per,
        "streaming.state_rows": state_rows * per,
    }


def _positive(v: float) -> bool:
    return v > 0


SELF_CHECKS = {
    # workload -> [(metric, predicate label, predicate)]: fail loudly when
    # a workload stops loading the layer it exists for
    "claims_etl_x10": [("operators.py_eval_s", "== 0", lambda v: v == 0),
                       ("spark.shuffle_joins", "> 0", _positive)],
    "llm_pipeline": [("plans.build_jobs", "> 0", _positive),
                     ("operators.py_eval_s", "> 0", _positive)],
    "ingest_stream": [("io.output_mb", "> 0", _positive),
                      ("streaming.batches", "> 0", _positive)],
}
SELF_CHECKS["llm_ingest"] = (SELF_CHECKS["llm_pipeline"]
                             + SELF_CHECKS["ingest_stream"])


def self_checks(name: str, pass_label: str, metrics: dict) -> list[dict]:
    return [{"pass": pass_label, "metric": metric, "value": metrics[metric],
             "expect": label, "ok": bool(pred(metrics[metric]))}
            for metric, label, pred in SELF_CHECKS[name]]


# ------------------------------------------------------------------- run

def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    proc_start = _process_start_epoch()
    wl = WORKLOADS[name]
    if not (ROOT / PKG / "plans" / "sources.py").is_file():
        raise SystemExit(f"perfbench: package {PKG!r} not found under "
                         f"{ROOT}; run from a checkout of the repository")
    WORK.mkdir(exist_ok=True)
    pruned = _prune_finished(WORK)
    for sub in ("tmp", "local", "results", "pkgroot/_scratch"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData")
    tempfile.tempdir = None
    _redirect_scratch(WORK / "pkgroot")
    pre_gen = time.time() - proc_start

    data_dir = WORK / "data" / name
    shutil.rmtree(data_dir, ignore_errors=True)
    inputs = gen.generate(str(data_dir), wl["sf"], wl["replicas"],
                          order_seed=seed if wl["seeded_rows"] else None)
    data = str(data_dir)

    # One cold start: setup_s runs from process start (less the input
    # generation) until the session is up and the warm-up has finished.
    marks = {"gen": time.perf_counter()}
    spark, start_s, warmup_s = _start_session(data, _spark_conf(WORK))
    setup = {"start_s": pre_gen + start_s, "warmup_s": warmup_s,
             "total_s": pre_gen + start_s + warmup_s}
    marks["setup"] = time.perf_counter()
    sc = spark.sparkContext
    app_id = sc.applicationId
    sampler = RssSampler(sc._gateway.proc.pid)
    sampler.start()
    mix = wl["queries"]
    try:
        check, close = oracle_checker(mix, data)
        try:
            vtracer = Tracer(spark, WORK / "eventlog")
            verified = traced_pass(vtracer, spark, mix, data, seed, "verify",
                                   check=check)
        finally:
            close()
        vseg = _segment([verified])
        checks = self_checks(name, "verify", per_layer(vseg, vtracer, cores))
        marks["verify"] = time.perf_counter()
        n_passes = max(2, round(seconds / wl["nominal_pass_s"]))
        tracer = Tracer(spark, WORK / "eventlog") if trace else None
        plain, traced = [], []
        scratch0 = _dir_bytes(WORK / "pkgroot")
        for p in range(n_passes):
            plain.append(run_pass(spark, mix, data, seed, f"plain/{p}"))
            if tracer:  # interleaved, so warm-up drift hits both alike
                traced.append(traced_pass(tracer, spark, mix, data, seed,
                                          f"traced/{p}"))
        growth = (_dir_bytes(WORK / "pkgroot") - scratch0) / (
            len(plain) + len(traced))
        marks["timed"] = time.perf_counter()
        seg, tseg = _segment(plain), _segment(traced)
        e2e = end_to_end(seg, setup["total_s"])
        layer = None
        if trace:
            layer = per_layer(tseg, tracer, cores)
            checks += self_checks(name, "traced", layer)
        peak_rss_mb = sampler.stop() / _MB
        host = {"nproc": cores, "mem_total_kb": _meminfo("MemTotal"),
                "spark.master": sc.master,
                "spark.driver.memory": sc.getConf().get(
                    "spark.driver.memory", "(default)"),
                "pyspark": __import__("pyspark").__version__,
                "java": sc._jvm.System.getProperty("java.version")}
    finally:
        if sampler.is_alive():
            sampler.stop()
        marks["report"] = time.perf_counter()
        _stop_jvm(spark)
        marks["stop"] = time.perf_counter()
        _record_finished(WORK, [app_id])

    samples = vseg["samples"] + seg["samples"] + tseg["samples"]
    failures = [s for s in samples if not s["ok"]]
    attempted = len(samples)
    if trace:
        layer.update({
            "session.start_s": setup["start_s"],
            "session.warmup_s": setup["warmup_s"],
            "io.scratch_growth_mb": growth / _MB,
            "spark.peak_rss_mb": peak_rss_mb,
            "bench.gen_s": inputs["gen_s"],
            "bench.verify_s": verified["wall_s"],
            "bench.trace_overhead_frac": (
                statistics.median(p["wall_s"] for p in traced)
                / e2e["values"]["pass_s"] - 1.0),
            "bench.failed_frac": len(failures) / attempted,
        })
    correct = not failures and all(c["ok"] for c in checks)
    return {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "failed_frac": len(failures) / attempted,
        "end_to_end": e2e, "per_layer": layer, "self_checks": checks,
        "failures": failures, "verified": vseg["samples"],
        "setup": setup, "host": host,
        "inputs": {**inputs, "seeded_rows": wl["seeded_rows"],
                   "queries": mix},
        "passes": {"plain": len(plain), "traced": len(traced)},
        "app_id": app_id, "pruned_scratch_entries": len(pruned),
        "phase_s": {"pre_gen": pre_gen, **{
            k: t - t_prev for (_, t_prev), (k, t) in zip(
                list(marks.items()), list(marks.items())[1:])}},
        "peak_rss_mb": {"total": peak_rss_mb, "jvm": sampler.peak_jvm / _MB,
                        "workers": sampler.peak_workers / _MB},
        "spans": [{k: s[k] for k in ("id", "t0", "t1", "t2", "ok")}
                  for s in samples],
    }


def _meminfo(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit, from one metric list of BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def _metrics_line(record: dict) -> dict:
    section, vals = (("per_layer", record["per_layer"]) if record["trace"]
                     else ("end_to_end", record["end_to_end"]["values"]))
    units = _units(section)
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"],
            "metrics": {k: {"value": vals[k], "unit": u}
                        for k, u in units.items()}}


def _print_table(record: dict, out=sys.stderr) -> None:
    e2e = record["end_to_end"]
    units = _units("end_to_end")
    print(f"== {record['workload']} seed={record['seed']} "
          f"correct={record['correct']} attempted={record['attempted']} "
          f"failed={record['failed']} "
          f"failed_frac={record['failed_frac']:.4f}", file=out)
    for k, v in e2e["values"].items():
        print(f"  {k:<16} {v:12.4f} {units[k]:<3} "
              f"n={e2e['samples'][k]}", file=out)
    t = e2e["tail"]
    print(f"  tail = p{t['percentile']:g} of {t['n']} samples "
          f"({t['beyond']} beyond)", file=out)
    for f in record["failures"]:
        print(f"  FAIL {f['query']}: "
              f"{f.get('problems') or f.get('error')}", file=out)
    for c in record["self_checks"]:
        print(f"  self-check ({c['pass']}) {c['metric']} {c['expect']}: "
              f"{c['value']:.4f} {'ok' if c['ok'] else 'FAILED'}", file=out)


def run_all(args) -> int:
    bad = 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for name in [w["name"] for w in spec["workloads"]]:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload",
               name, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode or not lines:
            print(f"{name}: exit {res.returncode}", file=sys.stderr)
            bad += 1
            continue
        record = json.loads(
            (WORK / "results" / _result_name(name, args)).read_text())
        _print_table(record, sys.stdout)
        bad += not record["correct"]
    return 1 if bad else 0


def _result_name(name: str, args) -> str:
    return f"{name}-seed{args.seed}-trace{args.trace}.json"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    record = run_workload(args.workload, args.seed, args.seconds,
                          bool(args.trace))
    (WORK / "results" / _result_name(args.workload, args)).write_text(
        json.dumps(record, indent=1, default=str))
    _print_table(record)
    print(json.dumps(_metrics_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
