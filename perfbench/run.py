#!/usr/bin/env python3
"""Crawl benchmark for spark-frontier.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0

Run from the repository root.  One closed-loop client in this process
drives the crawl engine on Spark ``local[4]``: it runs the workload's
crawl operation, waits for it to finish, checks its output against the
sequential ``ReferenceSimulator``, and starts the next, until the
operations have taken ``--seconds`` of wall time (at least one runs).
Every operation uses a fresh run dir and the same seed-generated inputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced operation, then traced ones, and prints the per-layer metrics
plus the tracing overhead.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is a report with the environment stamp and details.

``--corrupt 1`` is the checker's self-test: it alters one row of each
operation's output before the check, so every operation fails.

Workloads, metrics and the layer map are described in README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import hashlib
import json
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
from multiprocessing import resource_tracker

import spans

K = 4  # Spark runs as local[K]
RENDER_PROCS = K
JVM_HEAP = "2g"  # -Xms and -Xmx of the Spark JVM
PACKAGE = "cianparser_spark"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


# ------------------------------------------------------------ processes

def _children() -> dict[int, list[int]]:
    """ppid -> live child pids (zombies excluded)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            kids.setdefault(int(ppid), []).append(int(d))
    return kids


def _reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def descendants(pid: int) -> list[int]:
    _reap_zombies()
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> dict[str, int]:
    """Proportional set size of ``pid`` ("client") and its descendants
    ("jvm", "workers"): pages shared between forked Python workers count
    once in total, not once per worker."""
    split = {"client": 0, "jvm": 0, "workers": 0}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as fh:
                kind = ("client" if p == pid else
                        "jvm" if fh.read().strip() == "java" else "workers")
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        split[kind] += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return split


class PeakMemory:
    """Samples the PSS of this process and all its descendants (the JVM,
    Python workers) while ``running`` is set."""

    def __init__(self, period_s: float = 0.25):
        self.peak = 0
        self.split: dict[str, int] = {}
        self.period_s = period_s
        self.running = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.running.is_set():
                split = tree_pss_bytes(me)
                if sum(split.values()) > self.peak:
                    self.peak, self.split = sum(split.values()), split
            time.sleep(self.period_s)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_descendants(timeout_s: float = 30.0) -> list[str]:
    """Wait for every descendant process to end; kill what outlives the
    timeout.  Returns "pid:cmdline" of each process that had to be
    killed."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    killed = []
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                killed.append(f"{p}:{fh.read()[:80].decode(errors='replace')}")
            os.kill(p, signal.SIGKILL)
        except (OSError, ProcessLookupError):
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)
    return killed


# ----------------------------------------------------------- environment

def env_stamp(root: str, workload: str, seed: int) -> dict:
    import pyspark

    try:
        import duckdb
        duck = duckdb.__version__
    except ImportError:
        duck = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, PACKAGE, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return {"workload": workload, "seed": seed,
            "nproc": len(os.sched_getaffinity(0)), "master": f"local[{K}]",
            "pyspark": pyspark.__version__, "duckdb": duck,
            "python": platform.python_version(), "commit": commit,
            "source_sha256": h.hexdigest()[:16]}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


# ---------------------------------------------------------------- bench

def warm_up(spark, warm_inputs, scratch: str) -> None:
    """Compile the widen plan (as bench_crawl does), then run one tiny
    crawl: JVM JIT, the Python worker pool and the crawl's small-wave
    plans are warm when the window opens.  What this misses (bulk's
    codegen-on plans, polite_recrawl's detail, resume and compaction
    paths) the first timed operation pays; warming those too would
    cost about as much as the operation itself."""
    from cianparser_spark.engine import columnar, model

    raw0 = spark.createDataFrame([], model.RAW_STAGE_SCHEMA)
    dim0 = columnar.seed_dim(spark, {0: dict(
        seed_id=0, kind="flat", deal="sale", location="x", suburban_type=None)})
    columnar.widen(raw0, dim0).count()
    run_dir = os.path.join(scratch, "runs", "warmup")
    crawl_op(spark, warm_inputs, run_dir, {})[1].count()
    shutil.rmtree(run_dir)


class CommitClock:
    """Timestamps every committed wave (always on: one clock read per
    commit).  The end-to-end ``wave_s`` metrics are intervals between
    consecutive commits."""

    def __init__(self):
        from cianparser_spark.engine.store import WaveStore

        self.times: list[float] = []
        self.waves: list[int] = []
        orig = WaveStore.commit_wave
        clock = self

        def commit_wave(store, wave, *args, **kwargs):
            out = orig(store, wave, *args, **kwargs)
            clock.times.append(time.perf_counter())
            clock.waves.append(wave)
            return out

        WaveStore.commit_wave = commit_wave

    def reset(self) -> None:
        self.times.clear()
        self.waves.clear()


def read_counts(spark, store) -> dict:
    """Exact per-operation counts from the committed tables."""
    from pyspark.sql import functions as F

    m = store.read("metrics").agg(
        F.sum("pages_fetched"), F.sum("details_fetched"),
        F.sum("cards_parsed"), F.sum("offers_emitted")).collect()[0]
    pages, details, cards, offers = (int(v or 0) for v in m)
    attempts = int(store.read("lineage").agg(F.sum("input_rows"))
                   .collect()[0][0] or 0)
    return {"pages": pages + details, "list_pages": pages,
            "detail_pages": details, "cards_parsed": cards,
            "offers_emitted": offers, "fetch_attempts": attempts,
            "seen_keys": int(store.read("seen").count())}


def crawl_op(spark, inputs, run_dir: str, phases: dict):
    """One operation of the workload.  Returns the engine whose store
    holds the final state, and the final offers DataFrame."""
    from cianparser_spark.engine import model
    from cianparser_spark.engine.crawler import CrawlEngine

    def engine():
        return CrawlEngine(spark, run_dir, inputs.seeds, inputs.cfg,
                           host_tokens=inputs.host_tokens)

    if inputs.kill_after is None:
        eng = engine()
        return eng, eng.run()
    engine().run(max_waves=inputs.kill_after)  # the "killed" first run
    t0 = time.perf_counter()
    eng = engine()
    eng.run(max_waves=1)
    phases["resume_s"] = time.perf_counter() - t0
    eng.run()
    t0 = time.perf_counter()
    eng.invalidate_and_recrawl(inputs.invalidate)
    phases["recrawl_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for name in sorted(model.TABLE_SCHEMAS):
        eng.store.compact(name)
    phases["maintain_compact_s"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    eng.store.vacuum()
    phases["maintain_vacuum_s"] = time.perf_counter() - t1
    phases["maintain_s"] = time.perf_counter() - t0
    return eng, eng.offers()


def run_bench(args, root: str, scratch: str) -> tuple[dict, dict]:
    from cianparser_spark.corpus import snapshot as snap_mod
    from cianparser_spark.semantics.simulator import ReferenceSimulator

    from workloads import WORKLOADS, warmup

    report: dict = {"env": env_stamp(root, args.workload, args.seed)}

    # load generator and checker work: outside setup_s
    inputs = WORKLOADS[args.workload](args.seed)
    snap = os.path.join(scratch, "web.snap")
    t0 = time.perf_counter()
    snap_mod.build_parallel(inputs.list_urls(), inputs.cfg, snap,
                            processes=RENDER_PROCS)
    # the spawn pool leaves multiprocessing's tracker process running
    resource_tracker._resource_tracker._stop()
    inputs.cfg = dataclasses.replace(inputs.cfg, snapshot_path=snap)
    report["render_s"] = time.perf_counter() - t0
    log(f"rendered {len(inputs.list_urls())} list pages")
    t0 = time.perf_counter()
    truth = ReferenceSimulator(inputs.cfg).run(inputs.seeds).rows
    report["oracle.simulator_s"] = time.perf_counter() - t0
    if not truth:
        raise RuntimeError("reference simulator produced no rows")

    from cianparser_spark.engine.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench_{args.workload}", master=f"local[{K}]",
        shuffle_partitions=K,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={scratch}/tmp",
        })
    session_start_s = time.perf_counter() - t0
    log("session started")
    try:
        warm_up(spark, warmup(), scratch)
        setup_s = time.perf_counter() - t0
        log(f"set up in {setup_s:.1f} s")
        return measure(args, spark, inputs, truth, scratch, report,
                       setup_s, session_start_s)
    finally:
        stop_spark(spark)


def measure(args, spark, inputs, truth, scratch, report, setup_s,
            session_start_s) -> tuple[dict, dict]:
    """The timed window: operations, their checks, and the metrics."""
    from cianparser_spark.engine import compat

    sc = spark.sparkContext
    clock = CommitClock()
    mem = PeakMemory()
    ops: list[dict] = []
    tracer = None
    window = 0.0
    # traced runs: op0 untraced (warm-up drift), op1 traced, op2 untraced
    # (the overhead is op1 - op2), then traced ops until the window ends
    while not ops or window < args.seconds or (args.trace and len(ops) < 3):
        traced = bool(args.trace) and len(ops) != 0 and len(ops) != 2
        if traced:
            tracer = tracer or spans.Tracer(sc)
            spans.install(tracer)
        run_dir = os.path.join(scratch, "runs", f"op{len(ops)}")
        clock.reset()
        phases: dict = {}
        k0 = tracer.kernel_totals() if traced else None
        n0 = len(tracer.spans) if traced else 0
        c0 = spans.spark_counters(sc)
        mem.running.set()
        t0 = time.perf_counter()
        ok = True
        try:
            eng, offers = crawl_op(spark, inputs, run_dir, phases)
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            wall = time.perf_counter() - t0
            ok, eng = False, None
            print(f"perfbench: operation failed: {e!r}", file=sys.stderr)
        mem.running.clear()
        c1 = spans.spark_counters(sc)
        if traced:
            tracer.close()
            k1 = tracer.kernel_totals()
            kernel = {k: k1[k] - k0[k] for k in k1}
        window += wall
        op = {"wall_s": wall, "traced": traced, "phases": phases,
              "commit_times": [t - t0 for t in clock.times],
              "waves": sorted(set(w for w in clock.waves if w > 0)),
              "jobs": c1[0] - c0[0], "stages": c1[1] - c0[1],
              "tasks": c1[2] - c0[2]}
        if ok:
            rows = compat.to_reference_rows(offers, inputs.seeds)
            if args.corrupt and rows:
                rows[len(rows) // 2] = dict(rows[len(rows) // 2], price=-7)
            ok = rows == truth
            op["offers"] = len(rows)
            if not ok:
                print(f"perfbench: op{len(ops)} output differs from the "
                      f"reference ({len(rows)} vs {len(truth)} rows)",
                      file=sys.stderr)
            op.update(read_counts(spark, eng.store))
            op["store_bytes"], op["store_files"] = dir_stats(
                os.path.join(run_dir, "data"))
            op["bloom_bytes"], _ = dir_stats(
                os.path.join(run_dir, "data", "bloom"))
            op["seenidx_runs"] = len(glob.glob(os.path.join(
                run_dir, "data", "seenx", "*", "bucket=*", "run-*keys")))
        op["ok"] = ok
        log(f"op{len(ops)} {'traced ' if traced else ''}{wall:.2f} s "
            f"{op.get('pages')} pages ok={ok}")
        if traced:
            op["layers"] = layer_metrics(tracer.spans[n0:], kernel, op)
        ops.append(op)
        shutil.rmtree(run_dir, ignore_errors=True)
    mem.close()

    for op in ops:
        t = op.pop("commit_times")
        op["wave_intervals_s"] = [b - a for a, b in zip(t, t[1:])]
    report["ops"] = ops
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])
    report["error_rate"] = failed / attempted
    timed = [op for op in ops if not op["traced"]]
    waves = [w for op in timed for w in op["wave_intervals_s"]]
    result = {"attempted": attempted, "failed": failed}
    if not args.trace:
        pages = sum(op.get("pages", 0) for op in timed)
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "pages_per_s": (pages / sum(op["wall_s"] for op in timed), "1/s"),
            "wave_s.mean": (statistics.mean(waves) if waves else 0.0, "s"),
            "peak_pss_mb": (mem.peak / 2**20, "MB"),
        }
        report["wave_samples"] = len(waves)
        report["peak_pss_split_mb"] = {k: v / 2**20 for k, v in mem.split.items()}
        return result, report

    # traced run: counts must repeat exactly between every operation,
    # traced or not (tracing adds no Spark job)
    stable_keys = ("waves", "jobs", "stages", "tasks", "pages", "seen_keys",
                   "cards_parsed", "offers_emitted", "offers")
    first = {k: ops[0].get(k) for k in stable_keys}
    unstable = [i for i, op in enumerate(ops)
                if {k: op.get(k) for k in stable_keys} != first]
    report["counts_repeat"] = not unstable
    if unstable:
        print(f"perfbench: counts differ between operations {unstable}",
              file=sys.stderr)
    traced_ops = [op for op in ops if op["traced"] and "layers" in op]
    if not traced_ops:
        raise RuntimeError("every traced operation failed")
    report["trace_overhead_s"] = ops[1]["wall_s"] - ops[2]["wall_s"]
    report["trace_overhead_ratio"] = report["trace_overhead_s"] / ops[2]["wall_s"]
    metrics = {k: (statistics.mean(op["layers"][k][0] for op in traced_ops),
                   unit) for k, (_, unit) in traced_ops[0]["layers"].items()}
    for k in traced_ops[0]["phases"]:
        metrics[f"phase.{k}"] = (
            statistics.mean(op["phases"][k] for op in traced_ops), "s")
    metrics["session.start_s"] = (session_start_s, "s")
    metrics["oracle.simulator_s"] = (report["oracle.simulator_s"], "s")
    result["unstable"] = bool(unstable)
    result["metrics"] = metrics
    return result, report


def layer_metrics(sub: list[dict], kernel: dict, op: dict) -> dict:
    """Per-layer metrics of one traced operation from its spans ``sub``,
    its kernel accumulator deltas and its exact counts ``op``."""

    def tot(prefix, field="dur"):
        return spans.total(sub, prefix, field)

    n_waves = max(1, len(op["waves"]))
    commits = spans.count(sub, "store.commit_wave")
    cards = op.get("cards_parsed", 0)
    return {
        "crawler.waves": (len(op["waves"]), "count"),
        "crawler.jobs_per_wave": (op["jobs"] / n_waves, "count"),
        "crawler.tasks_per_wave": (op["tasks"] / n_waves, "count"),
        "crawler.self_s": (spans.self_time(sub, "crawler."), "s"),
        "crawler.fetch_useful_ratio": (
            op.get("pages", 0) / max(1, op.get("fetch_attempts", 0)), "ratio"),
        "stage.pages": (kernel["rows_in"], "count"),
        "stage.cards": (kernel["cards"], "count"),
        "stage.partitions": (kernel["partitions"], "count"),
        "stage.busy_s": (kernel["busy_s"], "s"),
        "columnar.plan_s": (tot("columnar."), "s"),
        "bloom.add_s": (tot("bloom.add"), "s"),
        "bloom.keys_added": (int(tot("bloom.add", "n")), "count"),
        "bloom.sidecar_bytes": (op.get("bloom_bytes", 0), "bytes"),
        "seenidx.write_s": (tot("seenidx.write_str_runs"), "s"),
        "seenidx.probe_s": (tot("seenidx.probe_str_runs"), "s"),
        "seenidx.compact_s": (tot("seenidx.compact"), "s"),
        "seenidx.runs": (op.get("seenidx_runs", 0), "count"),
        "membership.seen_keys": (op.get("seen_keys", 0), "count"),
        "membership.reject_ratio": (
            1 - op.get("offers", 0) / max(1, cards), "ratio"),
        "store.commits": (commits, "count"),
        "store.commit_s": (tot("store.commit_wave"), "s"),
        "store.jobs_per_commit": (
            tot("store.commit_wave", "jobs") / max(1, commits), "count"),
        "store.bytes_written": (op.get("store_bytes", 0), "bytes"),
        "store.files": (op.get("store_files", 0), "count"),
        "store.compact_s": (tot("store.compact"), "s"),
        "store.vacuum_s": (tot("store.vacuum"), "s"),
        "spark.jobs": (op["jobs"], "count"),
        "spark.stages": (op["stages"], "count"),
        "spark.tasks": (op["tasks"], "count"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "engine", "crawler.py")):
        return fail(f"run from the repository root: no {PACKAGE}/ in {root}")
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; "
                    f"choose from {sorted(WORKLOADS)}")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = {kind: [m["name"] for m in spec]
                    for kind, spec in json.load(fh).items()
                    if kind in ("end_to_end", "per_layer")}
    nproc = len(os.sched_getaffinity(0))
    if K > nproc:
        return fail(f"local[{K}] needs {K} usable CPUs, this process has "
                    f"{nproc}; refusing to run an oversubscribed benchmark")

    # one scratch root per run: run dirs, snapshot, Spark local dir, TMPDIR
    scratch = os.path.join(root, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("runs", "spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ.update({
        "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_GRAFT_SCRATCH": os.path.join(scratch, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        # spark-submit's launcher JVM: no hsperfdata file outside scratch
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None

    try:
        result, report = run_bench(args, root, scratch)
    finally:
        killed = reap_descendants()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    if killed:
        return fail(f"processes outlived the run and were killed: {killed}")
    if os.path.exists(scratch):
        return fail(f"scratch root left behind: {scratch}")

    names = declared["per_layer" if args.trace else "end_to_end"]
    metrics = result["metrics"]
    missing = [n for n in names if n not in metrics]
    if missing:
        return fail(f"declared metrics not measured: {missing}")
    report["metrics_extra"] = {k: v for k, (v, _) in metrics.items()
                               if k not in names}
    print(json.dumps(report, default=str))
    correct = result["failed"] == 0 and not result.get("unstable", False)
    print(json.dumps({
        "correct": correct, "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]}
                    for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
