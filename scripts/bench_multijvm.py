"""N→4N crawl scaling pair with executors in SEPARATE JVM PROCESSES.

Answers the "is the wave engine's scaling an artifact of single-JVM
shared memory?" question (VERDICT r03 ask 6): the same full-overlap
concurrent disjoint-core methodology as bench.py's canonical pair, but
each side runs ``local-cluster[cpus,1,2048]`` — one executor JVM per
core, each with its own heap, Python worker pool and RPC link, like a
real cluster node.  The 2-core side gets cpus 0-1, the 8-core side
cpus 8-15 (taskset; worker JVMs inherit the affinity), file-barrier
start, 8-side loops until the 2-side finishes.

Run once per round: ``python scripts/bench_multijvm.py`` → one JSON
line; record into BENCH/BASELINE.md.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cianparser_spark.bench_crawl import build_snapshot  # noqa: E402

SEEDS = int(os.environ.get("SPARK_GRAFT_BENCH_SEEDS", "4608"))


def launch(cpus: int, cpu_list: str, bdir: str, snap: str,
           extra: list | None = None):
    cmd = [sys.executable, "-m", "cianparser_spark.bench_crawl",
           "--cpus", str(cpus), "--seeds", str(SEEDS),
           "--barrier-dir", bdir, "--barrier-count", "2",
           "--snapshot", snap, "--multi-jvm"] + (extra or [])
    pin = shutil.which("taskset")
    if pin:
        cmd = [pin, "-c", cpu_list] + cmd
    return subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True,
                            cwd=REPO)


def main() -> None:
    snap_root = ("/dev/shm" if os.path.isdir("/dev/shm")
                 and os.access("/dev/shm", os.W_OK) else None)
    snap_dir = tempfile.mkdtemp(prefix="mj_snap_", dir=snap_root)
    snap = os.path.join(snap_dir, "web.snap")
    build_snapshot(SEEDS, 54, snap)
    reps = int(os.environ.get("SPARK_GRAFT_MJ_REPS", "3"))
    pairs = []
    try:
        for _ in range(reps):
            os.sync()
            time.sleep(2)
            bdir = tempfile.mkdtemp(prefix="mj_barrier_")
            stop = os.path.join(bdir, "stop")
            try:
                p2 = launch(2, "0,1", bdir, snap)
                p8 = launch(8, "8-15", bdir, snap,
                            ["--reps", "99", "--stop-file", stop])
                out2, _ = p2.communicate(timeout=3600)
                open(stop, "w").close()
                out8, _ = p8.communicate(timeout=3600)
                r2 = json.loads(out2.strip().splitlines()[-1])
                r8 = json.loads(out8.strip().splitlines()[-1])
                pairs.append({
                    "pages_per_sec_2": r2["pages_per_sec"],
                    "pages_per_sec_8": r8["pages_per_sec"],
                    "reps_8": r8.get("rep_pages_per_sec"),
                    "efficiency": round(
                        r8["pages_per_sec"] / (4 * r2["pages_per_sec"]), 3),
                })
                print(json.dumps(pairs[-1]), file=sys.stderr)
            finally:
                shutil.rmtree(bdir, ignore_errors=True)
        # secondary: the north rule's own example levels (8→32) in
        # multi-JVM topology.  32 executor JVMs need every core, so
        # this leg is SEQUENTIAL (8-side pinned to cpus 0-7 alone,
        # then 32-side unpinned) with the platform's sequential memcpy
        # ceiling measured in the same window — on this VM per-core
        # DRAM delivery drops as cores activate, so the honest readout
        # is engine-efficiency relative to what memory physically
        # delivers at 32 cores (bench_control.seq_mem_control).
        leg_8_32 = None
        if os.environ.get("SPARK_GRAFT_MJ_8TO32", "1") == "1":
            from cianparser_spark.bench_control import seq_mem_control

            def run_level(cpus: int, cpu_list: str | None):
                cmd = [sys.executable, "-m", "cianparser_spark.bench_crawl",
                       "--cpus", str(cpus), "--seeds", str(SEEDS),
                       "--snapshot", snap, "--multi-jvm"]
                pin = shutil.which("taskset")
                if pin and cpu_list:
                    cmd = [pin, "-c", cpu_list] + cmd
                r = subprocess.run(cmd, capture_output=True, text=True,
                                   timeout=3600, cwd=REPO)
                if r.returncode != 0:
                    raise RuntimeError(
                        f"bench_crawl --cpus {cpus} exited {r.returncode}:\n"
                        f"{r.stderr}")
                return json.loads(r.stdout.strip().splitlines()[-1])

            snap_dir2 = tempfile.mkdtemp(prefix="mj_snap2_", dir=snap_root)
            snap = os.path.join(snap_dir2, "web.snap")
            build_snapshot(SEEDS, 54, snap)
            try:
                r8 = run_level(8, "0-7")
                r32 = run_level(32, None)
                mem = seq_mem_control(8, 32)
                leg_8_32 = {
                    "pages_per_sec_8": r8["pages_per_sec"],
                    "pages_per_sec_32": r32["pages_per_sec"],
                    "efficiency_8_to_32": round(
                        r32["pages_per_sec"] / (4 * r8["pages_per_sec"]), 3),
                    "mem_ceiling_8_to_32": mem.get(
                        "mem_scaling_efficiency"),
                }
                print(json.dumps(leg_8_32), file=sys.stderr)
            finally:
                shutil.rmtree(snap_dir2, ignore_errors=True)
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)
    effs = sorted(p["efficiency"] for p in pairs)
    med = (effs[len(effs) // 2] if len(effs) % 2
           else round((effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3))
    print(json.dumps({
        "method": ("concurrent disjoint-core full-overlap pairs, each side "
                   "local-cluster[cpus,1,2048] (one executor JVM per core, "
                   "separate processes, own python workers)"),
        "workload": f"{SEEDS} seeds x 54 list pages",
        "pairs": pairs,
        "efficiency_median": med,
        "leg_8_to_32": leg_8_32,
    }))


if __name__ == "__main__":
    main()
