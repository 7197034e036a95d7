#!/usr/bin/env python3
"""Layered benchmark of parking_bigdata_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. One run executes one workload
(``perfbench/workloads.py``) in one fresh driver process on
``local[nproc]``, with a driver heap sized to ``MemAvailable``, and
prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
of a traced run (``--trace 1``) as the last line of stdout:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

The line before it is a JSON record of the host, versions, methodology
and per-op medians. This process only launches the driver process,
samples the proportional set size (PSS) of its process tree, and stops
every process it started. Everything the run writes goes under
``.perfbench_work/`` in the checkout; spans of a traced run are kept in
``.perfbench_work/traces/``.

``--selftest`` runs the traced collector twice on q1_pricing_summary at
sf0.001, requires the job/stage/task/shuffle/builder-job counts to
repeat exactly and every metric BENCHMARK.json names to be printed with
its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: The driver process is killed after this long; the benchmark promises
#: to end within 180 s.
CHILD_TIMEOUT_S = 165
MEM_SAMPLE_S = 1.0
#: Driver heap: a quarter of MemAvailable, at most 1 GiB. The sf0.01
#: inputs are a few MB. With a 2 GiB heap, G1's heap growth moved the
#: JVM's memory by about 600 MB from run to run.
HEAP_MAX_MB = 1024
METHODOLOGY = ("perfbench-1: closed loop, 1 client; local[nproc]; sf0.01; "
               "seeded op order; clearCache before each op; noop sink; "
               "cold pass then steady passes for --seconds; medians; "
               "oracle check after timing")


def _mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, start time in clock ticks) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we listed it
        # fields[0] is stat field 3 (state): ppid is field 4, starttime 22
        table[int(name)] = (int(fields[1]), int(fields[19]))
    return table


def _pss(pid: int) -> int:
    """Proportional set size in bytes. It splits pages shared between
    processes (the forked Python workers) among them, so a sum over a
    process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended while we read it
    return 0


def _tree_pss(tree: set[int], table: dict) -> dict[str, int]:
    """PSS per process of ``tree``, keyed ``binary[pid]``. The JVM spawns helper processes
    vfork-style: until they exec, they share the JVM's address space
    and report its whole memory. So of the processes running the JVM's
    binary only the oldest, the JVM itself, is counted."""
    exe = {}
    for p in tree:
        try:
            exe[p] = os.readlink(f"/proc/{p}/exe")
        except OSError:
            exe[p] = None  # ended, or not ours to inspect
    counted = {}
    for p in sorted(tree, key=lambda p: table[p][1]):
        if exe[p] and exe[p].endswith("/java") and any(
                exe[q] == exe[p] for q in counted):
            continue
        counted[p] = _pss(p)
    return {f"{os.path.basename(exe[p] or '?')}[{p}]": b
            for p, b in counted.items()}


def _tree(root: int, table: dict) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


def _alive(procs: dict[int, int]) -> dict[int, int]:
    """The subset of pid -> start time whose process still exists."""
    table = _proc_table()
    return {p: st for p, st in procs.items()
            if p in table and table[p][1] == st}


def _stop_all(procs: dict[int, int]) -> None:
    """Wait briefly for every process seen in the tree to end, then kill
    the survivors and wait until they are gone."""
    deadline = time.monotonic() + 10
    while _alive(procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _alive(procs)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while _alive(procs) and time.monotonic() < deadline:
            time.sleep(0.1)
    if _alive(procs):
        raise RuntimeError(f"processes did not stop: {sorted(_alive(procs))}")


def launch(workload: str, seed: int, seconds: float, trace: int,
           work: str) -> tuple[dict | None, float, dict]:
    """Run the worker in a fresh process; returns (result or None, peak
    resident memory (PSS) of its process tree in MB, environment stamp)."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(512, min(HEAP_MAX_MB, _mem_available_mb() // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # pandas-UDF workers import the package from PYTHONPATH
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--out", out]
    seen: dict[int, int] = {}
    peak, peak_parts = 0, {}
    with open(log_path, "w") as log:
        t_launch = time.time()
        child = subprocess.Popen(cmd + ["--launch", repr(t_launch)],
                                 cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                 stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            while child.poll() is None:
                table = _proc_table()
                tree = _tree(child.pid, table)
                seen.update({p: table[p][1] for p in tree})
                parts = _tree_pss(tree, table)
                if sum(parts.values()) > peak:
                    peak, peak_parts = sum(parts.values()), parts
                if time.time() - t_launch > CHILD_TIMEOUT_S:
                    print(f"perfbench: worker exceeded {CHILD_TIMEOUT_S} s",
                          file=sys.stderr)
                    break
                time.sleep(MEM_SAMPLE_S)
        finally:
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            _stop_all(seen)
    stamp = {"cores": cores, "driver_heap_mb": heap_mb,
             "mem_available_mb": _mem_available_mb(),
             "peak_mb_by_process": {p: round(b / 2**20) for p, b in
                                    sorted(peak_parts.items())}}
    if child.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: worker failed (exit {child.returncode}):\n{tail}",
              file=sys.stderr)
        return None, 0.0, stamp
    with open(out) as f:
        return json.load(f), peak / 2**20, stamp


def selftest(result: dict, rss_mb: float) -> list[str]:
    """Problems found by the collector self-test (empty when it passes)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    printed = {**result["e2e"], **result["layers"],
               "peak_rss_mb": {"value": rss_mb, "unit": "MB"}}
    problems = []
    if not result["selftest"]["repeat_ok"]:
        problems.append(f"counts differ between the traced runs: "
                        f"{result['selftest']['counts']}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        got = printed.get(m["name"])
        if got is None:
            problems.append(f"metric {m['name']} not printed")
        elif got["unit"] != m["unit"]:
            problems.append(f"metric {m['name']}: unit {got['unit']} "
                            f"!= {m['unit']}")
    if result["failed"]:
        problems.append(f"q1_pricing_summary failed: {result['mismatch']}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    if not args.selftest:
        from perfbench.workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "parking_bigdata_spark",
                                       "__init__.py")):
        print(f"perfbench: {ROOT} holds no parking_bigdata_spark package; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    # a terminated benchmark still stops the driver process tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # stamp, never refuse: a foreign driver shares the cores and inflates
    # every wall time, which the record must show
    from bench import _foreign_spark_drivers
    contended = _foreign_spark_drivers()
    if contended:
        print("perfbench: WARNING other Spark drivers alive: "
              + "; ".join(contended), file=sys.stderr)

    workload = "selftest" if args.selftest else args.workload
    seconds = 0 if args.selftest else args.seconds
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, rss_mb, stamp = launch(workload, args.seed, seconds,
                                       args.trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    if args.trace or args.selftest:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{workload}-seed{args.seed}.json"),
                  "w") as f:
            json.dump(result["spans"], f)

    record = {"workload": workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "methodology": METHODOLOGY, "contended": contended,
              **stamp, "versions": result["versions"],
              "setup": result["setup"], "passes": result["passes"],
              "mismatch": result["mismatch"],
              "op_median_s": result["op_median_s"]}
    if args.selftest:
        problems = selftest(result, rss_mb)
        record["selftest"] = result["selftest"]
        print(json.dumps({"record": record}))
        for p in problems:
            print(f"perfbench selftest: {p}", file=sys.stderr)
        print(json.dumps({"selftest": "fail" if problems else "ok",
                          "problems": problems}))
        return 1 if problems else 0

    if args.trace:
        metrics = result["layers"]
    else:
        metrics = {**result["e2e"],
                   "peak_rss_mb": {"value": rss_mb, "unit": "MB"}}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
