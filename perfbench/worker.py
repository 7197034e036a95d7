"""One benchmark run in one fresh driver process; ``run.py`` launches it.

The run is a closed loop with one client: one thread issues the next
op only after the previous one returns. It sets up the session, runs a
cold pass, then steady passes until ``--seconds`` have passed, and
checks every output against its oracle after the timed passes so the
check does not warm them. Each pass runs the workload's ops in a
seeded order. With ``--trace 1`` steady passes alternate between
untraced and traced, so one process measures the layers and the
tracing overhead. The result is written as JSON to ``--out``.

Usage (normally through run.py):
    python3 -m perfbench.worker --workload pipeline --seed 1 --seconds 8 \
        --trace 0 --launch <epoch> --work <dir> --out <file>
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from perfbench import workloads
from perfbench.collect import ProgressLog, Spans, SparkWindow

HERE = os.path.dirname(os.path.abspath(__file__))

#: Oracle-check data for the workloads, and the tiny scale the
#: collector self-test runs at (copies of the repo's sf0.01/sf0.001
#: testdata, whose expected-parquet oracles live under expected/).
DATA = os.path.join(HERE, "data", "sf0.01")
SELFTEST_DATA = os.path.join(HERE, "data", "sf0.001")
#: Part-files the stream workload splits events into; each drain
#: reads 4 per trigger, so it runs two data triggers.
STREAM_PARTS = 8

E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "ok_ratio": "ratio",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.registry_s": "s",
    "setup.first_action_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.slot_busy_ratio": "ratio",
    "spark.action_s": "s",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.exec_wait_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "plans.shuffles": "count",
    "plans.broadcast_joins": "count",
    "plans.arrow_evals": "count",
    "plans.python_evals": "count",
    "streaming.batches": "count",
    "streaming.add_batch_share": "ratio",
    "streaming.wal_commit_share": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.input_rows_per_s": "1/s",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.bookkeeping_s": "s",
}
#: Counts the collector self-test requires to repeat exactly.
REPEATABLE = ("jobs", "stages", "tasks", "shuffles", "build_jobs")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Runner:
    """Executes ops of one workload and keeps what they leave behind."""

    def __init__(self, spark, registry, data, work, spans) -> None:
        self.spark = spark
        self.registry = registry
        self.data = data
        self.work = work
        self.spans = spans
        self.win = SparkWindow(spark)
        self.log: ProgressLog | None = None
        self.outputs: dict[str, dict] = {}  # latest drain output per name

    # -- batch -----------------------------------------------------------
    def batch_op(self, key: str, traced: bool) -> dict:
        from parking_bigdata_spark.plans import audit
        spark = self.spark
        spark.catalog.clearCache()
        if traced:
            j0, s0 = self.win.mark()
        t0 = time.perf_counter()
        try:
            df = self.registry[key](spark, self.data)
            t1 = time.perf_counter()
            if traced:
                j1, _ = self.win.mark()
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            traceback.print_exc()
            return {"op": key, "ok": False, "wall_s": time.perf_counter() - t0}
        t2 = time.perf_counter()
        rec = {"op": key, "ok": True, "wall_s": t2 - t0, "build_s": t1 - t0}
        if traced:
            sp = self.spans.add("op", t0, t2, op=key)
            self.spans.add("queries.build", t0, t1, sp, op=key)
            self.spans.add("spark.action", t1, t2, sp, op=key)
            self.win.settle()
            j2, s2 = self.win.mark()
            rec.update(self.win.stage_totals(s0, s2), jobs=j2 - j0,
                       build_jobs=j1 - j0)
            ta = time.perf_counter()
            a = audit(df)
            tb = time.perf_counter()
            self.spans.add("plans.audit", ta, tb, sp, op=key)
            rec.update(shuffles=a.shuffles,
                       broadcast_joins=a.broadcast_hash_joins
                       + a.broadcast_nl_joins,
                       arrow_evals=a.arrow_evals,
                       python_evals=a.python_evals,
                       bookkeeping_s=time.perf_counter() - t2)
        return rec

    # -- stream ----------------------------------------------------------
    def split_events(self, seed: int) -> str:
        """Write events as time-ordered part-files cut at seeded row
        boundaries, each within a quarter part of the even split so
        every trigger reads a comparable share; returns the directory
        the drains stream from."""
        import pyarrow.parquet as pq
        src = os.path.join(self.work, "stream_input")
        os.makedirs(src)
        t = pq.read_table(os.path.join(self.data, "events.parquet"))
        t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        rng = random.Random(seed)
        step = t.num_rows / STREAM_PARTS
        bounds = [0, *(round((i + rng.uniform(-0.25, 0.25)) * step)
                       for i in range(1, STREAM_PARTS)), t.num_rows]
        for i in range(STREAM_PARTS):
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(src, f"events_part{i:03d}.parquet"))
        return src

    def drain(self, name: str, src: str, tag: str, traced: bool) -> dict:
        from parking_bigdata_spark.streaming import events as ev
        from parking_bigdata_spark.streaming import sessions as ss
        spark = self.spark
        qname = f"perfbench_{name}_{tag}"
        ckpt = os.path.join(self.work, "checkpoints", qname)
        sink = os.path.join(self.work, "sinks", qname)
        spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
        spark.catalog.clearCache()
        n_started, n_prog = len(self.log.started), len(self.log.progress)
        if traced:
            j0, s0 = self.win.mark()
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            if name == "windowed_counts":
                result = ev.run_windowed_counts_batchlike(spark, src, qname)
            elif name == "foreach_batch_sink":
                ev.run_foreach_batch_sink(spark, src, sink)
                result = None
            elif name == "sessionize":
                result = ss.run_sessionize_batchlike(spark, src, qname)
            else:
                raise ValueError(f"unknown drain {name}")
        except Exception:
            traceback.print_exc()
            return {"op": name, "ok": False,
                    "wall_s": time.perf_counter() - t0, "triggers": []}
        t1 = time.perf_counter()
        self.win.settle()  # deliver this drain's listener events
        prog = self.log.progress[n_prog:]
        started = self.log.started[n_started:]
        self.drop(name)
        self.outputs[name] = {"qname": qname, "dirs": [ckpt, sink],
                              "result": result, "sink": sink}
        rec = {"op": name, "ok": True, "wall_s": t1 - t0,
               "triggers": [p["trigger_s"] for p in prog]}
        if traced:
            j2, s2 = self.win.mark()
            build = max(0.0, started[0][1] - e0) if started else 0.0
            sp = self.spans.add("op", t0, t1, op=name)
            self.spans.add("streaming.start", t0, t0 + build, sp, op=name)
            rec.update(self.win.stage_totals(s0, s2), jobs=j2 - j0,
                       build_jobs=0, build_s=build,
                       batches=len(prog),
                       trigger_s=sum(p["trigger_s"] for p in prog),
                       add_batch_s=sum(p["add_batch_s"] for p in prog),
                       wal_commit_s=sum(p["wal_commit_s"] for p in prog),
                       rows=sum(p["rows"] for p in prog),
                       state_rows=prog[-1]["state_rows"] if prog else 0,
                       state_mem_bytes=max((p["state_mem_bytes"]
                                            for p in prog), default=0),
                       bookkeeping_s=time.perf_counter() - t1)
        return rec

    def drop(self, name: str) -> None:
        """Remove the previous output of drain ``name``: its memory-sink
        view, checkpoint and sink directory."""
        old = self.outputs.pop(name, None)
        if old is None:
            return
        self.spark.catalog.dropTempView(old["qname"])
        for d in old["dirs"]:
            shutil.rmtree(d, ignore_errors=True)


# -- correctness ---------------------------------------------------------
def check_batch(spark, registry, oracles, data, keys) -> dict[str, str]:
    """Collect each op once and compare it with its DuckDB oracle by the
    exact rule of the oracle-parity tests. Returns key -> error."""
    from tests.test_oracle_parity import _assert_frames_match, _duck
    bad = {}
    for key in sorted(keys):
        try:
            got = registry[key](spark, data).toPandas()
            _assert_frames_match(key, got, _duck(data, oracles[key]))
        except Exception as e:  # a mismatch or a crash both fail the op
            bad[key] = f"{type(e).__name__}: {e}"[:500]
    return bad


def check_stream(spark, data, outputs: dict[str, dict]) -> dict[str, str]:
    """Compare each drain's final output with its batch twin, as the
    streaming tests do. Returns drain -> error."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from parking_bigdata_spark import queries as Q
    windowed = {(r["wstart"], r["event_type"]): (r["n_events"], r["sum_value"])
                for r in Q.events_windowed(spark, data).collect()}
    sessions = {r["user_id"]: (r["n_sessions"], r["n_events"])
                for r in Q.events_sessions(spark, data).collect()}
    bad = {}
    for name, out in sorted(outputs.items()):
        try:
            if name == "windowed_counts":
                got = {(r["wstart"], r["event_type"]):
                       (r["n_events"], r["sum_value"])
                       for r in out["result"].collect()}
                want = windowed
            elif name == "foreach_batch_sink":
                back = (spark.read.option("basePath", out["sink"])
                        .parquet(out["sink"] + "/batch=*"))
                w = (Window.partitionBy("wstart", "event_type")
                     .orderBy(F.col("batch").desc()))
                latest = (back.withColumn("rk", F.row_number().over(w))
                          .where(F.col("rk") == 1))
                got = {(r["wstart"], r["event_type"]):
                       (r["n_events"], r["sum_value"])
                       for r in latest.collect()}
                want = windowed
            else:  # sessionize
                got = {r["user_id"]: (r["n_sessions"], r["n_events"])
                       for r in out["result"].collect()}
                want = sessions
            if got != want:
                diff = set(got.items()) ^ set(want.items())
                bad[name] = (f"{len(got)} rows vs {len(want)} in the batch "
                             f"twin, {len(diff)} differing, e.g. "
                             f"{sorted(diff, key=str)[:3]}")
        except Exception as e:
            bad[name] = f"{type(e).__name__}: {e}"[:500]
    return bad


# -- metrics -------------------------------------------------------------
def _pass_wall(p: list[dict]) -> float:
    return sum(r["wall_s"] for r in p)


def _op_medians(passes: list[list[dict]]) -> dict[str, float]:
    walls: dict[str, list[float]] = {}
    for p in passes:
        for r in p:
            walls.setdefault(r["op"], []).append(r["wall_s"])
    return {op: _median(v) for op, v in sorted(walls.items())}


def _latencies(passes: list[list[dict]], stream: bool) -> list[float]:
    """Each op's median latency across ``passes``, one value per op.
    For ``stream`` an op is one micro-batch, identified by its drain and
    trigger index. Percentiles over these per-op medians do not jump
    when the pass count changes which op's slowest sample sits at the
    percentile."""
    samples: dict[tuple, list[float]] = {}
    for p in passes:
        for r in p:
            if not r["ok"]:
                continue
            ops = (enumerate(r["triggers"]) if stream
                   else [(0, r["wall_s"])])
            for i, t in ops:
                samples.setdefault((r["op"], i), []).append(t)
    return [_median(v) for v in samples.values()]


def _pass_s(passes: list[list[dict]]) -> float:
    """One pass's worth of median op times: the sum over ops of each
    op's median wall across ``passes``. A slow outlier of one op in one
    pass does not move it, nor does the slower first steady pass."""
    return sum(_op_medians(passes).values())


def _layer_sums(p: list[dict], cores: int) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    def tot(field):
        return sum(r.get(field, 0) for r in p)
    wall = _pass_wall(p)
    build = tot("build_s")
    trig = tot("trigger_s")
    return {
        "queries.build_s": build,
        "queries.build_jobs": tot("build_jobs"),
        "queries.build_share": build / wall if wall else 0.0,
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.slot_busy_ratio": tot("exec_run_s") / (wall * cores)
        if wall else 0.0,
        "spark.action_s": wall - build,
        "spark.exec_run_s": tot("exec_run_s"),
        "spark.exec_cpu_s": tot("exec_cpu_s"),
        "spark.exec_wait_s": tot("exec_run_s") - tot("exec_cpu_s"),
        "spark.gc_s": tot("gc_s"),
        "spark.failed_tasks": tot("failed_tasks"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.input_bytes": tot("input_bytes"),
        "plans.shuffles": tot("shuffles"),
        "plans.broadcast_joins": tot("broadcast_joins"),
        "plans.arrow_evals": tot("arrow_evals"),
        "plans.python_evals": tot("python_evals"),
        "streaming.batches": tot("batches"),
        "streaming.add_batch_share": tot("add_batch_s") / trig
        if trig else 0.0,
        "streaming.wal_commit_share": tot("wal_commit_s") / trig
        if trig else 0.0,
        "streaming.state_rows": tot("state_rows"),
        "streaming.state_mem_bytes": tot("state_mem_bytes"),
        "streaming.input_rows_per_s": tot("rows") / trig if trig else 0.0,
        "trace.bookkeeping_s": tot("bookkeeping_s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    selftest = args.workload == "selftest"
    stream = args.workload == "stream"
    if selftest:
        keys, data = ["q1_pricing_summary"], SELFTEST_DATA
    elif stream:
        keys, data = list(workloads.STREAM), DATA
    else:
        keys, data = list(workloads.BATCH[args.workload]), DATA

    spans = Spans()
    t0 = time.perf_counter()
    from parking_bigdata_spark import queries as Q
    from parking_bigdata_spark.session import get_spark
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    registry, oracles = Q.queries(), Q.oracle_sql()
    t3 = time.perf_counter()
    spark.read.parquet(os.path.join(data, "region.parquet")).count()
    t4 = time.perf_counter()
    setup_s = time.time() - args.launch
    sp = spans.add("setup", t4 - setup_s, t4)
    spans.add("imports", t0, t1, sp)
    spans.add("session.get_spark", t1, t2, sp)
    spans.add("queries.registry", t2, t3, sp)
    spans.add("setup.first_action", t3, t4, sp)
    setup = {"setup_s": setup_s, "imports_s": t1 - t0,
             "session.get_spark_s": t2 - t1, "queries.registry_s": t3 - t2,
             "setup.first_action_s": t4 - t3}
    missing = [k for k in keys if not stream and k not in oracles]
    if missing:
        print(f"perfbench: no oracle for {missing}", file=sys.stderr)
        return 2

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    runner = Runner(spark, registry, data, args.work, spans)
    rng = random.Random(args.seed)
    src = None
    if stream:
        src = runner.split_events(args.seed)
        runner.log = ProgressLog()
        spark.streams.addListener(runner.log)

    n_pass = 0

    def run_pass(traced: bool) -> list[dict]:
        nonlocal n_pass
        order = rng.sample(keys, len(keys))
        if stream:
            recs = [runner.drain(k, src, f"p{n_pass}", traced) for k in order]
        else:
            recs = [runner.batch_op(k, traced) for k in order]
        n_pass += 1
        return recs

    cold = run_pass(traced=False)
    steady: list[list[dict]] = []
    traced: list[list[dict]] = []
    need_traced = 2 if selftest else (1 if args.trace else 0)
    t_measure = time.perf_counter()
    while (time.perf_counter() - t_measure < args.seconds or not steady
           or len(traced) < need_traced):
        # traced passes alternate with untraced ones
        if need_traced and len(traced) < len(steady):
            traced.append(run_pass(traced=True))
        else:
            steady.append(run_pass(traced=False))
    measured_s = time.perf_counter() - t_measure

    # untimed correctness check, after every timed pass
    t_check = time.perf_counter()
    if stream:
        bad = check_stream(spark, data, runner.outputs)
        for name in list(runner.outputs):
            runner.drop(name)
    else:
        bad = check_batch(spark, registry, oracles, data, keys)

    check_s = time.perf_counter() - t_check
    every = [cold, *steady, *traced]
    if stream:  # an op is a trigger; a drain that raised counts as one
        attempted = sum(max(1, len(r["triggers"])) for p in every for r in p)
        failed = sum(max(1, len(r["triggers"])) for p in every for r in p
                     if not r["ok"] or r["op"] in bad)
    else:
        attempted = sum(len(p) for p in every)
        failed = sum(1 for p in every for r in p
                     if not r["ok"] or r["op"] in bad)

    lat = _latencies(steady, stream)
    e2e = {
        "setup_s": setup["setup_s"],
        "cold_pass_s": _pass_wall(cold),
        "pass_s": _pass_s(steady),
        "op_p50_s": _percentile(lat, 0.5),
        "op_p90_s": _percentile(lat, 0.9),
        "ok_ratio": 1.0 - failed / attempted,
    }
    layers = {}
    if traced:
        sums = [_layer_sums(p, cores) for p in traced]
        layers = {k: _median([s[k] for s in sums]) for k in sums[0]}
        layers["trace.pass_s"] = _pass_s(traced)
        layers.update({k: setup[k] for k in ("session.get_spark_s",
                                             "queries.registry_s",
                                             "setup.first_action_s")})
        layers["trace.untraced_pass_s"] = e2e["pass_s"]
        layers["trace.overhead_ratio"] = (layers["trace.pass_s"]
                                          / e2e["pass_s"])
    import numpy
    import pyarrow
    result = {
        "workload": args.workload,
        "attempted": attempted,
        "failed": failed,
        "mismatch": bad,
        "e2e": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "layers": {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layers.items()},
        "passes": {"steady": len(steady), "traced": len(traced),
                   "measured_s": measured_s, "ops": len(lat),
                   "check_s": check_s,
                   "walls_s": [_pass_wall(p) for p in every]},
        "op_median_s": _op_medians(steady),
        "setup": setup,
        "versions": {"spark": spark.version,
                     "python": sys.version.split()[0],
                     "numpy": numpy.__version__,
                     "pyarrow": pyarrow.__version__},
        "spans": spans.records,
    }
    if selftest:
        rows = [{f: r.get(f) for f in REPEATABLE} for p in traced for r in p]
        result["selftest"] = {"counts": rows,
                              "repeat_ok": all(r == rows[0] for r in rows)}
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
