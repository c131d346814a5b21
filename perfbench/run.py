"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {spatial,lake} --seed N \
        --seconds S --trace {0,1} [--sf 0.1] [--work DIR]

One run is one fresh process: a Spark session on ``local[<nproc>]``, the
workload's set-up, a cold pass over its distinct operation kinds, then
as many whole seeded cycles of operations as fill ``--seconds`` at the
workload's reference pace.  One client issues operations in a closed
loop.  Every output is compared with its expected DuckDB result.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from spans and counters around
every call into a layer) with ``--trace 1``.  The line before it holds the
run's details: host steal/iowait/load, sample counts and failures.

Everything the run writes stays under ``--work`` (default ``.perfbench``
in the checkout): the generated input tables and cached expected results,
which later runs reuse, and a per-run directory with the warehouse,
Spark's scratch space and temporary files, deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __package__ in (None, ""):          # run as a script, not imported
    sys.path.insert(0, ROOT)

from perfbench import data, probe  # noqa: E402
from perfbench.oracles import Canon, DeclaredOracles, mismatch  # noqa: E402
from perfbench.workloads import (PIPELINE_QUERIES, SPATIAL_QUERIES,  # noqa: E402
                                 WORKLOADS, Lake)

DATA_SEED = 42
SETUP_REPEATS = 3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class Ctx:
    """What operations need: the session, the SQL door, the inputs and the
    expected-result sources."""

    def __init__(self, spark, sf, data_dir, run_dir, warehouse, canon,
                 declared):
        from sedona_iceberg_extension_spark import session
        from sedona_iceberg_extension_spark.plans.queries import QUERIES
        from sedona_iceberg_extension_spark.sources.tables import load_table

        self.spark = spark
        self.sf = sf
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.warehouse = warehouse
        self.canon = canon
        self.declared = declared
        self.queries = QUERIES
        self._session_sql = session.sql
        self._load_table = load_table

    def sql(self, statement):
        return self._session_sql(self.spark, statement)

    def load_view(self, name):
        self._load_table(self.spark, self.data_dir, name) \
            .createOrReplaceTempView(name)


def prepare(work, sf, workload):
    """Generate the input tables and the workload's declared expected
    results if this work directory does not hold them yet."""
    from sedona_iceberg_extension_spark.plans.queries import QUERIES

    tag = f"sf{sf}-d{DATA_SEED}"
    data_dir = os.path.join(work, "data", tag)
    if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
        tmp = f"{data_dir}.{os.getpid()}.tmp"
        data.write_tables(tmp, sf, DATA_SEED)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp, data_dir)
    canon = Canon(ROOT)
    declared = DeclaredOracles(canon, data_dir,
                               os.path.join(work, "expected", tag),
                               workload.tables)
    for name in workload.declared:
        declared.get(name, QUERIES[name].oracle)
    return data_dir, canon, declared


def isolate(run_dir):
    """Point every scratch location of Python, the JVM and Spark into the
    run directory, before the JVM starts.  The engine's knobs come from
    here alone, whatever the caller's environment holds (a
    SPARK_GRAFT_LOCAL_DIR would move scratch space out of the run)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a 2g heap (the engine defaults to 8g, with Xms=Xmx) keeps peak memory
    # small on a shared host and, once filled, the same from run to run
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.chdir(run_dir)


class Runner:
    """Executes operations in a closed loop, checks them, and in a traced
    run records spans and counters around each call into a layer."""

    def __init__(self, ctx, workload, traced):
        self.ctx = ctx
        self.wl = workload
        self.traced = traced
        self.records = []
        self.failures = []
        self.n = 0
        if traced:
            self.tracer = probe.Tracer()
            self.jobs = probe.JobCounter(ctx.spark)
            probe.wrap_sql_join(self.tracer)

    def execute(self, op):
        self.n += 1
        op_id = f"op{self.n}"
        rec = {"kind": op.kind, "write": op.write, "template": op.template,
               "user_bytes": op.user_bytes, "ok": False}
        tr = self.tracer if self.traced else None
        df = None
        t0 = time.perf_counter()
        try:
            if tr:
                tr.begin("client", op_id)
                self.jobs.start(op_id + "c")
                tr.begin("snapshots" if op.write else "plans")
            res = op.run(self.ctx)
            t1 = time.perf_counter()
            if tr:
                tr.end()
            if not op.write:
                df = res
                if tr:
                    self.jobs.start(op_id + "x")
                    tr.begin("exec")
                rows = probe.timed_action(df)
                if tr:
                    tr.end()
            t2 = time.perf_counter()
            if tr:
                tr.end()
            rec.update(wall=t2 - t0, construct=t1 - t0)
            if op.write:
                op.after(self.ctx)
                rec["ok"] = True
            else:
                why = mismatch(op.expected(self.ctx),
                               self.ctx.canon.spark(df.columns, rows))
                rec["ok"] = why is None
                if why:
                    self.failures.append(f"{op.kind}: {why}"[:300])
        except Exception as e:  # a failed operation is counted, not fatal
            rec.setdefault("wall", time.perf_counter() - t0)
            self.failures.append(f"{op.kind}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
            if tr:
                while tr.is_open():
                    tr.end()
        if tr:
            b0 = time.perf_counter()
            self.trace_op(op, op_id, df, rec)
            rec["bookkeeping"] = time.perf_counter() - b0
        self.records.append(rec)
        return rec

    def trace_op(self, op, op_id, df, rec):
        tr = self.tracer
        self.jobs.drain()
        rec["construct_jobs"] = self.jobs.counts(op_id + "c")["jobs"]
        rec["counts"] = self.jobs.counts(op_id + "x")
        for k, v in self.jobs.counts(op_id + "c").items():
            rec["counts"][k] += v
        if df is not None and rec["ok"]:
            for phase, (s, e) in probe.catalyst_phases(df).items():
                tr.place(f"catalyst.{phase}", s, e)
                rec[f"catalyst.{phase}"] = e - s
            rec["plan"] = probe.plan_metrics(df)
        spans = tr.op_spans(op_id)
        rec["self"] = tr.self_times(op_id)
        # outermost spatial_sql calls only; nested ones are inside them
        rec["sql_join"] = sum(s[3] - s[2] for s in spans if s[1] == "sql_join"
                              and tr.spans[s[4]][1] != "sql_join")
        if op.write and isinstance(self.wl, Lake):
            rec["snap"] = self.wl.snapshot_delta(self.ctx)

    def run_ops(self, ops):
        return [self.execute(op) for op in ops]


def cycles(workload, seconds):
    """Whole cycles that fill ``seconds`` at the workload's reference pace
    (``cycle_s``, measured at sf0.1 on four cores).  The count depends
    only on the arguments, so two compared commits do identical work and
    a run never flips between cycle counts on timing noise."""
    return max(1, round(seconds / workload.cycle_s))


def setup(sf, workload, ctx_args):
    """Session launch, table loads and the workload's set-up statements.
    The JVM launch happens once per process; the statements after it are
    repeated and their median taken."""
    from sedona_iceberg_extension_spark.session import get_session, register_all

    t0 = time.perf_counter()
    spark = get_session()
    get_session_s = time.perf_counter() - t0
    ctx = Ctx(spark, sf, *ctx_args)
    t0 = time.perf_counter()
    workload.setup(ctx)
    load_s = time.perf_counter() - t0
    reps, register = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        register_all(spark)
        register.append(time.perf_counter() - t0)
        if isinstance(workload, Lake):
            tables = workload.create_tables(ctx, f"_s{i}")
        reps.append(time.perf_counter() - t0)
    if isinstance(workload, Lake):
        workload.use_tables(ctx, *tables)
    timing = {"get_session_s": get_session_s, "load_s": load_s,
              "register_all_s": _median(register),
              "setup_s": get_session_s + load_s + _median(reps)}
    return spark, ctx, timing


def kind_medians(records):
    """Median latency of each operation kind."""
    kinds = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r["wall"])
    return {k: _median(v) for k, v in sorted(kinds.items())}


def end_to_end(timing, cold, steady, rss_mb):
    """The user-facing metrics.  Read latency is the geometric mean over
    read kinds of each kind's median (TPC-H's power-test rule): a plain
    median over a mix of kinds is one kind's latency, whose run-to-run
    noise it then inherits whole."""
    reads = kind_medians([r for r in steady if not r["write"]])
    busy = sum(r["wall"] for r in steady)
    return {
        "setup_s": (timing["setup_s"], "s"),
        "cold_pass_s": (sum(r["wall"] for r in cold), "s"),
        "query_geomean_ms": (1000 * statistics.geometric_mean(reads.values()),
                             "ms"),
        "ops_per_min": (60.0 * len(steady) / busy if busy else 0.0, "1/min"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(runner, timing, steady, host):
    ok = [r for r in steady if r["ok"]]
    reads = [r for r in ok if not r["write"]]
    writes = [r for r in ok if r["write"]]
    spatial = [r for r in reads if r["kind"] in SPATIAL_QUERIES or r["template"]]
    pipeline = [r for r in reads if r["kind"] in PIPELINE_QUERIES]

    def plan(key, rs):
        return [r["plan"].get(key, 0) for r in rs if "plan" in r]

    def ratio(num, den):
        return num / den if den else 0.0

    m = {
        "session.get_session_s": (timing["get_session_s"], "s"),
        "session.register_all_s": (timing["register_all_s"], "s"),
        "plans.construct_ms": (1000 * _median([r["construct"] for r in reads]), "ms"),
        "plans.construct_jobs": (_mean([r["construct_jobs"] for r in reads]), "count"),
        "sql_join.plan_ms": (1000 * _median([r["sql_join"] for r in reads
                                             if r["template"]]), "ms"),
    }
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (1000 * _median(
            [r.get(f"catalyst.{ph}", 0.0) for r in reads]), "ms")
    m["exec.ms"] = (1000 * _median([r["self"].get("exec", 0.0) for r in reads]), "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = (_mean([r["counts"][k] for r in ok]), "count")
    m["exec.shuffle_write_bytes"] = (_mean(plan("shuffle_write_bytes", reads)), "B")
    m["functions.python_rows"] = (_mean(plan("python_rows", reads)), "rows")

    joins = [r for r in spatial if "join" in r["kind"] or "knn" in r["kind"]
             or r["template"]]
    m["spatial_join.sizing_jobs"] = (
        _mean([r["construct_jobs"] for r in joins]), "count")
    m["spatial_join.cache_hit_share"] = (
        ratio(sum(r["construct_jobs"] == 0 for r in joins), len(joins)), "ratio")
    m["spatial_join.template_share"] = (
        ratio(sum(r["template"] for r in steady), len(steady)), "ratio")
    for prefix, rs in (("spatial_join", spatial), ("pipeline", pipeline)):
        rows_in = _mean(plan("refine_input_rows", rs))
        rows_out = _mean(plan("refine_output_rows", rs))
        m[f"{prefix}.refine_input_rows"] = (rows_in, "rows")
        m[f"{prefix}.refine_output_rows"] = (rows_out, "rows")
        m[f"{prefix}.refine_ratio"] = (ratio(rows_out, rows_in), "ratio")
    for k, unit in (("files_read", "count"), ("bytes_read", "B"),
                    ("rows_scanned", "count")):
        m[f"sources.{k}"] = (_mean(plan(k, reads)), unit)

    m.update(runner.wl.snapshot_metrics(writes, reads)
             if isinstance(runner.wl, Lake)
             else {k: (0.0, u) for k, u in Lake.SNAPSHOT_METRICS})

    layers = ("client", "plans", "sql_join", "catalyst.analysis",
              "catalyst.optimization", "catalyst.planning", "exec", "snapshots")
    for layer in layers:
        m[f"self_ms.{layer}"] = (1000 * _mean([r["self"].get(layer, 0.0)
                                               for r in ok]), "ms")
    wall = sum(r["wall"] for r in ok)
    m["trace.layer_sum_ratio"] = (
        ratio(sum(sum(r["self"].values()) for r in ok), wall), "ratio")
    m["trace.bookkeeping_ms"] = (1000 * _mean([r["bookkeeping"] for r in steady]), "ms")
    m["trace.ops_per_min"] = (ratio(60.0 * len(steady),
                                    sum(r["wall"] for r in steady)), "1/min")
    for k, v in host.items():
        m[f"host.{k}"] = (v, "%" if k.endswith("pct") else "load")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench"))
    args = ap.parse_args(argv)

    engine = os.path.join(ROOT, "sedona_iceberg_extension_spark")
    oracle_tool = os.path.join(ROOT, "tools", "diff_oracle.py")
    if not (os.path.isdir(engine) and os.path.isfile(oracle_tool)):
        print(f"engine sources not found next to the benchmark ({engine}, "
              f"{oracle_tool})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r} (have {sorted(WORKLOADS)})",
              file=sys.stderr)
        return 2
    work = os.path.abspath(args.work)
    workload = WORKLOADS[args.workload]()
    data_dir, canon, declared = prepare(work, args.sf, workload)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    host = probe.HostSample()
    spark = None
    try:
        isolate(run_dir)
        rng = np.random.default_rng(args.seed)
        spark, ctx, timing = setup(
            args.sf, workload,
            (data_dir, run_dir, os.path.join(run_dir, "warehouse"), canon,
             declared))
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        runner = Runner(ctx, workload, bool(args.trace))
        cold = runner.run_ops(workload.cold(rng, ctx))
        steady = []
        for _ in range(cycles(workload, args.seconds)):
            steady += runner.run_ops(workload.cycle(rng, ctx))
        workload.close()
        records = runner.records
        host_stats = host.result()
        if args.trace:
            metrics = per_layer(runner, timing, steady, host_stats)
            sum_ratio = metrics["trace.layer_sum_ratio"][0]
            trace_ok = abs(sum_ratio - 1.0) <= 0.10
            if not trace_ok:
                runner.failures.append(
                    f"layer self times sum to {sum_ratio:.3f} of wall time")
        else:
            metrics = end_to_end(timing, cold, steady,
                                 probe.peak_rss_mb(jvm_pid))
            trace_ok = True
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            # close the py4j connections first, so nothing calls into the
            # JVM after it is gone; the JVM exits when its stdin closes
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not r["ok"] for r in records)
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "trace": args.trace, "host": host_stats,
        "samples": {"cold_ops": len(cold), "steady_ops": len(steady),
                    "steady_reads": sum(not r["write"] for r in steady)},
        "kind_ms": {k: round(1000 * v, 1)
                    for k, v in kind_medians(steady).items()},
        "failures": runner.failures[:20],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and trace_ok,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
