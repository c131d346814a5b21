"""Checks of the benchmark itself, at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The manifest test runs without Spark.  The others launch Spark (one
in-process session, plus one fresh process per short run) and take a few
minutes on four cores.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SF = 0.001


def manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def short_run(work, workload, trace, seed=7):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--sf", str(SF), "--work", str(work)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_manifest_is_within_the_contract():
    b = manifest()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert b["command"][0] == "python3"
    assert all(a.startswith("perfbench/") for a in b["command"][1:])
    assert 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert len(b["end_to_end"]) <= 16 and len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_seed_is_a_required_argument():
    with pytest.raises(SystemExit) as exc:
        bench.main(["--workload", "lake", "--seconds", "1", "--trace", "0"])
    assert exc.value.code != 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_short_run_emits_every_manifest_metric(tmp_path, workload):
    b = manifest()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = short_run(tmp_path, workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0
        assert res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in b[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want
        if key == "end_to_end":
            assert all(v["value"] > 0 for v in res["metrics"].values())


def test_a_planted_wrong_row_counts_as_a_failure(tmp_path):
    workload = WORKLOADS["lake"]()
    _, _, declared = bench.prepare(str(tmp_path), SF, workload)
    path = os.path.join(declared.cache_dir, "exact_dedup_groups.json")
    with open(path) as fh:
        expected = json.load(fh)
    expected["rows"][0][-1] += 1           # one copy count off by one
    with open(path, "w") as fh:
        json.dump(expected, fh)
    res = short_run(tmp_path, "lake", 0)
    assert res["correct"] is False
    assert 0 < res["failed"] < res["attempted"]


# -- the timed action runs each operation's own plan ------------------------------

@pytest.fixture(scope="module")
def sessions(tmp_path_factory):
    saved_env = dict(os.environ)
    work = str(tmp_path_factory.mktemp("work"))
    run_dir = os.path.join(work, "run")
    for sub in ("local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    out = {}
    spark = None
    for name in sorted(WORKLOADS):
        wl = WORKLOADS[name]()
        data_dir, canon, declared = bench.prepare(work, SF, wl)
        spark, ctx, _ = bench.setup(
            SF, wl, (data_dir, run_dir, os.environ["SPARK_GRAFT_WAREHOUSE"],
                     canon, declared))
        out[name] = (wl, ctx)
    yield out
    for wl, _ in out.values():
        wl.close()
    spark.stop()
    os.environ.clear()
    os.environ.update(saved_env)


def _is_final(qe):
    plan = qe.executedPlan()
    return plan.nodeName() != "AdaptiveSparkPlan" or plan.isFinalPlan()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_timed_action_executes_the_dataframes_own_plan(sessions, workload):
    from perfbench.probe import timed_action

    wl, ctx = sessions[workload]
    reads = [op for op in wl.cold(np.random.default_rng(3), ctx)
             if not op.write]
    assert reads
    for op in reads:
        df = op.run(ctx)
        qe = df._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        rows = timed_action(df)
        # the action ran this QueryExecution: its adaptive plan is final
        # and its optimized plan is the one the DataFrame carries
        assert _is_final(qe), op.kind
        assert qe.optimizedPlan().toString() == optimized
        assert ctx.canon.spark(df.columns, rows) == op.expected(ctx), op.kind


def test_count_would_prune_what_the_timed_action_runs(sessions):
    wl, ctx = sessions["lake"]
    df = ctx.queries["doc_token_stats"].fn(ctx.spark, ctx.data_dir)
    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan()
    assert counted.toString() != df._jdf.queryExecution().optimizedPlan().toString()
    df.count()
    assert not _is_final(df._jdf.queryExecution())
