"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q -m "not slow"   # fast checks, no JVM
    python3 -m pytest perfbench/tests -q -m slow         # traced runs on Spark
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.check import Tally, diff  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_same_ops_other_seed_different():
    assert gen.op_list("write_mix", 7, 200) == gen.op_list("write_mix", 7, 200)
    assert gen.op_list("write_mix", 7, 200) != gen.op_list("write_mix", 8, 200)
    # doc_pipeline cycles a fixed operator order; the seed lives in the corpus
    assert gen.op_list("doc_pipeline", 7, 20) == gen.op_list("doc_pipeline", 8, 20)


def test_same_seed_same_tables_other_seed_different(tmp_path):
    digests = {}
    for label, seed in (("a", 5), ("b", 5), ("c", 6)):
        out = tmp_path / label
        gen.write_sql_tables(str(out), seed)
        gen.write_doc_tables(str(out), seed)
        digests[label] = {f: _digest(str(out / f)) for f in sorted(os.listdir(out))}
    assert digests["a"] == digests["b"]
    for f in digests["a"]:
        assert digests["a"][f] != digests["c"][f], f


def test_write_mix_ops_follow_the_cycle_and_touch_live_keys():
    ops = gen.write_mix_ops(3, 3 * len(gen.WM_CYCLE))
    kinds = [op.kind if op.kind in gen.WRITE_KINDS else "read" for op in ops]
    assert kinds == gen.WM_CYCLE * 3
    live = set(range(int(15_000)))
    for op in ops:
        w = op.write
        if op.kind == "insert":
            keys = {r["o_orderkey"] for r in w["rows"]}
            assert not keys & live
            live |= keys
        elif op.kind in ("update", "delete"):
            assert w["key"] in live
            if op.kind == "delete":
                live.discard(w["key"])
        elif op.kind == "merge":
            live |= {r["o_orderkey"] for r in w["rows"]}


def test_diff_tolerates_summation_order_but_not_wrong_values():
    assert diff([(1, 0.1 + 0.2)], [(1, 0.3)]) is None
    assert diff([("a", 1), ("b", 2)], [("b", 2), ("a", 1)]) is None
    assert diff([(1, 0.31)], [(1, 0.3)]) is not None
    assert diff([(1,)], [(1,), (1,)]) is not None


def test_planted_wrong_answer_counts_in_error_rate():
    """A doc_pipeline op whose drained result differs from the oracle, and
    one that raised, both count as failed; nothing is filtered out."""
    from perfbench.workloads import DocPipeline

    wl = DocPipeline(spark=None, data_dir="", seed=0)
    right = pd.DataFrame({"id_a": [1, 2], "jaccard": [0.75, 1.0]})
    wl.expected = {"q_minhash_portable": right}
    planted = right.copy()
    planted.loc[1, "jaccard"] = 0.5
    op = gen.Op("q_minhash_portable", "q_minhash_portable", dialect="")
    executed = [
        (0, op, right.copy(), None),
        (1, op, planted, None),
        (2, op, None, "RuntimeError: boom"),
        (3, op, right[["jaccard", "id_a"]], None),
    ]
    tally = Tally()
    wl.check(executed, tally)
    assert (tally.attempted, tally.wrong, tally.raised) == (4, 1, 1)
    assert tally.error_rate == 0.5


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: u for k, (u, _) in run.PER_LAYER.items()}
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.MAX_OPS)
    # every layer metric applies to at least one kept workload
    for name, (_unit, applies) in run.PER_LAYER.items():
        if name != "spark.spill_bytes":  # no workload spills at these sizes
            assert applies & set(run.MAX_OPS), name


def test_percentile_interpolates_and_timed_cycles_ignore_the_clock():
    assert run.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert run.percentile([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0], 90) == 10.0
    assert run.timed_cycles(10, 7.0) == 1
    assert run.timed_cycles(14, 7.0) == 2
    assert run.timed_cycles(1, 10.0) == 1


def test_tracer_wraps_a_function_in_every_module_that_imported_it():
    """``ext.dedup`` imports ``tokens`` from ``ext.text`` by name; after
    install both names call the same shim, so the call counts as ext.text
    whichever module was imported first."""
    code = (
        "from perfbench.tracing import Tracer\n"
        "Tracer().install()\n"
        "from mesin_spark.ext import dedup, pipeline, text\n"
        "assert dedup.tokens is text.tokens is pipeline.tokens\n"
        "assert text.tokens.__wrapped__.__module__ == 'mesin_spark.ext.text'\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=120)


def test_exits_nonzero_without_result_outside_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(run.MAX_OPS))
def test_traced_run_reports_every_layer_metric(workload, tmp_path):
    """A short traced run emits every per-layer metric, and run.py exits 3
    when an applicable layer was never entered."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    for name, (_unit, applies) in run.PER_LAYER.items():
        if workload in applies:
            assert result["metrics"][name]["value"] > 0, name
