"""Self-tests of the benchmark: input determinism, the metric contract,
and a one-unit smoke run of each workload at the benchmark's own size
(each starts its own Spark and takes about a minute)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from gents_spark.driver_queries import ORACLES, QUERIES  # noqa: E402
from perfbench import checks, config, gen, measure  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _inputs(seed: int) -> str:
    seqs, _ = gen.sequences(gen.SeqSpec(4, 500), seed)
    return gen.content_hash({"sequences": seqs, **gen.star_tables(0.001, seed)})


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_injected_invalid_rows_are_counted():
    table, n_bad = gen.sequences(gen.SeqSpec(4, 1000), 3)
    tok = table.column("tokens").to_pylist()
    n_tok = table.column("n_tok").to_pylist()
    doc = table.column("doc_id").to_pylist()
    src = table.column("source").to_pylist()
    bad = sum(1 for d, s, t, n in zip(doc, src, tok, n_tok)
              if "/" not in d or s is None or len(t) != n)
    assert n_bad == bad > 0


def test_battery_is_the_74_queries_with_oracles():
    assert len(set(config.BATTERY)) == 74
    assert all(q in QUERIES and q in ORACLES for q in config.BATTERY)


def test_oracle_cells_allow_only_a_half_way_tie_rounded_apart():
    same = checks.same_value
    assert same(32.402188, 32.402187)  # 32.4021875 rounded both ways
    assert same(("a", 2, 39.818062), ("a", 2, 39.818063))
    assert not same(32.402189, 32.402187)  # two units apart
    assert not same(32.4021881, 32.402187)  # not a 6-decimal result
    assert not same(1.0, 2.0)
    assert not same(("a", 2), ("a", 3))


def test_benchmark_json_matches_what_the_runs_emit():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    for section, names in (("end_to_end", measure.E2E),
                           ("per_layer", measure.per_layer_names())):
        declared = {m["name"]: m for m in BENCH[section]}
        assert list(declared) == [n for n, _ in names]
        for name, unit in names:
            assert declared[name]["unit"] == unit
            assert declared[name]["better"] in ("lower", "higher")
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in BENCH["end_to_end"])


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_run():
    res = _run("pipeline", 1)
    assert res["correct"]
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.coverage"] >= 0.9
    assert m["pipeline.jobs"] > 0 and m["pipeline.resume_jobs"] > 0
    assert m["timeparse.quarantined_rows"] > 0
