"""Smoke tests of the benchmark itself, at a tiny input scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload, untraced and traced, must pass its output checks and emit
every metric BENCHMARK.json names, with its unit; traced spans must nest
inside their parents. The generator tests need no JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import fecgen  # noqa: E402
import layers  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))


def _run(workload: str, trace: int, seed: int = 5) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    details, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(result), json.loads(details)["details"]


def test_same_seed_gives_byte_identical_landing_files(tmp_path):
    digests = []
    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        fecgen.write_landing(fecgen.generate(seed, 500), str(tmp_path / sub))
        digests.append(fecgen.landing_digest(str(tmp_path / sub)))
    assert digests[0] == digests[1] != digests[2]
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{p}.txt" for p in fecgen.PREFIXES)


def test_landing_files_carry_the_fixture_edge_cases():
    t = fecgen.generate(9, 4000)
    cm_ids = {r["cmte_id"] for r in t["cm"]}
    fks = [r["cmte_id"] for r in t["indiv"] if r["cmte_id"] is not None]
    dangling = sum(fk not in cm_ids for fk in fks) / len(fks)
    assert 0.02 < dangling < 0.08
    assert any(r["memo_cd"] == "X" for r in t["indiv"])
    zips = {r["zip_code"] for r in t["indiv"]}
    assert {"945301234", "00000", None, "123"} <= zips
    dates = {r["transaction_dt"] for r in t["indiv"]}
    assert None in dates and any(d and len(d) == 7 for d in dates)
    assert any(r["exp_dat"] is None for r in t["independent_expenditure"])
    assert any("-" in (r["exp_dat"] or "") for r in t["independent_expenditure"])
    indiv_rows = {tuple(sorted(r.items())) for r in t["indiv"]}
    assert any(tuple(sorted(r.items())) in indiv_rows for r in t["oth"])
    by_file = {r["file_num"] for r in t["independent_expenditure"]}
    assert any(r["prev_file_num"] in by_file for r in t["independent_expenditure"])


def _check_metrics(result: dict, section: str) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


@pytest.mark.parametrize("workload", ["fec_bulk_elt", "fec_incremental", "query_mix"])
def test_workload_emits_end_to_end_metrics(workload):
    result, details = _run(workload, trace=0)
    _check_metrics(result, "end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    rss = details["peak_rss_mb"]
    assert rss["unit"] == "MB" and rss["driver"] > 0 and rss["jvm"] > 0


@pytest.mark.parametrize("workload", ["fec_bulk_elt", "fec_incremental", "query_mix"])
def test_traced_run_emits_per_layer_metrics_and_nested_spans(workload):
    result, _ = _run(workload, trace=1)
    _check_metrics(result, "per_layer")
    assert [m[0] for m in layers.METRICS] == [m["name"] for m in SPEC["per_layer"]]
    with open(os.path.join(HERE, "_out", f"trace_{workload}_5.json"), encoding="utf-8") as f:
        spans = {s["span_id"]: s for s in json.load(f)}
    assert spans
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"] and p["op"] == s["op"]
    assert any(s["name"] == "op" for s in spans.values())
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload.startswith("fec_"):
        # the bulk build's layers, graph included, are measured
        assert m["graph.contribution_graph.ms"] > 0 and m["fec.bulk_plan_build.ms"] > 0
        assert m["io.validated_overwrite.calls"] > 0
    if workload == "fec_incremental":
        # every loaded row was scanned at least once, by the engine's count
        assert m["streaming.rows_scanned_per_row_loaded"] >= 1
