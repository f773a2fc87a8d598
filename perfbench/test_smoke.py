"""Tiny-N checks of the benchmark itself.

Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

The checker tests need no Spark. Each workload test runs the benchmark
end to end on 2000 generated rows in a fresh process, about a minute each.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from brokerproc import digest8  # noqa: E402
from workloads import WORKLOADS, IntentDecrypt, RefundMerchantDryrun, check_sink  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _perfect_sink(expected) -> list[bytes]:
    return [k + v for k, v in expected.digests.items()]


@pytest.fixture(scope="module")
def intent_expected():
    _load, expected = IntentDecrypt().prepare("payment_intent", 300, seed=7)
    return expected


def test_check_sink_accepts_exact_output_and_counts_duplicates(intent_expected):
    recs = _perfect_sink(intent_expected)
    assert check_sink(intent_expected, b"".join(recs))["failed"] == 0
    chk = check_sink(intent_expected, b"".join(recs + recs[:3]))
    assert chk["failed"] == 0 and chk["duplicates"] == 3


def test_missing_or_corrupted_sink_record_makes_error_ratio_positive(intent_expected):
    recs = _perfect_sink(intent_expected)
    assert check_sink(intent_expected, b"".join(recs[1:]))["failed"] == 1
    corrupted = recs[0][:8] + digest8(b'{"id":0,"status":"tampered"}')
    assert check_sink(intent_expected, b"".join([corrupted] + recs[1:]))["failed"] == 1
    invented = digest8(b"mer_x:999999") + digest8(b"{}")
    assert check_sink(intent_expected, b"".join(recs + [invented]))["failed"] == 1


def test_dry_run_check_flags_wrong_count_and_sample():
    wl = RefundMerchantDryrun()
    _load, expected = wl.prepare("refund", 5000, seed=3)
    (topic, n), = expected.counts.items()
    key, value = (x.decode() for x in expected.sample[0])
    assert wl.check_dry_run("refund", expected, {topic: (n, (key, value))}) == 0
    assert wl.check_dry_run("refund", expected, {topic: (n - 1, (key, value))}) == 1
    tampered = value.replace('"tenant_id":"default"', '"tenant_id":"other"')
    assert wl.check_dry_run("refund", expected, {topic: (n, (key, tampered))}) == 1
    assert wl.check_dry_run("refund", expected, {topic: (n, None)}) == 1


def test_seed_changes_values_not_sizes():
    a = IntentDecrypt().prepare("t", 200, seed=1)[1]
    b = IntentDecrypt().prepare("t", 200, seed=2)[1]
    assert a.rows == b.rows and a.digests != b.digests
    assert sum(len(v) for _k, v in a.sample) == pytest.approx(
        sum(len(v) for _k, v in b.sample), rel=0.05)
    wl = RefundMerchantDryrun()
    assert wl.prepare("r", 5000, seed=1)[1].counts == wl.prepare("r", 5000, seed=2)[1].counts


def _run(workload: str, trace: int, cwd: Path = ROOT) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--rows", "2000"],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    saved = json.loads(
        (ROOT / ".bench_out" / f"{workload}-seed5-trace{trace}.json").read_text())
    return result, saved["info"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result, info = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert info["slots"] <= info["nproc"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_layer_metric(workload):
    result, info = _run(workload, trace=1)
    assert result["correct"] and result["metrics"]["error_ratio"]["value"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    # cumulative prefixes: each adds work to the one before, so it may not
    # be faster beyond timing noise (the event projection adds almost none)
    first_round = next(i for i, s in enumerate(info["spans"]) if s["name"] == "job.traced")
    prefixes = [s["end"] - s["start"] for s in info["spans"]
                if s["parent"] == first_round and s["name"] != "prefix.readback"]
    assert len(prefixes) >= 2
    for before, after in zip(prefixes, prefixes[1:]):
        assert after >= before - max(0.25, 0.15 * before), prefixes


def test_fails_without_printing_a_result_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
