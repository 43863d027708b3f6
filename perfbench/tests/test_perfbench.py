"""Self-tests of the benchmark: its inputs follow the seed, every
workload passes its gates on two seeds, and a planted driver-side delay
shows up only in the layer it was planted in.

    python3 -m pytest perfbench/tests -q

The gate and planted-delay tests start the benchmark as a subprocess
(one Spark JVM each) and take about ten minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
from run import WORKLOAD_NAMES  # noqa: E402


def bench_run(*args: str) -> tuple[dict, dict]:
    """-> (run record, result) of one benchmark run."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def bench(*args: str) -> dict:
    return bench_run(*args)[1]


def test_seed_changes_transcripts_and_corpus_layout(tmp_path):
    a, a_expected = inputs.transcripts(1, 30)
    b, _ = inputs.transcripts(2, 30)
    assert a.equals(inputs.transcripts(1, 30)[0])
    assert not a.equals(b)
    assert a.num_rows == a_expected.num_rows

    import pyarrow.parquet as pq

    tables = {}
    for seed in (1, 2):
        inputs.write_corpus(str(tmp_path / str(seed)), seed)
        tables[seed] = pq.read_table(tmp_path / str(seed) / "documents.parquet")
    assert tables[1].column("doc_id") != tables[2].column("doc_id")
    assert tables[1].sort_by("doc_id").equals(tables[2].sort_by("doc_id"))


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("seed", ["42", "7"])
def test_every_gate_passes(workload, seed):
    res = bench("--workload", workload, "--seed", seed, "--seconds", "1",
                "--trace", "0")
    assert res["correct"] and res["failed"] == 0, res
    assert all(m["value"] > 0 for m in res["metrics"].values()), res


# large against the run-to-run noise of the layers compared below
DELAY_MS = 1000.0


def test_planted_promote_delay_moves_the_op_cost():
    args = ("--workload", "incremental_resume", "--seed", "42",
            "--seconds", "1", "--trace", "0")
    base = bench(*args)
    record, slow = bench_run(*args, "--plant-promote-delay-ms", str(DELAY_MS))
    assert base["correct"] and slow["correct"]
    # the delay spins on the driver; every op promotes at least the
    # partition it crashed on, and the op's CPU time is counted in
    # units of the reference job's
    ref_s = record["samples"]["wall"]["ref_cpu_s"]
    cost = [r["metrics"]["cpu_per_ref"]["value"] for r in (base, slow)]
    assert cost[1] - cost[0] > 0.7 * DELAY_MS / 1e3 / ref_s


def test_planted_promote_delay_moves_only_the_sink():
    delay_ms = DELAY_MS
    args = ("--workload", "incremental_resume", "--seed", "42",
            "--seconds", "1", "--trace", "1")
    base = bench(*args)
    slow = bench(*args, "--plant-promote-delay-ms", str(delay_ms))
    assert base["correct"] and slow["correct"]
    m0 = {k: v["value"] for k, v in base["metrics"].items()}
    m1 = {k: v["value"] for k, v in slow["metrics"].items()}
    # same seed, same appended conversations: the same promotes
    assert m1["sink.promotes"] == m0["sink.promotes"] > 0
    planted = m1["sink.promotes"] * delay_ms / 1e3
    for key in ("sink.promote_s", "self.sink_s"):
        assert m1[key] - m0[key] == pytest.approx(planted, rel=0.2), key
    # every promote of the traced op sits on its critical path
    assert m1["trace.job_s"] - m0["trace.job_s"] > 0.7 * planted
    # every op promotes at least the partition it crashed on
    assert m1["trace.untraced_job_s"] - m0["trace.untraced_job_s"] > (
        0.7 * delay_ms / 1e3)
    # no other layer may absorb the delay
    for key in ("runner.fingerprint_s", "self.runner_s", "extract.s",
                "extract.echo_s", "kernels.markdown.s", "kernels.html.s"):
        assert abs(m1[key] - m0[key]) < 0.25 * planted, key
