"""The benchmark harness's own tests: pure helpers, plus every workload
end to end in smoke mode (tiny inputs, gates still applied).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import compare  # noqa: E402
import gen  # noqa: E402
import profile_docs  # noqa: E402
from common import pct, tail_q  # noqa: E402
from tracer import Tracer  # noqa: E402


def test_inputs_are_a_function_of_the_seed():
    a, b = gen.api_ops(7, 0), gen.api_ops(7, 0)
    assert [next(a) for _ in range(50)] == [next(b) for _ in range(50)]
    assert gen.documents(3, 300) == gen.documents(3, 300)
    assert gen.documents(3, 300) != gen.documents(4, 300)


def test_documents_have_the_fixture_shape():
    p = profile_docs.profile(gen.documents(5, 4000))
    assert p["docs"] == 4000
    assert p["tokens_min_max"] == list(gen.TOKENS) and 50 < p["tokens_mean"] < 60
    assert p["vocabulary"] == len(gen.WORDS)
    assert p["near_dup_share"] == gen.NEAR_DUP_SHARE and p["near_dup_with_base_share"] == 1.0
    assert 0 < p["exact_dup_share"] < 0.01
    assert p["source_is_doc_id_mod_20"]


def test_completed_doc_is_compact_and_chunked():
    assert gen.completed_doc("r", [1, 2, 3, 4]) == (
        '{"ingestion_id":"r","status":"completed","batches":['
        '{"batch_id":"r-0","ids":[1,2,3],"status":"completed"},'
        '{"batch_id":"r-1","ids":[4],"status":"completed"}]}'
    )


def test_percentiles_and_tail_choice():
    xs = list(range(1, 101))
    assert pct(xs, 50) == 50.5
    assert pct(xs, 90) == pytest.approx(90.1)
    assert tail_q(100) == 90.0 and tail_q(1000) == 99.0 and tail_q(19) == 50.0


def test_self_time_subtracts_children():
    tr = Tracer()

    def inner():
        time.sleep(0.02)

    def outer():
        time.sleep(0.01)
        tr.call("inner", inner)

    tr.call("outer", outer)
    st = tr.self_time_s()
    assert 0.005 < st["outer"] < 0.02 < st["inner"]
    (o,) = [s for s in tr.spans if s[3] == "outer"]
    (i,) = [s for s in tr.spans if s[3] == "inner"]
    assert i[1] == o[0] and i[2] == o[2]  # parent and op id


def _saved(path, workload, value):
    with open(path, "w") as fh:
        json.dump(
            {"workload": workload, "info": {"trace": 0}, "e2e": {}, "detail": {},
             "result": {"metrics": {"work_per_s": {"value": value, "unit": "1/s"}}}},
            fh,
        )


def test_compare_flags_a_regression_beyond_the_bound(tmp_path, capsys):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    for i, v in enumerate((100.0, 101.0, 99.0)):
        _saved(a / f"{i}.json", "api_mixed", v)
        _saved(b / f"{i}.json", "api_mixed", v * 0.5)
    assert compare.main([str(a), str(a)]) == 0
    assert compare.main([str(a), str(b)]) == 1
    assert "WORSE than bound" in capsys.readouterr().out


def test_checkout_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "api_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.parametrize("workload", ["api_mixed", "curation_batch"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in want}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
