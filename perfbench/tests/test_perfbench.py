"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

Only the last test starts a JVM: it runs each workload once, traced, at a
tiny size in a child process (about a minute and a half each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
TINY = {"images_filter": 200, "docs_dedup": 1}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert s["paths"] == ["perfbench"]
    assert 1 <= len(s["command"]) <= 32 and all(len(c) <= 200 for c in s["command"])
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [w["name"] for w in s["workloads"]]
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in s["end_to_end"] + s["per_layer"]:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"])
        assert m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert len(names) == len(set(names))
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_result_line_has_the_declared_schema():
    s = spec()
    e2e = {m["name"]: 1.5 for m in s["end_to_end"]}
    line = run.result_line(s, e2e, False, 5, 0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 5
    assert line["metrics"] == {
        m["name"]: {"value": 1.5, "unit": m["unit"]} for m in s["end_to_end"]
    }
    traced = run.result_line(s, {"sources.scan_s": 0.25}, True, 3, 1)
    assert traced["correct"] is False
    assert list(traced["metrics"]) == [m["name"] for m in s["per_layer"]]
    assert traced["metrics"]["sources.scan_s"] == {"value": 0.25, "unit": "s"}
    with pytest.raises(KeyError):
        run.result_line(s, {}, False, 1, 0)


def test_every_metric_the_code_names_is_declared():
    layer = {m["name"] for m in spec()["per_layer"]}
    assert set(run.MINUS_SCAN) <= layer
    assert {f"spark.{m}" for m in run.EVENT_METRICS} <= layer


def test_tracer_self_time_subtracts_children():
    tr = harness.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    selfs = tr.self_times()
    assert inner["parent"] == outer["id"]
    assert selfs[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_seed_determines_the_input(name, tmp_path, monkeypatch):
    import perfbench.workloads as W

    def hash_for(seed: int, cache: str) -> str:
        monkeypatch.setattr(W, "CACHE", str(tmp_path / cache))
        wl = W.WORKLOADS[name](seed, 2, TINY[name])
        wl.prepare()
        return wl.input_hash

    first = hash_for(11, "a")
    assert hash_for(11, "b") == first
    assert hash_for(12, "c") != first
    assert not harness.children(), "input generation left a process running"


def session_members(sid: int) -> list[int]:
    return [pid for pid, f in harness.proc_stat().items() if int(f[3]) == sid]


_CHILD = """
import sys
sys.path.insert(0, {root!r})
import perfbench.run as R
from perfbench.workloads import WORKLOADS
WORKLOADS[{name!r}].default_size = {size}
sys.exit(R.main(["--workload", {name!r}, "--seed", "5", "--seconds", "0", "--trace", "1"]))
"""


def test_traced_runs_emit_a_span_for_every_layer_metric():
    declared = [m["name"] for m in spec()["per_layer"]]
    seen: set[str] = set()
    for name in WORKLOADS:
        proc = subprocess.Popen(
            [sys.executable, "-c", _CHILD.format(root=ROOT, name=name, size=TINY[name])],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        stdout, stderr = proc.communicate(timeout=600)
        assert proc.returncode == 0, stderr[-3000:]
        assert not session_members(proc.pid), "the run left a process running"
        lines = stdout.strip().splitlines()
        record = json.loads(lines[-2])["record"]
        result = json.loads(lines[-1])
        assert result["correct"] and record["error_rate"] == 0.0
        assert list(result["metrics"]) == declared
        with open(os.path.join(harness.CACHE, "traces", f"{name}-s5.jsonl")) as f:
            spans = {json.loads(line)["name"] for line in f}
        shared = {m for m in declared if m.split(".")[0] in
                  ("prepare_s", "trace", "sources", "crossing", "body", "spark")}
        assert shared <= spans, sorted(shared - spans)
        seen |= spans
    assert set(declared) <= seen, sorted(set(declared) - seen)
