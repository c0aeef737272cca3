"""Self-test of the benchmark at tiny sizes. From the repository root:

    python3 -m pytest perfbench/ -q -p no:cacheprovider

Each run starts its own local Spark session (~10-60 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from worker import END_TO_END, PER_LAYER  # noqa: E402

# every per-layer metric measured on each workload (the rest report 0)
LAYERS_ON = {
    "flagship": ("session", "geotag", "spatial_join", "index", "engine", "tracing"),
    "pbf_lifecycle": ("session", "sources", "export", "assembly", "lineage", "engine", "tracing"),
    "image_dedup": ("session", "codecs", "decode", "band_join", "cc", "engine", "tracing"),
    "tile_pyramid": ("session", "codecs", "decode", "pyramid", "engine", "tracing"),
}
# layer metrics that are legitimately 0 at tiny sizes
MAY_BE_ZERO = {
    "assembly.py_worker_s", "cc.spill_bytes", "engine.spill_bytes", "engine.gc_s",
    "tracing.overhead_frac",
}


def _run(workload, seed=1, seconds=1, trace=0, env_extra=None, **kw):
    env = dict(os.environ, **(env_extra or {}))
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--scale", "tiny"],
        cwd=kw.get("cwd", ROOT), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True,
    )


def _marked(marker: str) -> list[int]:
    """Processes whose environment holds `marker`."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    if marker.encode() in f.read():
                        out.append(int(name))
            except OSError:
                pass
    return out


def _result(proc, timeout=600):
    out, err = proc.communicate(timeout=timeout)
    assert proc.returncode == 0, err[-3000:]
    info = [ln for ln in err.splitlines() if ln.startswith("perfbench-info ")]
    return json.loads(out.strip().splitlines()[-1]), json.loads(info[-1].split(" ", 1)[1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res, _ = _run_clean(workload, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_reports_layers_and_valid_spans(workload):
    res, info = _run_clean(workload, trace=1)
    assert res["correct"] is True
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    for name, v in res["metrics"].items():
        if name.split(".")[0] in LAYERS_ON[workload] and name not in MAY_BE_ZERO:
            assert v["value"] > 0, name
    spans = info["spans"]
    ids = {s["id"] for s in spans}
    assert [s for s in spans if s["parent"] is None] == [spans[0]]
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids
        assert s["end"] >= s["start"] and s["self_s"] >= 0


def _run_clean(workload, trace):
    marker = f"PERFBENCH_TEST_{uuid.uuid4().hex}"
    res = _result(_run(workload, trace=trace, env_extra={marker: "1"}))
    assert _marked(marker) == []
    return res


def test_same_seed_same_digest_other_seed_differs():
    wl = workloads.WORKLOADS["flagship"]("tiny")
    env = dict(os.environ, PYTHONPATH=ROOT, PERFBENCH_TMP=os.path.join(HERE, ".cache", "tmp"))
    os.makedirs(env["PERFBENCH_TMP"], exist_ok=True)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "worker.py"), "stage", "--workload", "flagship",
         "--seed", "1", "--scale", "tiny"], cwd=ROOT, env=env, check=True,
    )

    def fresh(seed):
        meta = wl.stage(seed)
        shutil.rmtree(meta["dir"])
        return wl.stage(seed)["digest"]

    a, b, c = fresh(1), fresh(1), fresh(2)
    assert a == b != c
    pbf = workloads.WORKLOADS["pbf_lifecycle"]("tiny")
    assert pbf.stage(3)["digest"] != pbf.stage(4)["digest"]


def _start_long_run(env_extra=None):
    """A tiny flagship run asked to measure for 60 s, tagged by a marker
    in its environment, which every process it starts inherits."""
    marker = f"PERFBENCH_TEST_{uuid.uuid4().hex}"
    proc = _run("flagship", seconds=60, env_extra={marker: "1", **(env_extra or {})})
    return proc, marker


def test_sigterm_mid_pass_leaves_no_process():
    proc, marker = _start_long_run()
    # wait until the warm passes run, then stop the benchmark inside one
    for line in proc.stderr:
        if "perfbench: first pass" in line:
            break
    time.sleep(0.5)
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0 and out.strip() == ""
    assert _marked(marker) == []


def test_own_deadline_leaves_no_process():
    proc, marker = _start_long_run({"PERFBENCH_DEADLINE_S": "25"})
    out, err = proc.communicate(timeout=120)
    assert proc.returncode != 0 and out.strip() == ""
    assert "deadline" in err
    assert _marked(marker) == []


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache"))
    proc = _run("flagship", cwd=str(tmp_path))
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0 and out.strip() == ""
