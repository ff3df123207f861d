from __future__ import annotations

import json
import os

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layer = run.per_layer_spec()
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layer
    assert len(layer) <= 128


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    value, label = run.tail([float(i) for i in range(101)])
    assert label == "p90" and value == 90.0
    # a short run: a quarter of the samples beyond it
    value, label = run.tail([1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 9.0])
    assert label == "p75" and value == 2.0


def test_peak_rss_counts_python_children():
    import subprocess
    import sys
    import time

    child = subprocess.Popen(
        [sys.executable, "-c", "import time; x = bytearray(100 << 20); time.sleep(3)"]
    )
    try:
        time.sleep(1.5)
        alone = run.ProcessTree().sample()
        assert alone > 100 << 20
    finally:
        child.wait(timeout=10)
    assert run.ProcessTree().sample() < alone


def test_cpu_counts_children_that_ended():
    import subprocess
    import sys

    tree = run.ProcessTree()
    before = tree.cpu_s()
    busy = "import time; t = time.process_time() + 0.5\nwhile time.process_time() < t: pass"
    subprocess.run([sys.executable, "-c", busy], check=True)
    # the reaped child's CPU shows in this process's cutime
    assert tree.cpu_s() - before >= 0.5
