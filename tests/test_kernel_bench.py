"""tools/kernel_bench.py runs at a tiny size and reports every kernel."""

import json
import os
import subprocess
import sys
import time

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "kernel_bench.py")

KEYS = {"route_warm_s", "route_serve_s", "route_deep_s", "split_full_s",
        "split_block_s", "allreduce_s", "reduce_scatter_s"}


def test_kernel_bench_smoke():
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, TOOL, "--scale", "0.02",
                          "--reps", "1"], capture_output=True, text=True,
                         timeout=60, check=True)
    assert time.perf_counter() - t0 < 10
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1
    res = json.loads(lines[0])
    assert KEYS <= set(res)
    for k in KEYS:
        assert isinstance(res[k], float) and res[k] >= 0.0, k
    assert res["collective_calls_per_rank"] == 6
