"""The default ``python bench.py`` line keeps the key set that the
recorded BENCH_rNN.json results are parsed with.

Runs bench.py in a subprocess at tiny scale (200 pages, one wave, the
sf0.001 operator tables) and compares the printed line's top-level,
``queries`` and ``rows`` key sets with ``BENCH_r05.json["parsed"]``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_bench_line_keys():
    with open(os.path.join(REPO, "BENCH_r05.json")) as f:
        ref = json.load(f)["parsed"]
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        BENCH_PAGES="200",
        BENCH_WAVES="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == set(ref)
    assert set(line["queries"]) == set(ref["queries"])
    assert set(line["rows"]) == set(ref["rows"])
    assert line["urls_selected"] > 0
