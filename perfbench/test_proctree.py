"""Unit tests for the /proc process-tree sampler.

    python3 -m pytest perfbench/test_proctree.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proctree  # noqa: E402

BURN_S = 0.6
# Spawns a CPU burner, reaps it, reports, then idles until stdin closes —
# the shape of the Spark Python daemon reaping a finished worker.
PARENT = f"""
import subprocess, sys
subprocess.run([sys.executable, "-c",
                "import time\\nt=time.process_time()\\nwhile time.process_time()-t<{BURN_S}: pass"],
               check=True)
print("reaped", flush=True)
sys.stdin.read()
"""


def test_counts_cpu_of_reaped_children():
    before = proctree.cpu_by_role()["total"]
    p = subprocess.Popen([sys.executable, "-c", PARENT], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
    try:
        assert p.stdout.readline().strip() == "reaped"
        # the burner is gone; only the parent's cutime/cstime still hold it
        tree = proctree.tree(os.getpid())
        assert p.pid in tree and len(tree) == 2
        own = proctree._cpu_s(tree[p.pid], with_children=False)
        after = proctree.cpu_by_role()
        assert own < BURN_S / 2
        assert after["total"] - before >= BURN_S * 0.9
        assert after["python_workers"] >= BURN_S * 0.9
    finally:
        p.stdin.close()
        p.wait(timeout=30)
    assert p.returncode == 0


def test_peak_rss_keeps_a_released_allocation_after_reset():
    p = subprocess.Popen([sys.executable, "-c",
                          "import sys\nsys.stdin.readline()\n"
                          "b=bytearray(200*2**20)\nb[::4096]=b'x'*len(b[::4096])\n"
                          "del b\nprint('freed', flush=True)\nsys.stdin.read()"],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        proctree.reset_peaks()
        p.stdin.write("go\n")
        p.stdin.flush()
        assert p.stdout.readline().strip() == "freed"
        assert proctree.peak_rss_bytes() - proctree.rss_bytes() >= 150 * 2**20
        proctree.reset_peaks()
        assert proctree.peak_rss_bytes() - proctree.rss_bytes() < 50 * 2**20
    finally:
        p.stdin.close()
        p.wait(timeout=30)


def test_tree_survives_processes_exiting_between_listing_and_reading():
    t0 = time.monotonic()
    procs = [subprocess.Popen([sys.executable, "-c", "pass"]) for _ in range(8)]
    while time.monotonic() - t0 < 2 and any(p.poll() is None for p in procs):
        proctree.cpu_by_role()
        proctree.rss_bytes()
    for p in procs:
        p.wait(timeout=30)
