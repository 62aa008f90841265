"""The /proc sampler against a child that burns a known amount of CPU."""

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procsampler import TreeSampler, tree_pids  # noqa: E402

BURN = """
import time
block = bytearray(160 * 1024 * 1024)
for i in range(0, len(block), 4096):
    block[i] = 1
while time.process_time() < {cpu}:
    pass
time.sleep(0.3)
"""


def test_child_cpu_and_rss_are_counted():
    with TreeSampler(os.getpid(), interval_s=0.05) as sampler:
        # the child exits and is reaped inside the window: its CPU must
        # still count, through this process's cutime
        subprocess.run([sys.executable, "-c", BURN.format(cpu=1.0)],
                       check=True, timeout=60)
    assert 1.0 <= sampler.cpu_s < 1.6
    assert sampler.peak_rss_mb >= 160


def test_live_descendants_are_found():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(30)"])
    try:
        assert child.pid in tree_pids(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in tree_pids(os.getpid())
