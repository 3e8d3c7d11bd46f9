"""CPU time of the process tree: live children count, and so do reaped ones."""

import subprocess
import sys

from cputime import tree_cpu_s, work_cpu_s

BURN = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.4:
    pass
print("burnt", flush=True)
sys.stdin.read()
"""


def test_live_and_reaped_children_are_counted():
    before, jit_before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "burnt"
        live, jit_live = tree_cpu_s()
        assert live - before >= 0.35  # the child is alive: read from its own stat
    finally:
        child.stdin.close()
        child.wait()
    reaped, _ = tree_cpu_s()
    assert reaped - before >= 0.35  # the child is gone: counted in our cutime
    assert jit_before == jit_live == 0  # no JVM in this tree
    assert abs(work_cpu_s() - tree_cpu_s()[0]) < 0.05
