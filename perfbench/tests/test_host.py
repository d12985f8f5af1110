import os
import subprocess
import sys

from host import tree_cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"


def test_tree_cpu_keeps_the_share_of_a_child_that_exited():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.2
