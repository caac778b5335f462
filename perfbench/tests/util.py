import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)


def workdir(name):
    """A fresh directory inside the checkout's (ignored) work area."""
    d = os.path.join(os.path.dirname(BENCH), ".perfbench", "test-tmp", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d
