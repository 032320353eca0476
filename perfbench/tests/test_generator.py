"""Generator self-test: the same seed must give byte-identical payload
files, and another seed different ones.

    python3 -m pytest perfbench/tests      # or: python3 perfbench/tests/test_generator.py
"""
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def test_same_seed_same_bytes():
    p = subprocess.run([sys.executable, RUN, "--selftest"], capture_output=True,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    assert "selftest ok" in p.stderr


if __name__ == "__main__":
    test_same_seed_same_bytes()
    print("ok")
