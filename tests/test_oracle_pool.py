"""The oracle pool's child does not outlive the process that opened it."""

import os
import subprocess
import sys
import textwrap
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _alive(pid):
    """``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_child_exits_when_its_parent_dies(tmp_path):
    script = tmp_path / "orphan.py"
    script.write_text(textwrap.dedent(f"""
        import os, sys, time
        sys.path.insert(0, {REPO!r})
        from tests.conftest import oracle_pool

        if __name__ == "__main__":
            pool = oracle_pool()
            pool.submit(time.sleep, 60)
            print(next(iter(pool._processes)), flush=True)
            time.sleep(2)  # the child is past start-up, in its task
            os._exit(0)  # no shutdown: the pool is left as a killed parent leaves it
    """))
    # read one line, not to EOF: the child inherits the pipe
    with subprocess.Popen([sys.executable, str(script)], stdout=subprocess.PIPE) as proc:
        child = int(proc.stdout.readline())
        proc.wait(timeout=60)
    deadline = time.monotonic() + 5
    while _alive(child) and time.monotonic() < deadline:
        time.sleep(0.1)
    alive = _alive(child)
    if alive:
        os.kill(child, 9)
    assert not alive, "oracle child outlived its parent"
