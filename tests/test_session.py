"""Engine session: the confs every query relies on are live on the session
``build_session`` returns, and the process scratch root is removed at exit
by the process that made it."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from kafkastreamsjavachallenge_spark.session import _RUNTIME_CONFS


def test_session_reads_every_runtime_conf(spark):
    """The builder starts the session with every runtime conf (so they hold
    from the first query on), and the session reads each of them back."""
    launched = spark.sparkContext.getConf()
    assert {k: launched.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
    assert {k: spark.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS


_EXIT_HOOK_SCRIPT = """
import os, sys
from kafkastreamsjavachallenge_spark.session import derived_dir, scratch_dir

src = sys.argv[1]
print(os.path.dirname(scratch_dir("probe_")), flush=True)
built = derived_dir(src, "copy", lambda d: open(os.path.join(d, "f"), "w").close())
assert os.path.exists(os.path.join(built, "f"))
pid = os.fork()
if pid == 0:
    sys.exit(0)  # runs the inherited exit hook in the child
os.waitpid(pid, 0)
print(os.path.isdir(os.path.dirname(built)), flush=True)
"""


def test_scratch_root_removed_at_exit_by_its_own_process_only(tmp_path):
    """No Spark: a process that used ``scratch_dir`` and ``derived_dir``
    leaves no scratch root behind when it exits, while a forked child that
    exits normally leaves its parent's root in place."""
    src = tmp_path / "src.bin"
    src.write_bytes(b"x")
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_HOOK_SCRIPT, str(src)],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout.split()
    root, kept_after_child = out[0], out[1]
    assert kept_after_child == "True", "a forked child removed its parent's root"
    assert not os.path.exists(root), f"scratch root {root} left after exit"


def test_scratch_owner_is_thread_safe(tmp_path):
    """More threads than cores: one ``(src, variant)`` is built exactly once
    and every caller gets that copy, while a ``build`` that itself calls
    ``scratch_dir`` does not deadlock and every scratch dir is distinct."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from kafkastreamsjavachallenge_spark.session import derived_dir, scratch_dir

    src = tmp_path / "src.bin"
    src.write_bytes(b"x")
    builds, lock = [], threading.Lock()

    def build(d):
        with lock:
            builds.append(scratch_dir("nested_"))
        time.sleep(0.05)  # a real build writes files: let other callers arrive

    def call(i):
        return derived_dir(str(src), "stress", build), scratch_dir(f"s{i}_")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(len(os.sched_getaffinity(0)) + 4) as pool:
            got = [f.result(timeout=60) for f in [pool.submit(call, i) for i in range(64)]]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert len({d for d, _ in got}) == 1
    assert len({s for _, s in got}) == len(got)
    assert len({os.path.dirname(s) for _, s in got}) == 1
