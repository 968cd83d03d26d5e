"""Session defaults: with no environment override, the local master and
the driver heap are sized from the machine the job runs on."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def test_session_defaults_follow_the_machine():
    """Imports the session module in a fresh interpreter with both
    overrides removed; no JVM starts."""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")
    }
    code = (
        "import json, ocr_poc_spark.session as s; "
        "print(json.dumps([s.DEFAULT_CPUS, s.DEFAULT_DRIVER_MEM]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    )
    cpus, mem = json.loads(out.stdout.strip().splitlines()[-1])
    assert cpus == len(os.sched_getaffinity(0))
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) * UNITS[mem[-1].lower()] <= physical
