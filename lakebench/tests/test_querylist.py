"""The operator mix's frozen query list still follows its written rule.

Registry order is registration order, so it depends on which operator
modules the process imported before ``load_all_operators``; a pytest run
that also collects the repo's own tests imports some of them early. The
rule is about the order a fresh process sees, as ``run.py`` does, so the
list is derived in a child interpreter (this file run as a script).
"""

import inspect
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _derive() -> list[str]:
    from iceberg_v2_to_v3_upgrade_spark.registry import load_all_operators

    from lakebench import workloads

    reg = load_all_operators()
    derived = []
    for group in workloads.MIX_GROUPS:
        for name, q in reg.items():
            if (
                re.match(group, name)
                and q.oracle is not None
                and not any(b in inspect.getsource(q.fn) for b in workloads.MIX_BANNED)
            ):
                derived.append(name)
                break
    return derived


def test_query_list_follows_rule():
    from lakebench import workloads

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert tuple(json.loads(proc.stdout.strip().splitlines()[-1])) == workloads.MIX_QUERIES


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(_derive()))
