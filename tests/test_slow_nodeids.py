"""tests/slow_nodeids.txt names tests the default tier skips. An entry
whose file or function is gone silently skips nothing, so every entry
must still resolve — checked by a source scan, without collection."""

from __future__ import annotations

import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_every_slow_nodeid_names_an_existing_test():
    with open(os.path.join(HERE, "slow_nodeids.txt")) as f:
        ids = [
            line.strip()
            for line in f
            if line.strip() and not line.startswith("#")
        ]
    assert ids
    sources: dict[str, str] = {}
    missing = []
    for nodeid in ids:
        path, *names = nodeid.split("[", 1)[0].split("::")
        full = os.path.join(ROOT, path)
        if not os.path.isfile(full):
            missing.append(nodeid)
            continue
        if full not in sources:
            with open(full) as f:
                sources[full] = f.read()
        for name in names:
            if not re.search(
                rf"^\s*(?:async\s+)?(?:def|class)\s+{re.escape(name)}\b",
                sources[full],
                re.M,
            ):
                missing.append(nodeid)
                break
    assert not missing, f"stale slow_nodeids entries: {missing}"
