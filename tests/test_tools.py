"""The scripts under tools/ run from any checkout: each derives the repo
root from its own ``__file__`` instead of hardcoding an absolute path."""

from __future__ import annotations

import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


def test_tools_hardcode_no_checkout_path():
    assert TOOLS
    for path in TOOLS:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        name = os.path.basename(path)
        # the path of THIS checkout would break every other one
        assert REPO not in src, name
        assert 'sys.path.insert(0, "/' not in src, name
        if "sys.path.insert" in src:
            assert "os.path.abspath(__file__)" in src, name
