"""The registry's oracle harness and the scratch space its queries
write to."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_check_oracle_fails_on_unknown_query_names(monkeypatch, capsys):
    """A mistyped query name is a failure that names it, not a pass
    that ran nothing; importing the checker runs nothing."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert capsys.readouterr().out == ""
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", str(ROOT), "q01_no_such", "q02_typo"]
    )
    assert mod.main() != 0
    assert "q01_no_such, q02_typo" in capsys.readouterr().out


def test_query_scratch_dirs_share_one_root_removed_at_exit(tmp_path):
    """Query stores and staged inputs live under one per-process root,
    which is gone once the interpreter that made it exits."""
    code = (
        "from diseasystore_spark import queries\n"
        "a, b = queries._scratch_dir('ds_tpch_'), queries._scratch_dir('ds_rev_')\n"
        "open(a + '/f', 'w').close()\n"
        "print(a); print(b)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(ROOT)}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        check=True,
    ).stdout.split()
    assert len(out) == 2
    root = os.path.dirname(out[0])
    assert os.path.dirname(out[1]) == root
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
