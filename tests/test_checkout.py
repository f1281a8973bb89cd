"""Tests import the package of their own checkout: a copy of the tree
elsewhere must test the copy, even with another checkout on the path."""

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mini_data_platform_spark"


def test_conftest_imports_its_own_checkout(tmp_path):
    copy = tmp_path / "checkout"
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(os.path.join(REPO, PACKAGE), copy / PACKAGE, ignore=ignore)
    (copy / "tests").mkdir()
    shutil.copy(os.path.join(REPO, "tests", "conftest.py"), copy / "tests")
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); import conftest; "
        f"import {PACKAGE} as m; print(m.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(copy / "tests")],
        cwd=tmp_path,
        # this checkout is importable too, as it would be if installed
        env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().startswith(str(copy) + os.sep), out.stdout
