"""plans/session.py: the package zip that ships the kernels to
executors is removed again, explicitly or at interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import os, sys
from jsonld_spark.plans import session

path = session.package_zip()
assert session.package_zip() == path and os.path.exists(path)
if sys.argv[1] == "explicit":
    session.remove_package_zip()
    assert not os.path.exists(path)
    session.remove_package_zip()  # a second call is a no-op
print(path)
"""


@pytest.mark.parametrize("how", ["explicit", "at_exit"])
def test_package_zip_is_removed(tmp_path, how):
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, how],
        cwd=REPO_ROOT,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip()
    assert os.path.dirname(path) == str(tmp_path)
    assert not os.path.exists(path)
    assert not [f for f in os.listdir(tmp_path) if f.startswith("jsonld_spark_pyfiles_")]
