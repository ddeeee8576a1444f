"""The --py-files zip is built, not committed: ``tools/package_pyfiles.py``
must produce an artifact that imports on its own.

The zip is built from the working tree, then imported in a fresh
interpreter whose working directory is outside the repo and whose
``PYTHONPATH`` is only the zip, so a module the tool forgets to pack fails
here instead of on the cluster.
"""

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = ["data_check_spark.engine", "data_check_spark.queries", "data_check_spark.streaming.incremental"]


def test_built_zip_imports_without_the_source_tree(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "package_pyfiles", os.path.join(REPO, "tools", "package_pyfiles.py"))
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    zip_path = tool.main()
    assert zip_path == os.path.join(REPO, "dist", "data_check_spark.zip")

    code = (
        "import importlib, sys\n"
        f"for name in {MODULES!r}:\n"
        "    print(importlib.import_module(name).__file__)\n"
    )
    env = {**os.environ, "PYTHONPATH": zip_path}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    files = out.stdout.split()
    assert len(files) == len(MODULES)
    assert all(f.startswith(zip_path + os.sep) for f in files), files
