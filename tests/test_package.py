"""The spark-submit archive is built from the sources, never committed:
``package.build`` writes it where asked, and the package imports from the
zip alone (what ``spark-submit --py-files`` ships to executors)."""

import os
import subprocess
import sys
import zipfile

import package


def test_build_zip_imports_alone(tmp_path):
    out = package.build(tmp_path / "out" / "schemasaurus_spark.zip")
    assert out == tmp_path / "out" / "schemasaurus_spark.zip"
    with zipfile.ZipFile(out) as z:
        assert "schemasaurus_spark/session.py" in z.namelist()

    # only the zip on the package path: the repo checkout must not leak in
    # through the working directory or an inherited PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(out)
    probe = (
        "import schemasaurus_spark.session as s\n"
        "from schemasaurus_spark.session import local_frame\n"
        "print(s.__file__)\n")
    r = subprocess.run([sys.executable, "-c", probe], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip().startswith(str(out)), r.stdout
