"""spark-submit packaging smoke test: tools/package.sh builds the
--py-files zip, and the package imports from that zip alone."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_imports_outside_the_repo(tmp_path):
    subprocess.run(["sh", os.path.join(REPO, "tools", "package.sh")], check=True,
                   capture_output=True)
    zip_path = os.path.join(REPO, "dist", "informers_spark.zip")
    code = (
        "import informers_spark.plans.kg, informers_spark.operators.ann as a; "
        "print(a.__file__)"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         check=True, capture_output=True, text=True)
    # loaded from inside the zip, not from a checkout on the path
    assert out.stdout.strip().startswith(zip_path + os.sep), out.stdout
