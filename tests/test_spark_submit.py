"""End-to-end spark-submit deployment: the north-rule clause
`spark-submit --py-files drain3_spark.zip scripts/validate_job.py`
must actually run in a FRESH JVM with the package shipped only through
the zip (not the repo checkout on the driver's sys.path)."""

import json
import os
import subprocess
import sys

import pytest

from drain3_spark import fixtures as FX
from drain3_spark.shipping import build_pkg_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ship_package_removes_its_zip_at_exit(tmp_path):
    """``ship_package`` writes its zip into the temp dir and removes it
    when the process exits, not before: the session serves it until
    then."""
    script = (
        "import os, tempfile\n"
        "from types import SimpleNamespace\n"
        "from drain3_spark.shipping import ship_package\n"
        "added = []\n"
        "sc = SimpleNamespace(addPyFile=added.append)\n"
        "ship_package(SimpleNamespace(sparkContext=sc))\n"
        "ship_package(SimpleNamespace(sparkContext=sc))\n"
        "assert len(added) == 1 and os.path.isfile(added[0]), added\n"
        "assert os.path.dirname(added[0]) == tempfile.gettempdir()\n"
        "print(added[0])\n")
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().startswith(str(tmp_path))
    assert list(tmp_path.iterdir()) == []


@pytest.mark.slow
def test_spark_submit_py_files_validate_job(spark, tmp_path):
    clips_path = str(tmp_path / "clips")
    ref_path = str(tmp_path / "ref")
    clips = FX.gen_clips(spark, 120, dirty=True, n_ds=3,
                         dur_lo=200, dur_hi=400)
    FX.write_clips(clips, clips_path)
    FX.gen_transcripts_ref(spark, 120, dirty=True, n_ds=3, dur_lo=200,
                           dur_hi=400).write.mode("overwrite").parquet(ref_path)

    zip_path = build_pkg_zip(str(tmp_path / "drain3_spark.zip"))
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)          # package must come from the zip
    out = subprocess.run(
        ["/opt/spark/bin/spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "scripts", "validate_job.py"),
         "--clips", clips_path, "--ref", ref_path,
         "--state", str(tmp_path / "state"),
         "--out", str(tmp_path / "reports")],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env)     # cwd OUTSIDE the repo checkout
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["batches"] == 3 and result["rows"] >= 120

    # the submitted job's outputs land where a cluster run would put them
    viol = spark.read.parquet(str(tmp_path / "reports" / "violations"))
    # same corpus validated in-process must agree on violation rows
    from drain3_spark.validation.runner import ValidationConfig, ValidationEngine
    want = ValidationEngine(ValidationConfig(with_drift=False)).violations(
        clips, spark.read.parquet(ref_path)).count()
    assert viol.count() == want
