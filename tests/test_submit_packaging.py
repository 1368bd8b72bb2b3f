"""spark-submit --py-files packaging smoke (the north rule's execution
mode): build the zip, submit the job against ONLY the zip (cwd moved away so
the package can't be picked up from the repo), assert the JSON result."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_with_py_files_zip(tmp_path):
    subprocess.run([os.path.join(REPO, "tools", "package.sh")], check=True,
                   capture_output=True)
    zip_path = os.path.join(REPO, "dist", "omnition_spark.zip")
    assert os.path.exists(zip_path)

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__),
                                    "bin", "spark-submit")
    assert os.path.exists(spark_submit)

    cfg = tmp_path / "job.yaml"
    cfg.write_text(f"""
receivers:
  payloads:
    type: fixture_payloads
    n_rows: 200
processors:
  parse: {{}}
exporters:
  sinks:
    type: parquet
    path: {tmp_path}/sinks
pipelines:
  traces:
    receivers: [payloads]
    processors: [parse]
    exporters: [sinks]
""")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "run_pipeline.py"),
         "--config", str(cfg)],
        cwd=str(tmp_path),  # away from the repo: only the zip provides the pkg
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    out = json.loads(line)
    assert out["pipeline"] == "traces"
    assert out["routed_rows"] > 0
    assert out["sink_counts"]["sink_archive"] == 190  # 200 minus 5% malformed
    assert os.path.isdir(f"{tmp_path}/sinks")


@pytest.mark.slow
def test_spark_submit_release_job_with_zip(tmp_path):
    """The release job runs under the same packaging mode: zip-only imports
    (cwd away from the repo), counters + per-split JSON on stdout."""
    subprocess.run([os.path.join(REPO, "tools", "package.sh")], check=True,
                   capture_output=True)
    zip_path = os.path.join(REPO, "dist", "omnition_spark.zip")

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__),
                                    "bin", "spark-submit")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "make_release.py"),
         "--n-rows", "400", "--out", str(tmp_path / "rel"),
         "--shards", "4", "--epoch-weights", "web=2.0"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    out = json.loads(line)
    assert set(out["per_split"]) <= {"train", "val", "test"}
    assert out["per_split"]["train"][0] > 0
    counters = {(c[0], c[1]): (c[2], c[3]) for c in out["counters"]}
    assert counters[("dedup_exact", "sequences")][0] == 400
    assert os.path.isdir(f"{tmp_path}/rel")
