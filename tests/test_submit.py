"""The north-rule shipping path, driven for real: package the engine into
a --py-files zip, spark-submit tools/submit_job.py onto a local-cluster
master (separate executor JVMs), and check the written results — without
the repo on the job's PYTHONPATH (the zip is the only source of the
package). Also drives the interrupt/resume flow through the same CLI."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit():
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_path_factory):
    out = subprocess.run(
        ["bash", os.path.join(REPO, "tools", "package_pyfiles.sh")],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return os.path.join(REPO, "dist", "gds_spark.zip")


def _run(args, cwd, timeout=420):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return subprocess.run(args, capture_output=True, text=True,
                          timeout=timeout, cwd=cwd, env=env)


def test_spark_submit_pyfiles_pagerank(pyfiles_zip, tmp_path):
    """spark-submit --py-files on local-cluster[2,2,1024]: 2 real executor
    JVMs, generated graph, PageRank to convergence, parquet + metrics."""
    outdir = str(tmp_path / "scores")
    script = os.path.join(str(tmp_path), "submit_job.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_job.py"), script)

    res = _run(
        [
            _spark_submit(),
            "--master", "local-cluster[2,2,1024]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.executor.memory=1024m",
            "--conf", "spark.ui.enabled=false",
            "--py-files", pyfiles_zip,
            script,
            "--generate-nodes", "2000", "--algo", "pagerank",
            "--tolerance", "1e-4",
            "--output", outdir,
        ],
        cwd=str(tmp_path),  # NOT the repo: the zip must provide the package
    )
    assert res.returncode == 0, res.stderr[-4000:]
    mline = [ln for ln in res.stdout.splitlines() if ln.startswith("METRICS ")]
    assert mline, res.stdout[-2000:]
    meta = json.loads(mline[0][8:])
    assert meta["didConverge"] is True
    assert meta["rows"] == 2000
    with open(outdir.rstrip("/") + "_metrics.json") as f:
        assert json.load(f) == meta


def test_spark_submit_resume_flow(pyfiles_zip, tmp_path):
    """Interrupt/resume through the CLI: 4 fixed iterations with a
    checkpoint dir, then --resume to 8; equals an uninterrupted 8-iter run
    (the north rule's mid-iteration resumability, via the shipped job)."""
    script = os.path.join(str(tmp_path), "submit_job.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_job.py"), script)
    ckpt = str(tmp_path / "ckpt")
    common = [
        _spark_submit(), "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=2",
        "--conf", "spark.ui.enabled=false",
        "--py-files", pyfiles_zip, script,
        "--generate-nodes", "500", "--algo", "pagerank",
        "--tolerance", "0",
    ]
    r1 = _run(common + ["--max-iterations", "4", "--checkpoint-dir", ckpt,
                        "--output", str(tmp_path / "p1")], cwd=str(tmp_path))
    assert r1.returncode == 0, r1.stderr[-4000:]
    r2 = _run(common + ["--max-iterations", "8", "--checkpoint-dir", ckpt,
                        "--resume", "--output", str(tmp_path / "p2")],
              cwd=str(tmp_path))
    assert r2.returncode == 0, r2.stderr[-4000:]
    r3 = _run(common + ["--max-iterations", "8",
                        "--output", str(tmp_path / "p3")], cwd=str(tmp_path))
    assert r3.returncode == 0, r3.stderr[-4000:]

    import pandas as pd

    def scores(d):
        import glob
        files = glob.glob(str(d) + "/*.parquet")
        df = pd.concat([pd.read_parquet(f) for f in files])
        return df.set_index("vid")["score"].sort_index()

    resumed, straight = scores(tmp_path / "p2"), scores(tmp_path / "p3")
    assert ((resumed - straight).abs().max()) < 1e-12
