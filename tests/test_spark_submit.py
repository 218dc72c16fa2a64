"""The north-rule submission path, actually executed: `spark-submit
--py-files graphit_spark.zip jobs/run_kernel.py` with NO source
tree on the import path. The zip is built from the source tree into the
test's temp dir with the same builder as `jobs/package.py`. The job script is copied into a temp dir and
PYTHONPATH is scrubbed, so every `graphit_spark` import — driver side
AND executor side — must resolve from the shipped artifact alone. This
is the exact mechanism a real multi-executor cluster submission uses
(reference analogue: the generated GraphIt binary running standalone,
SURVEY.md §3 entry point 3); an incomplete zip fails here, not on the
cluster.
"""

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from graphit_spark.session import build_zip

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_artifact(tmp_path):
    job = tmp_path / "run_kernel.py"
    shutil.copy(os.path.join(ROOT, "jobs", "run_kernel.py"), job)
    out_dir = tmp_path / "ranks"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = "2"
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--py-files", build_zip(str(tmp_path / "graphit_spark.zip")),
            str(job),
            "--kernel", "pagerank",
            "--synth-vertices", "2000",
            "--max-iters", "5",
            "--output", str(out_dir),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, (
        f"spark-submit failed\nstdout: {res.stdout[-2000:]}\n"
        f"stderr: {res.stderr[-4000:]}"
    )
    # the job prints a one-line JSON report; the output table must be a
    # readable parquet with one row per vertex
    report = None
    for line in res.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"kernel"' in line:
            report = json.loads(line)
    assert report is not None, res.stdout[-2000:]
    assert report["kernel"] == "pagerank"
    n = (
        duckdb.connect()
        .execute(f"SELECT count(*) FROM '{out_dir}/*.parquet'")
        .fetchone()[0]
    )
    assert n == report["output_rows"] > 0
    assert n == report["vertices"]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_stream_job_artifact(tmp_path):
    """jobs/run_stream.py over the shipped zip alone: streaming exact
    dedup drains the sf0.001 documents table (availableNow) and lands
    the kept set as parquet — the resumable streaming submission path."""
    job = tmp_path / "run_stream.py"
    shutil.copy(os.path.join(ROOT, "jobs", "run_stream.py"), job)
    out_dir = tmp_path / "kept"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--py-files", build_zip(str(tmp_path / "graphit_spark.zip")),
            str(job),
            "--mode", "dedup",
            "--available-now",
            "--input", "/root/testdata/sf0.001",
            "--output", str(out_dir),
            "--checkpoint", str(tmp_path / "ck"),
            "--cpus", "2",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, (
        f"spark-submit failed\nstdout: {res.stdout[-2000:]}\n"
        f"stderr: {res.stderr[-4000:]}"
    )
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{out_dir}/*.parquet'"
    ).fetchone()[0]
    distinct = con.execute(
        "SELECT count(DISTINCT md5(text)) FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert n == distinct > 0


def test_run_stream_resubmission_resumes_not_reingests(tmp_path):
    """The resume contract the job advertises: submitting the same
    command twice must NOT re-ingest (the file source's seen-files log
    keys on absolute paths, so the single-file symlink dir has to be
    deterministic across submissions)."""
    out_dir = tmp_path / "kept"

    def submit():
        res = subprocess.run(
            [
                sys.executable, os.path.join(ROOT, "jobs", "run_stream.py"),
                "--mode", "dedup", "--available-now",
                "--input", "/root/testdata/sf0.001",
                "--output", str(out_dir),
                "--checkpoint", str(tmp_path / "ck"),
                "--cpus", "2",
            ],
            capture_output=True, text=True, timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        return (
            duckdb.connect()
            .execute(f"SELECT count(*) FROM '{out_dir}/*.parquet'")
            .fetchone()[0]
        )

    n1 = submit()
    n2 = submit()
    assert n1 == n2 > 0


def test_run_stream_resume_ingests_only_new_files(tmp_path):
    """True incremental resume: after a drain-and-exit run, append a
    new file and resubmit — only the NEW documents flow through, and
    duplicates of already-seen content stay suppressed by the carried
    state (first-seen contract across submissions)."""
    import pandas as pd

    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    out_dir = tmp_path / "kept"
    pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["alpha", "beta", "alpha"]}
    ).to_parquet(in_dir / "a.parquet")

    def submit():
        res = subprocess.run(
            [
                sys.executable, os.path.join(ROOT, "jobs", "run_stream.py"),
                "--mode", "dedup", "--available-now",
                "--input", str(in_dir),
                "--output", str(out_dir),
                "--checkpoint", str(tmp_path / "ck"),
                "--cpus", "2",
            ],
            capture_output=True, text=True, timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        return sorted(
            r[0] for r in duckdb.connect().execute(
                f"SELECT doc_id FROM '{out_dir}/*.parquet'"
            ).fetchall()
        )

    assert submit() == [0, 1]  # alpha keeps min id, duplicate dropped
    # new file: one genuinely new text, one duplicate of batch A's
    pd.DataFrame(
        {"doc_id": [3, 4], "text": ["beta", "gamma"]}
    ).to_parquet(in_dir / "b.parquet")
    # resume ingests ONLY b.parquet; 'beta' is suppressed by carried
    # state, 'gamma' ships
    assert submit() == [0, 1, 4]
