"""End-to-end `spark-submit --py-files` submission (the north-rule flow).

The cluster contract is: ONE zip artifact + one job script, submitted
with `spark-submit --py-files spacy_llm_spark.zip scripts/run_kg_job.py`
and re-sized purely via --master/--conf (BASELINE.json north_rule). This
test runs that exact flow in a fresh JVM: the job script is copied
OUTSIDE the repo first, so its `sys.path` bootstrap points at an empty
directory and the package can only be imported from the --py-files zip —
a stale or incomplete zip fails the submit instead of silently running
repo code.
"""

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this host"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path, sf_dir):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import make_pyfiles_zip

    zip_path = make_pyfiles_zip.main(str(tmp_path / "spacy_llm_spark.zip"))

    script = tmp_path / "run_kg_job.py"
    shutil.copyfile(os.path.join(REPO, "scripts", "run_kg_job.py"), script)
    out_dir = tmp_path / "kg_out"

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(script),
            "--source", sf_dir,
            "--output", str(out_dir),
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["n_triples"] > 0

    # the sinks landed and agree with the job's own count
    con = duckdb.connect()
    n_edges = con.execute(
        "SELECT count(*) FROM parquet_scan(?)",
        [str(out_dir / "canonical_edges" / "*.parquet")],
    ).fetchone()[0]
    n_mentions = con.execute(
        "SELECT count(*) FROM parquet_scan(?)",
        [str(out_dir / "mentions" / "*.parquet")],
    ).fetchone()[0]
    assert n_edges == report["n_triples"]
    assert n_mentions > 0


def test_tracked_pyfiles_zip_is_current(tmp_path):
    """dist/spacy_llm_spark.zip is what spark-submit ships: it must be the
    zip that scripts/make_pyfiles_zip.py builds from the package source
    now, byte for byte. Rebuild it with
    ``python scripts/make_pyfiles_zip.py`` after changing the package."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import make_pyfiles_zip

    built = make_pyfiles_zip.main(str(tmp_path / "spacy_llm_spark.zip"))
    with open(built, "rb") as f, open(
        os.path.join(REPO, "dist", "spacy_llm_spark.zip"), "rb"
    ) as g:
        assert f.read() == g.read(), "stale dist/spacy_llm_spark.zip"
