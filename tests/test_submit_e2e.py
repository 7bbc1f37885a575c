"""Real ``spark-submit --py-files engine.zip`` end-to-end smoke.

BASELINE.json's north_rule ships the pipeline "via spark-submit
--py-files on a multi-executor cluster"; every other test drives the
job functions in-process. This test launches the ACTUAL spark-submit
binary as a subprocess from an empty working directory with the repo
stripped from PYTHONPATH, so the driver and executors can resolve the
``engine``/``jobs``/``pipeline`` packages ONLY from the zip built by
``jobs.submit.package`` — proving the shipped artifact is
self-contained, then proving encode AND decode+verify through it
(verify exits non-zero unless the decode is bit-identical).
"""

import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from jobs.synth import write_token_table  # noqa: E402


def _spark_submit() -> str | None:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    try:
        import pyspark
    except ImportError:
        return None
    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    return cand if os.path.exists(cand) else None


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    exe = _spark_submit()
    if exe is None:  # pragma: no cover - present in this sandbox
        pytest.skip("no spark-submit binary on this host")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from jobs.submit import package
    zip_path = package(repo_root=repo, out=str(tmp_path / "engine.zip"))

    inp = str(tmp_path / "tokens.parquet")
    write_token_table(spark, inp, rows=1500, partitions=2, seed=7)

    # empty cwd + repo stripped from PYTHONPATH: imports must come
    # from the zip, not from the checkout
    cwd = tmp_path / "scratch"
    cwd.mkdir()
    script = str(tmp_path / "submit_main.py")
    shutil.copyfile(os.path.join(repo, "jobs", "submit.py"), script)
    # SPARK_HOME/SPARK_CONF_DIR could inject local spark-defaults or
    # python paths; the pyspark-bundled spark-submit resolves its own
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_HOME", "SPARK_CONF_DIR")}
    env["ARROW_DEFAULT_MEMORY_POOL"] = "system"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    base = [exe, "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL=system",
            "--py-files", zip_path, script]
    blocks = str(tmp_path / "blocks")

    r = subprocess.run(base + ["encode", "--input", inp,
                               "--output", blocks,
                               "--partitions", "4"],
                       cwd=str(cwd), env=env, capture_output=True,
                       text=True, timeout=540)
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-2000:])
    assert '"n_rows": 1500' in r.stdout, r.stdout[-2000:]

    r = subprocess.run(base + ["verify", "--input", inp,
                               "--blocks", blocks],
                       cwd=str(cwd), env=env, capture_output=True,
                       text=True, timeout=540)
    # verify returns 0 iff the decoded table is bit-identical
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-2000:])
    assert '"identical": true' in r.stdout
