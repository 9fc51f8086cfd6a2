"""spark-submit --py-files evidence (north_rule: "runs via spark-submit
--py-files on a multi-executor cluster").

Actually invokes the ``spark-submit`` launcher in a subprocess with the
package shipped ONLY as the --py-files zip (PYTHONPATH scrubbed, script
run from tools/ so the repo root is not importable) — proving the
artifact is self-contained the way a cluster executor would see it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = shutil.which("spark-submit")


def _run(argv, env):
    proc = subprocess.run(argv, capture_output=True, text=True, timeout=420, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


@pytest.mark.skipif(SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_build_and_query_from_pyfiles_zip(spark, tmp_path):
    zip_path = str(tmp_path / "searchengine_spark.zip")
    out = subprocess.run(
        ["python", os.path.join(REPO, "tools", "submit_job.py"), "--package", zip_path],
        capture_output=True, text=True, timeout=60,
    )
    assert "PACKAGED" in out.stdout and os.path.exists(zip_path)

    from searchengine_spark.sources.corpus import generate_corpus

    corpus_dir = str(tmp_path / "corpus")
    generate_corpus(spark, n_repos=2, files_per_repo=6).write.parquet(corpus_dir)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    idx = str(tmp_path / "idx")
    stdout = _run(
        [SUBMIT, "--master", "local[2]", "--py-files", zip_path,
         os.path.join(REPO, "tools", "submit_job.py"),
         "build", "--corpus", corpus_dir, "--out", idx,
         "--buckets", "2", "--salts", "2", "--store-content"],
        env,
    )
    line = next(l for l in stdout.splitlines() if l.startswith("BUILD_RESULT "))
    metrics = json.loads(line[len("BUILD_RESULT "):])
    assert metrics["n_docs"] > 0 and metrics["postings"] > 0
    assert os.path.exists(os.path.join(idx, "meta.json"))

    stdout = _run(
        [SUBMIT, "--master", "local[2]", "--py-files", zip_path,
         os.path.join(REPO, "tools", "submit_job.py"),
         "query", "--index", idx, "--query", "index"],
        env,
    )
    line = next(l for l in stdout.splitlines() if l.startswith("QUERY_RESULT "))
    res = json.loads(line[len("QUERY_RESULT "):])
    assert res["result"] is True and res["count"] >= 0
