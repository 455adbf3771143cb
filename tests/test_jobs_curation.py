"""jobs/run_curation.py: an incremental index records the text domain
it was built in, and a run that normalizes differently is refused."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "run_curation.py")


def _job_main():
    spec = importlib.util.spec_from_file_location("run_curation", JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def test_run_curation_refuses_index_of_other_text_domain(spark, tmp_path):
    main = _job_main()
    docs = str(tmp_path / "docs")
    idx = str(tmp_path / "key_index")
    spark.createDataFrame(
        [
            (i, f"document {i} talks about the weather in town number {i}. "
                "The sun was out and the streets were busy all afternoon.")
            for i in range(6)
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(docs)
    base = ["--docs", docs, "--key-index", idx, "--update-index"]

    assert main([*base, "--out", str(tmp_path / "out1")]) == 0
    assert os.path.isdir(os.path.join(idx, "_domain"))

    with pytest.raises(ValueError, match="keys would not match"):
        main([*base, "--out", str(tmp_path / "out2"), "--scrub-pii"])
