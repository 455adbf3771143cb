"""jobs/run_pipeline.py in batch mode: a rerun of a committed batch id
skips, and another run id over the same --out is refused."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "run_pipeline.py")


def _job_main():
    spec = importlib.util.spec_from_file_location("run_pipeline", JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def test_run_pipeline_skips_committed_batch_and_refuses_foreign_run(
    spark, tmp_path, capsys
):
    main = _job_main()
    out = str(tmp_path / "out")
    args = ["--generate", "500", "--out", out, "--run-id", "a"]

    assert main(args) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["run_id"] == "a" and first["rows_in"] == 500

    assert main(args) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again == {"mode": "batch", "batch_id": 0, "skipped": "already committed"}

    with pytest.raises(SystemExit) as exc:
        main(["--generate", "500", "--out", out, "--run-id", "b"])
    assert exc.value.code == 2
    assert "ONE logical stream" in capsys.readouterr().err
