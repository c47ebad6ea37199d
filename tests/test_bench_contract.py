"""The benchmark (perfbench/run.py) passes the arguments
scripts/extract_job.py parses by default straight into run_pipeline,
and its --corrupt check wraps plans.job.run_extraction.  These tests
pin both, so renaming a CLI flag or a run_pipeline keyword fails here
instead of silently breaking the benchmark."""

import importlib.util
import inspect
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    """perfbench/run.py loaded as a module (it puts perfbench/ on
    sys.path for its own imports; the path is restored after)."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py")
    )
    module = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module


def test_cli_defaults_bind_to_run_pipeline(spark, bench):
    from ocr_pipeline_spark.plans.job import run_pipeline

    inspect.signature(run_pipeline).bind(
        spark, None, "warehouse", run_id="x", **bench.cli_defaults()
    )


def test_run_pipeline_calls_run_extraction_through_module(
    spark, tmp_path, monkeypatch, bench
):
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.plans import job

    class Reached(Exception):
        pass

    def run_extraction(*args, **kwargs):
        raise Reached

    monkeypatch.setattr(job, "run_extraction", run_extraction)
    with pytest.raises(Reached):
        job.run_pipeline(
            spark, generate_pages_df(spark, 20, 1), str(tmp_path), run_id="x",
            **bench.cli_defaults(),
        )
