"""tools/run_slt_sweep.py fails loudly when there is no corpus."""

import importlib.util
import os

import pytest


@pytest.mark.parametrize("argv", [[], ["--pins"], ["--all", "duckdb/sql/**/*.test"]])
def test_sweep_without_suites_exits_2_before_spark(tmp_path, monkeypatch, argv):
    import databend_spark.session as session

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "run_slt_sweep.py")
    spec = importlib.util.spec_from_file_location("run_slt_sweep", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    def no_spark(*_a, **_k):
        raise AssertionError("the sweep started Spark")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(tool, "ROOT", str(tmp_path / "missing") + "/")
    assert tool.main(argv) == 2
