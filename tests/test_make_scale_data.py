"""tools/make_scale_data.py: a source directory without parquet files
stops the script before Spark starts, with one message and a non-zero
exit status."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest


def _tool():
    path = pathlib.Path(__file__).resolve().parent.parent / "tools" / "make_scale_data.py"
    spec = importlib.util.spec_from_file_location("make_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("make_dir", [True, False], ids=["empty", "missing"])
def test_source_without_parquet_exits_nonzero(tmp_path, capsys, make_dir):
    src = tmp_path / "sf0.1"
    if make_dir:
        src.mkdir()
        (src / "README.txt").write_text("no tables here")
    out = tmp_path / "out"
    assert _tool().main(["--src", str(src), str(out)]) == 2
    captured = capsys.readouterr()
    assert captured.err.splitlines() == [f"make_scale_data: no parquet files in {src}"]
    assert captured.out == ""
    assert not out.exists()
