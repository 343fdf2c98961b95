"""bench.local_session is the one home of the local-measurement session:
shuffle partitions and heap sized from the input bytes, AQE and
constraint propagation off. bench.py's regimes and the scripts under
scripts/ take their session from it instead of copying the sizing."""

from __future__ import annotations

import inspect
import os
import pathlib
import re
from unittest import mock

import pytest

import bench

ROOT = pathlib.Path(bench.__file__).resolve().parent


def _lake(tmp_path, nbytes: int) -> str:
    """An sf_dir whose one table directory holds ``nbytes`` (sparse)."""
    table = tmp_path / "lineitem.parquet"
    table.mkdir()
    with open(table / "part-0.parquet", "wb") as fh:
        fh.truncate(nbytes)
    return str(tmp_path)


@pytest.mark.parametrize(
    "cpus, nbytes, shuffle, heap",
    [
        (4, 1 << 10, 8, "8g"),  # floor of 8 even below 8 cores
        (64, 100 << 20, 25, "8g"),  # ~4MB of input per partition
        (16, 400 << 20, 16, "10g"),  # capped at the core count
        (64, 2 << 30, 64, "49g"),  # 24x the input bytes + 1 GB
    ],
)
def test_local_session_sizes_from_input(
    tmp_path, monkeypatch, cpus, nbytes, shuffle, heap
):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    fake = mock.MagicMock()
    monkeypatch.setattr(bench, "get_spark", fake)
    wh = str(tmp_path / "wh")
    spark = bench.local_session("sizing", _lake(tmp_path, nbytes), {"w": wh})
    assert spark is fake.return_value
    (app,), kw = fake.call_args
    assert app == "sizing"
    assert kw["shuffle_partitions"] == shuffle
    assert kw["extra_conf"] == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
        "w": wh,
    }
    assert os.environ["SPARK_GRAFT_DRIVER_MEM"] == heap
    spark.range.assert_called_once_with(1_000_000)  # JVM warmup


def test_sizing_knobs_have_one_home():
    """No env var overrides the measurement sizing, and the ~4MB-per-
    partition rule is written once, in bench.local_session."""
    files = [
        ROOT / "bench.py",
        *(ROOT / "scripts").glob("*.py"),
        *(ROOT / "cell_kn_mvp_etl_results_spark").rglob("*.py"),
    ]
    knobs = [
        p.name for p in files
        if re.search(r"SPARK_GRAFT_(AQE|SHUFFLE)\b", p.read_text())
    ]
    assert knobs == []
    rule = re.compile(r"(?<!\d)4 << 20\b")
    hits = [p.name for p in files for _ in rule.finditer(p.read_text())]
    assert hits == ["bench.py"]
    assert rule.search(inspect.getsource(bench.local_session))
