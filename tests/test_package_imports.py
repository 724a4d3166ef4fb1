"""Import hygiene of the ``frinesis_spark`` package."""

from __future__ import annotations

import pathlib
import subprocess
import sys
import warnings

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "frinesis_spark"


def test_sink_import_does_not_load_spark_or_numpy():
    """The Kinesis sink runs without Spark (a plain producer process,
    the stub-backed bench): importing it must not pull in pyspark or
    numpy through the package's ``__init__``."""
    code = (
        "import sys, frinesis_spark.sinks.kinesis\n"
        "heavy = sorted({'pyspark', 'numpy'} & set(sys.modules))\n"
        "assert not heavy, heavy\n"
        "from frinesis_spark import get_spark\n"
        "assert callable(get_spark)\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd=PACKAGE.parent, timeout=120
    )


@pytest.mark.parametrize(
    "path",
    sorted(PACKAGE.rglob("*.py")),
    ids=lambda p: str(p.relative_to(PACKAGE.parent)),
)
def test_module_compiles_without_warnings(path):
    """Invalid string escapes (``'\\z'`` in an oracle SQL string) and
    other compile-time warnings are errors."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(path.read_text(), str(path), "exec")
