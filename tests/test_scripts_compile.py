"""Every scripts/*.py byte-compiles. Apart from scaling.py (imported by
test_scaling_driver.py) and run_validation_job.py (run by test_cli_job.py)
no test runs the scripts, so this is what catches a syntax error in one."""

import py_compile
from pathlib import Path

import pytest

SCRIPTS = sorted((Path(__file__).resolve().parents[1] / "scripts").glob("*.py"))


def test_scripts_found():
    assert len(SCRIPTS) >= 10


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_byte_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "script.pyc"),
                       doraise=True)
