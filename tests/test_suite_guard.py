"""The strict ``SLOW_TESTS`` check in conftest.py runs whenever the whole
test directory is collected, whatever its size, and never for one file
or one node id."""

from __future__ import annotations

import pathlib
from types import SimpleNamespace

import conftest

HERE = pathlib.Path(conftest.__file__).resolve().parent


def _config(*args, cwd=HERE.parent):
    return SimpleNamespace(args=list(args),
                           invocation_params=SimpleNamespace(dir=cwd))


def test_whole_directory_arms_the_check():
    assert conftest._collects_whole_suite(_config("tests"))
    assert conftest._collects_whole_suite(_config("tests/"))
    assert conftest._collects_whole_suite(_config(str(HERE)))
    assert conftest._collects_whole_suite(_config(".", cwd=HERE))
    # no path argument: pytest collects from the invocation directory
    assert conftest._collects_whole_suite(_config(str(HERE.parent)))


def test_one_file_or_node_leaves_it_off():
    assert not conftest._collects_whole_suite(
        _config("tests/test_read_plan.py"))
    assert not conftest._collects_whole_suite(
        _config("tests/test_read_plan.py::test_bucket_boundaries"))
    assert not conftest._collects_whole_suite(_config("perfbench"))
