"""Fixtures for the benchmark's self-test.

Run from the root of the repository::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The session is pinned the way ``perfbench/run.py`` pins it, but into a
pytest temp directory.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def run_dir(tmp_path_factory) -> str:
    from perfbench.run import pin_environment

    d = str(tmp_path_factory.mktemp("perfbench"))
    pin_environment(d, eventlog=True)
    return d


@pytest.fixture(scope="session")
def spark(run_dir):
    from perfbench.run import start_session, stop_session

    s = start_session(run_dir)
    yield s
    stop_session(jvm_too=True)
