"""Shared test configuration.

Hash-seed strategy (SURVEY.md §1.4): the reference's ``list(set(...))``
orderings depend on the process hash seed.  Unit tests compare the engine
against the in-process oracle — both see the same seed, so they are
seed-agnostic.  Spark e2e tests compare executor output (workers pinned to
``PYTHONHASHSEED=0`` by the session factory) against the oracle run in a
subprocess pinned to the same seed (``tests/oracle_cli.py``); no re-exec
of pytest is needed.
"""

from __future__ import annotations

import os
import sys

# Exported so the Spark JVM (launched later from this process) and any
# oracle subprocesses inherit a pinned seed; does not (and need not)
# change this interpreter's own hashing.
os.environ.setdefault("PYTHONHASHSEED", "0")
# The test inputs are MB-sized, so the driver gets 2 GB, perfbench's
# value, not get_spark's 8 GB default (the local-mode JVM grew into
# that on a shared host).
os.environ.setdefault("PEX2_DRIVER_MEM", "2g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from pdf_extractor2_spark.session import get_spark

    return get_spark(app_name="pex2-tests", cores=4, shuffle_partitions=8)


@pytest.fixture(scope="session")
def reference():
    from oracle import load_reference, skip_if_reference_absent

    skip_if_reference_absent()
    return load_reference()
