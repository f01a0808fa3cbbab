"""The DuckDB oracle process, and the memory sampler that leaves it out.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import time

import pytest

from perfbench.harness import RssSampler, process_tree
from perfbench.oracle import Oracle


def test_oracle_answers_in_its_own_process_and_reports_errors():
    oracle = Oracle()
    try:
        assert oracle.query("SELECT 1 + 1, 'a'") == [(2, "a")]
        with pytest.raises(RuntimeError, match="oracle"):
            oracle.query("SELECT * FROM no_such_table")
        assert oracle.query("SELECT 42") == [(42,)]  # still serving after an error
        assert oracle.proc.pid in process_tree(os.getpid())
        assert oracle.proc.pid not in process_tree(os.getpid(), {oracle.proc.pid})
        assert RssSampler({oracle.proc.pid}).sample() < RssSampler(set()).sample()
    finally:
        oracle.close()
    assert oracle.proc.returncode == 0


def test_the_sampler_records_only_while_active():
    with RssSampler(set()) as rss:
        time.sleep(0.5)
        assert rss.peak == 0
        rss.active.set()
        time.sleep(0.5)
        rss.active.clear()
    assert rss.peak > 0
