"""Full-registry oracle sweep at sf0.01 as a (gated) test.

Tier-1 already checks every registry entry against its DuckDB oracle
at sf0.001 (``tests/test_gate_head.py``); this test runs the same
sweep at the driver's scale, sf0.01 by default. It takes several
minutes, so it only runs when explicitly requested:

    SPARKOBS_FULL_SWEEP=1 python -m pytest tests/test_oracle_sweep.py -q

or via ``make sweep`` (the standalone checker, same code path).
"""

import os

import pytest


@pytest.mark.skipif(
    not os.environ.get("SPARKOBS_FULL_SWEEP"),
    reason="full oracle sweep is slow; set SPARKOBS_FULL_SWEEP=1 (or run `make sweep`)",
)
def test_full_registry_oracle_sweep():
    from tools.check_oracle import main

    sf_dir = os.environ.get("SPARKOBS_SWEEP_SF_DIR", "/root/testdata/sf0.01")
    assert main([sf_dir]) == 0, "oracle sweep reported failures (see stdout)"
