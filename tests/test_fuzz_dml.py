"""DML scripts run through the engine and DuckDB must leave equal table
states after every statement and at every snapshot (the harness is
tests/fuzz_dml.py)."""

from __future__ import annotations

from tests.fuzz_dml import run_scripts


def test_dml_fuzz_pinned(spark, tmp_path):
    """Pinned slice for the suite: one script of each kind (plain DML,
    whole-file deletes, upserts) twice over, seed 4242.  The full sweep
    runs via ``python tests/fuzz_dml.py 30 4242``."""
    assert run_scripts(spark, 6, 4242, work_dir=str(tmp_path)) == 0
