"""Two writer engines over one catalog store, from real threads: every
interleaving must equal a serial replay of its committed statements
(the harness is tests/fuzz_concurrency.py)."""

from __future__ import annotations

from tests.fuzz_concurrency import run_interleaving


def test_concurrency_fuzz_pinned(spark, tmp_path):
    """Pinned fuzz slice for the suite: 4 randomized two-writer
    interleavings (seeds 600-603), zero divergences, and at least one
    genuine ConcurrentWriteError→refresh→retry exercised.  The full
    30-interleaving sweep runs via ``python tests/fuzz_concurrency.py``."""
    total_conflicts = 0
    for seed in range(600, 604):
        conflicts, divergence = run_interleaving(
            spark, str(tmp_path), seed, n_stmts=5
        )
        assert divergence is None, divergence
        total_conflicts += conflicts
    assert total_conflicts >= 1, (
        "no write-write conflict was ever provoked — the harness lost "
        "its interleaving pressure"
    )
