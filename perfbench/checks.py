"""Pure helpers: the tail-percentile rule and result comparison.

No Spark here, so the self-test can exercise these without a session.
"""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ``TAIL_BEYOND``
    samples beyond it: ``(value, percentile, samples_beyond)``.

    That is the sample with exactly ten larger-ranked samples after it.
    With fewer than ``2 * TAIL_BEYOND + 1`` samples that percentile would
    lie below the median, which is no tail; such a run reports its
    maximum with ``samples_beyond`` 0.
    """
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    n = len(s)
    if n <= 2 * TAIL_BEYOND:
        return s[-1], 100.0, 0
    i = n - TAIL_BEYOND - 1
    return s[i], 100.0 * (i + 1) / n, TAIL_BEYOND


def compare_rows(srows, scols, drows, dcols) -> str | None:
    """Order-free comparison of Spark and DuckDB rows; ``None`` when equal.

    The value rule of the engine's oracle gate, ``tools/check_oracles.py``:
    same column names and row count, then an exact multiset of rows with
    floats rounded to 9 places, or failing that a cell-wise match under a
    1e-9 relative tolerance. Columns are matched by name.
    """
    from tools.check_oracles import only_float_noise, row_multiset

    if sorted(scols) != sorted(dcols):
        return f"columns differ: {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"row count {len(srows)} vs {len(drows)}"
    sm, dm = row_multiset(srows, scols), row_multiset(drows, dcols)
    if sm == dm or only_float_noise(srows, scols, drows, dcols):
        return None
    return f"values differ: first extra rows {list(sm - dm)[:2]} vs {list(dm - sm)[:2]}"
