"""Output checks. Each returns a list of error strings (empty = pass), so
the caller can count a call as failed and say why."""

from __future__ import annotations

import functools
import importlib.util
import math
import os


def fp_bound(n: int, b: int, f: int) -> float:
    """Largest false-positive count allowed among ``n`` absent probes:
    the sizing rule 2b/2^f plus four binomial standard deviations (and
    one, so a tiny ``n`` is not judged on a fraction of a hit)."""
    p = 2.0 * b / 2.0 ** f
    return n * p + 4.0 * math.sqrt(n * p * (1 - p)) + 1.0


def no_false_negatives(missing: int, members: int, what: str) -> list[str]:
    return [f"{what}: {missing} of {members} members reported absent"] \
        if missing else []


def fp_within_bound(false_pos: int, n: int, b: int, f: int, what: str) -> list[str]:
    limit = fp_bound(n, b, f)
    return [f"{what}: {false_pos} false positives in {n} absent probes "
            f"exceeds {limit:.1f} (2b/2^f + 4 sigma)"] if false_pos > limit else []


def at_least(value: float, floor: float, what: str) -> list[str]:
    return [f"{what}: {value} < {floor}"] if value < floor else []


def same_as(value, expected, what: str) -> list[str]:
    return [f"{what}: {value!r} != {expected!r}"] if value != expected else []


@functools.cache
def _entry_contract_normalize():
    """``_normalize`` from the repo's contract test, imported from its
    file so the benchmark compares results exactly as the test does."""
    path = os.path.join(os.getcwd(), "tests", "test_entry_contract.py")
    spec = importlib.util.spec_from_file_location("_perfbench_entry_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def oracle_rows(rows, cols) -> list[tuple]:
    return _entry_contract_normalize()(rows, cols)


def matches_oracle(got_rows, got_cols, want: list[tuple], want_cols,
                   what: str) -> list[str]:
    """Same comparison as the contract test: column set, row count, then
    values row by row after normalization (floats to 1e-9 relative)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{what}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    got = oracle_rows([tuple(r) for r in got_rows], got_cols)
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows != oracle {len(want)}"]
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) or isinstance(wv, float):
                ok = gv is not None and wv is not None and \
                    math.isclose(float(gv), float(wv), rel_tol=1e-9)
            else:
                ok = gv == wv
            if not ok:
                return [f"{what}: row {g!r} != oracle {w!r}"]
    return []
