"""Correctness checks on workload outputs.  None of them is timed.

Each check returns a list of problems; an empty list means the output
is correct.  A unit with any problem counts as failed.
"""

from __future__ import annotations

import hashlib

MIN_F1 = 0.99


def rows_digest(rows) -> tuple[int, str]:
    """Row count and an order-independent digest of ``(url, text)`` rows."""
    h = hashlib.sha256()
    keys = sorted(f"{url}\x00{text}" for url, text in rows)
    for k in keys:
        h.update(k.encode("utf-8", "surrogatepass"))
        h.update(b"\x01")
    return len(keys), h.hexdigest()


def keep_f1(kept_urls: set[str], expected_keep: dict[str, bool]) -> float:
    """F1 of the kept set against planted keep/drop labels."""
    tp = sum(1 for u in kept_urls if expected_keep.get(u, False))
    fp = len(kept_urls) - tp
    fn = sum(1 for u, keep in expected_keep.items() if keep and u not in kept_urls)
    if tp == 0:
        return 0.0
    precision, recall = tp / (tp + fp), tp / (tp + fn)
    return 2 * precision * recall / (precision + recall)


def check_epoch(
    gate_success: dict[str, bool],
    gold_rows,
    expected_keep: dict[str, bool],
    reference_digest: tuple[int, str] | None,
) -> tuple[list[str], tuple[int, str]]:
    """Checks on one pipeline epoch: every gate passed, gold equals the
    reference epoch's gold, and keep/drop F1 against the labels is at
    least ``MIN_F1``.  Returns the problems and this epoch's digest."""
    problems = [f"gate {name} failed" for name, ok in gate_success.items() if not ok]
    if set(gate_success) != {"source", "silver", "kept", "gold"}:
        problems.append(f"gates run: {sorted(gate_success)}")
    digest = rows_digest(gold_rows)
    if reference_digest is not None and digest != reference_digest:
        problems.append(
            f"gold differs from the reference epoch: {digest[0]} rows "
            f"vs {reference_digest[0]}"
        )
    f1 = keep_f1({url for url, _ in gold_rows}, expected_keep)
    if f1 < MIN_F1:
        problems.append(f"keep/drop F1 {f1:.4f} < {MIN_F1}")
    return problems, digest


def check_queries(results: dict, oracle: dict, compare) -> list[str]:
    """Each query's result equals its DuckDB twin's under ``compare``
    (``tools/check_oracle.compare``: row count, column names, values)."""
    problems = []
    for name, got in results.items():
        if name not in oracle:
            problems.append(f"{name}: no oracle result")
            continue
        problems += [f"{name}: {p}" for p in compare(name, got, oracle[name])]
    return problems
