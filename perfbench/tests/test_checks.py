"""Each correctness check passes on good output and fails on tampered output."""

from __future__ import annotations

import pandas as pd

from perfbench.checks import check_epoch, check_queries, keep_f1, rows_digest
from tools.check_oracle import compare

GATES_OK = {"source": True, "silver": True, "kept": True, "gold": True}


def _epoch_fixture(n: int = 200):
    labels = {f"u{i}": i % 3 != 0 for i in range(n)}
    gold = [(u, f"text of {u}") for u, keep in labels.items() if keep]
    return labels, gold


def test_digest_is_order_independent():
    _, gold = _epoch_fixture()
    assert rows_digest(gold) == rows_digest(list(reversed(gold)))


def test_good_epoch_passes():
    labels, gold = _epoch_fixture()
    problems, ref = check_epoch(GATES_OK, gold, labels, None)
    assert problems == []
    problems, digest = check_epoch(GATES_OK, list(reversed(gold)), labels, ref)
    assert problems == [] and digest == ref


def test_removed_gold_row_fails():
    labels, gold = _epoch_fixture()
    _, ref = check_epoch(GATES_OK, gold, labels, None)
    problems, _ = check_epoch(GATES_OK, gold[1:], labels, ref)
    assert any("differs from the reference" in p for p in problems)


def test_changed_gold_text_fails():
    labels, gold = _epoch_fixture()
    _, ref = check_epoch(GATES_OK, gold, labels, None)
    tampered = [(gold[0][0], gold[0][1] + "!")] + gold[1:]
    problems, _ = check_epoch(GATES_OK, tampered, labels, ref)
    assert problems


def test_failed_gate_fails():
    labels, gold = _epoch_fixture()
    problems, _ = check_epoch({**GATES_OK, "kept": False}, gold, labels, None)
    assert problems == ["gate kept failed"]
    problems, _ = check_epoch({"source": True}, gold, labels, None)
    assert problems


def test_low_f1_fails():
    labels, gold = _epoch_fixture()
    dropped = [u for u, keep in labels.items() if not keep]
    tampered = gold + [(u, "kept by mistake") for u in dropped[:10]]
    assert keep_f1({u for u, _ in tampered}, labels) < 0.99
    problems, _ = check_epoch(GATES_OK, tampered, labels, None)
    assert any("F1" in p for p in problems)


def _query_fixture():
    return pd.DataFrame({"query_id": [0, 0, 1], "neighbor_id": [3, 5, 7], "score": [0.9, 0.8, 0.7]})


def test_matching_query_passes():
    got = _query_fixture()
    oracle = {"q": got.iloc[::-1].reset_index(drop=True)}
    assert check_queries({"q": got}, oracle, compare) == []


def test_changed_query_row_fails():
    got = _query_fixture()
    bad = got.copy()
    bad.loc[1, "neighbor_id"] = 6
    assert check_queries({"q": bad}, {"q": got}, compare)


def test_missing_query_row_or_oracle_fails():
    got = _query_fixture()
    assert check_queries({"q": got.iloc[:2]}, {"q": got}, compare)
    assert check_queries({"q": got}, {}, compare)
