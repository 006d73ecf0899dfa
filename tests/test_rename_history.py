"""The committed rename history as a standing check (no Spark session):
every entry satisfies the invariants it was applied under, and the
committed HASHLEDGER.json is exactly what folding its own CORRECTNESS
files through that history produces (what ``hash_ledger.py --check``
asserts)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import hash_ledger  # noqa: E402


def test_every_entry_holds_its_invariants():
    history = hash_ledger.load_history()  # raises on a broken entry
    tags = [e["tag"] for e in history]
    assert tags[0] == "r2" and "r6b" in tags and "r15" in tags
    assert len(set(tags)) == len(tags)


@pytest.mark.parametrize(
    "bad",
    [
        {"mapping": {"q001_a": "q002_b", "q002_b": "q001_a"}},  # suffix changes
        {"mapping": {"q001_a": "q002_a"}},  # no partner swap
        {"round": 1, "mapping": {"q001_a": "q002_a", "q002_b": "q001_b"}},  # order
    ],
)
def test_loader_rejects_a_broken_entry(tmp_path, monkeypatch, bad):
    history = hash_ledger.load_history() + [{"round": 16, "tag": "r16", **bad}]
    path = tmp_path / "rename_history.json"
    path.write_text(json.dumps(history))
    monkeypatch.setattr(hash_ledger, "HISTORY", path)
    with pytest.raises(ValueError):
        hash_ledger.load_history()


def test_committed_ledger_matches_its_folded_files():
    committed = json.loads((hash_ledger.ROOT / "HASHLEDGER.json").read_text())
    assert committed["untranslatable"] == {}
    assert hash_ledger.build(files=committed["folded_files"]) == committed
