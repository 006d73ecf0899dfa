#!/usr/bin/env python
"""Apply the newest rename-history entry to the source tree.

A window rotation is recorded by appending one entry to
``tools/rename_history.json`` (pairwise number swaps, suffixes kept;
``hash_ledger.load_history`` rejects anything else). This script then
rewrites every occurrence of the entry's old names in the package, the
tests and the files below. Re-running it is a no-op: a swapped name is
never an old key of the same entry.

Usage:  python tools/apply_rename.py
"""

from __future__ import annotations

import re

from hash_ledger import ROOT, load_history


def main() -> None:
    entry = load_history()[-1]
    mapping = entry["mapping"]
    pat = re.compile(
        "|".join(re.escape(k) for k in sorted(mapping, key=len, reverse=True))
    )
    targets = [
        *ROOT.glob("cubicerp_client_etl_spark/**/*.py"),
        *ROOT.glob("tests/**/*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ROOT / "tools" / "oracle_sweep.py",
        ROOT / "tools" / "plan_digest.py",
        ROOT / "tools" / "scale_census.py",
        ROOT / "README.md",
        ROOT / "SURVEY.md",
    ]
    for path in targets:
        text = path.read_text()
        new, n = pat.subn(lambda m: mapping[m.group(0)], text)
        if n:
            path.write_text(new)
            print(f"{path}: {n} replacements")
    print(f"applied {entry['tag']} ({len(mapping)} names)")


if __name__ == "__main__":
    main()
