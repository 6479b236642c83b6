#!/usr/bin/env python
"""Merge a verify_oracle.py sf1-drive log into scale_parity.json.

A parity sweep re-drives the queries an edit could affect at sf1 and
merges the per-query outcomes over the standing artifact
(untouched rows carry forward — values are deterministic, so a green
row stays green until its module closure changes). This was an inline
snippet re-written each round (r7-r12); committing it makes the merge
mechanical and keeps the two failure modes it has hit before fixed:
the log must be a FILE capture of the whole drive (a `| tail` once
ate the per-query lines, r12), and the check value is
"oracle_exact"/"rows_only" — never "exact" (r8 mislabel).

Run: python scripts/merge_parity.py /tmp/drive_r13.log note_r13 "text"
"""

from __future__ import annotations

import json
import os
import re
import sys

PATH = os.path.abspath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "scale_parity.json"
))

OK_RE = re.compile(r"\[\s*\d+\] (\w+): OK \((\d+) rows\)")
RO_RE = re.compile(r"\[\s*\d+\] (\w+): rows-only (\d+)")
BAD_RE = re.compile(
    r"\[\s*\d+\] (\w+): (COLS MISMATCH|ROWS |VALUES DIFFER|ERROR )"
)


def main(log_path: str, note_key: str, note_text: str) -> None:
    text = open(log_path).read()
    bad = BAD_RE.findall(text)
    assert not bad, f"drive log has failures — fix before merging: {bad}"
    rows = {
        name: {"check": "oracle_exact", "rows": int(n)}
        for name, n in OK_RE.findall(text)
    }
    rows.update({
        name: {"check": "rows_only", "rows": int(n)}
        for name, n in RO_RE.findall(text)
    })
    assert rows, "no per-query lines found — was the log truncated?"
    data = json.load(open(PATH))
    data["queries"].update(rows)
    meta = data["meta"]
    meta["n_oracle_exact"] = sum(
        1 for v in data["queries"].values() if v["check"] == "oracle_exact"
    )
    meta["n_rows_only"] = sum(
        1 for v in data["queries"].values() if v["check"] == "rows_only"
    )
    meta["failures"] = 0
    wall = re.search(r"^([\d.]+)s; failures: 0$", text, re.M)
    meta[note_key] = (
        f"{note_text} ({len(rows)} queries re-driven"
        + (f" in {wall.group(1)}s" if wall else "")
        + "; untouched rows carried)"
    )
    with open(PATH, "w") as f:
        json.dump(data, f, indent=1)
        f.write("\n")
    print(f"merged {len(rows)} rows; oracle_exact="
          f"{meta['n_oracle_exact']} rows_only={meta['n_rows_only']}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
