#!/usr/bin/env python
"""Fold a fresh clean-run bench into bench_expected.json.

Default: per-query MIN over the existing expectation and the new run
(expectations only ever describe the machine's demonstrated capability).
``--replace name ...``: queries whose SOURCE changed get their
expectation REPLACED by the new measurement — the old best may be
structurally unreachable (e.g. a memory-decade rework that trades wall
for bounded state), and keeping it would make the churn pin re-sample
them on every future run.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replace", nargs="*", default=[])
    ap.add_argument("--src", default="bench_verbose_last.json")
    args = ap.parse_args()

    fresh = json.loads((ROOT / args.src).read_text())["queries_best"]
    path = ROOT / "bench_expected.json"
    doc = json.loads(path.read_text()) if path.exists() else {}
    old = doc.get("queries_best", {})
    replace = set(args.replace)
    out = {}
    for name, v in sorted(fresh.items()):
        if name in replace or name not in old:
            out[name] = v
        else:
            out[name] = min(old[name], v)
    dropped = sorted(set(old) - set(fresh))
    doc["queries_best"] = out
    path.write_text(json.dumps(doc, indent=1) + "\n")
    print(
        f"refreshed {len(out)} entries ({len(replace & set(fresh))} replaced,"
        f" {len(dropped)} dropped: {dropped})"
    )


if __name__ == "__main__":
    main()
