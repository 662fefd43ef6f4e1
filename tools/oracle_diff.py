#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps key by key.

Usage: python3 tools/oracle_diff.py <parent.json> <change.json>

Each file is the oracle_sql.json that `graft.Verify` writes into its
output directory (query name -> DuckDB oracle SQL). Prints every added,
removed and changed key, then a one-line summary. Exits 0 when both
files hold the same keys with byte-identical SQL, 1 otherwise.
"""
import json
import sys


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        old = json.load(f)
    with open(argv[2], encoding="utf-8") as f:
        new = json.load(f)
    added = sorted(new.keys() - old.keys())
    removed = sorted(old.keys() - new.keys())
    changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
    for k in added:
        print(f"ADDED    {k}")
    for k in removed:
        print(f"REMOVED  {k}")
    for k in changed:
        print(f"CHANGED  {k}")
    same = len(old.keys() & new.keys()) - len(changed)
    print(f"{len(added)} added, {len(removed)} removed, "
          f"{len(changed)} changed, {same} identical")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
