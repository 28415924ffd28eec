#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps written by graft.Verify.

Usage: python3 tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

Each dump embeds the absolute path of the checkout it ran from (the
committed fixtures dir, `<checkout>/fixtures/...`), so two checkouts of the
same code differ there only. The tool replaces each dump's own checkout
path with `<checkout>`, compares the gates key by key, and prints the
added, removed and changed gate names. Exits 1 on any difference, 0 when
every gate's oracle SQL is identical.
"""
import collections
import json
import re
import sys

FIXTURE_REF = re.compile(r"(/[^\s'\"(),]*)/fixtures/")


def checkout_root(oracles):
    """The most common directory holding `fixtures/` across the dump."""
    roots = collections.Counter(
        m.group(1) for sql in oracles.values() for m in FIXTURE_REF.finditer(sql))
    return roots.most_common(1)[0][0] if roots else None


def load(path):
    with open(path) as f:
        oracles = json.load(f)
    root = checkout_root(oracles)
    if root is None:
        return oracles, None
    return {k: v.replace(root + "/", "<checkout>/") for k, v in oracles.items()}, root


def main(a_path, b_path):
    a, a_root = load(a_path)
    b, b_root = load(b_path)
    print(f"a: {len(a)} gates, checkout {a_root}")
    print(f"b: {len(b)} gates, checkout {b_root}")
    added = sorted(b.keys() - a.keys())
    removed = sorted(a.keys() - b.keys())
    changed = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    for label, names in (("added", added), ("removed", removed),
                         ("changed", changed)):
        for n in names:
            print(f"{label} {n}")
    if added or removed or changed:
        print(f"{len(added)} added, {len(removed)} removed, {len(changed)} changed")
        return 1
    print(f"all {len(a)} gates identical")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
