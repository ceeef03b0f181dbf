#!/usr/bin/env python3
"""Compare two `graft.tools.Probe plans` dumps after normalising the parts
of a formatted plan that change between runs without changing the plan:
expression ids (`#123`), file paths (scratch dirs, warehouses), lambda
instance names, and RDD ids with their source line in `localCheckpoint`
scans.

Usage: python3 tools/plan_diff.py <oldDir> <newDir>
Prints the number of plans compared and every file whose normalised plan
differs or is missing from <newDir>; exits 1 if any does.
"""
import os
import re
import sys


def norm(t: str) -> str:
    t = re.sub(r'\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+', '$$Lambda', t)
    t = re.sub(r'#\d+L?', '#N', t)
    t = re.sub(r'(file:)?/(?:[\w.=-]+/)+[\w.=-]*', '/PATH', t)
    t = re.sub(r'RDD\[\d+\] at (\w+) at (\w+)\.scala:\d+',
               r'RDD[N] at \1 at \2.scala:L', t)
    return re.sub(r'plan_id=\d+', 'plan_id=N', t)


def main(old: str, new: str) -> int:
    names = sorted(os.listdir(old))
    bad = []
    for f in names:
        p = os.path.join(new, f)
        if not os.path.exists(p):
            bad.append(f'{f}: missing')
        elif norm(open(os.path.join(old, f)).read()) != norm(open(p).read()):
            bad.append(f'{f}: differs')
    print(f'{len(names)} plans, {len(bad)} differ')
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
