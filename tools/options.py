#!/usr/bin/env python3
"""List every public `src/main` parameter that has a default value, and
the files that pass it BY NAME, grouped by caller kind.

Usage: python3 tools/options.py [--test-only | --restated] [repoDir]

A parameter with a default is one settable value of the engine's public
surface. For each, the tool prints `Owner.def(param)` with its definition
site, then the files whose calls of that def name the parameter, under
main, board (graft.queries and SparkEntry), cli, probe (graft.tools),
perfbench and tests. `--test-only` keeps the parameters that only tests
name. The last line counts the parameters, those named only by tests and
those named nowhere.

`--restated` prints instead every pair of public defs in one owner that
declare at least 3 defaulted parameters of the same names, with the
names: a setting declared twice, each copy with its own default.

The parse is lexical: comments and string literals are blanked, a def is
public unless `private` or `protected` precedes it or its enclosing
template, and local defs are skipped. Positional arguments and calls
through another name are not seen, so the output lists candidates to
check by hand, not a verdict.
"""
import os
import re
import sys

GROUPS = ('main', 'board', 'cli', 'probe', 'perfbench', 'tests')


def blank(src: str) -> str:
    """`src` with comments and string/char literals replaced by spaces
    (newlines kept, so offsets and line numbers are unchanged)."""
    out = list(src)
    i, n = 0, len(src)

    def wipe(a, b):
        for j in range(a, b):
            if out[j] != '\n':
                out[j] = ' '
    while i < n:
        c = src[i]
        if src.startswith('//', i):
            j = src.find('\n', i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif src.startswith('/*', i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith('/*', j):
                    depth, j = depth + 1, j + 2
                elif src.startswith('*/', j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            wipe(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            wipe(i + 1, j - 1)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != '\n':
                j += 2 if src[j] == '\\' else 1
            wipe(i + 1, min(j, n))
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == '\\'):
            j = src.find("'", i + 2 if src[i + 1] == '\\' else i + 1)
            j = n if j < 0 else j
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return ''.join(out)


OPEN, CLOSE = '([{', ')]}'


def group_end(code: str, i: int) -> int:
    """Index just past the bracket group opening at code[i]."""
    depth = 0
    for j in range(i, len(code)):
        if code[j] in OPEN:
            depth += 1
        elif code[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(code)


def split_top(s: str):
    """`s` split at commas outside brackets."""
    parts, depth, start = [], 0, 0
    for j, c in enumerate(s):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == ',' and depth == 0:
            parts.append(s[start:j])
            start = j + 1
    parts.append(s[start:])
    return parts


TOP_EQ = re.compile(r'(?<![=<>!:])=(?![=>])')


def has_top_eq(s: str) -> bool:
    depth = 0
    for j, c in enumerate(s):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == '=' and depth == 0 and TOP_EQ.match(s, j):
            return True
    return False


def arg_groups(code: str, i: int):
    """The consecutive `(...)` groups starting at or after code[i]
    (whitespace between groups allowed); yields (start, end) spans."""
    while True:
        while i < len(code) and code[i] in ' \t\n':
            i += 1
        if i >= len(code) or code[i] != '(':
            return
        e = group_end(code, i)
        yield i + 1, e - 1
        i = e


TEMPLATE = re.compile(r'\b(object|class|trait)\s+(\w+)')
DEF = re.compile(r'\bdef\s+(\w+)\s*(\[[^\]]*\])?\s*(?=\()')
CTOR = re.compile(r'\bclass\s+(\w+)\s*(\[[^\]]*\])?\s*(?=\()')


def scopes(code: str):
    """For every `{`, whether it opens a template body, and that
    template's name and visibility. Returns a per-offset lookup."""
    stack, marks, last = [], [], 0
    for j, c in enumerate(code):
        if c == '{':
            head = code[last:j]
            m = None
            for m in TEMPLATE.finditer(head):
                pass
            if m and 'new ' not in head[m.start():] and \
                    not re.search(r'\bdef\b', head[m.start():]):
                public = not re.search(r'\b(private|protected)\b',
                                       head[:m.start()].split('\n')[-1] +
                                       head[:m.start()][-40:])
                stack.append(('template', m.group(2), public))
            else:
                stack.append(('block', None, False))
            marks.append((j, list(stack)))
            last = j + 1
        elif c == '}':
            if stack:
                stack.pop()
            marks.append((j, list(stack)))
            last = j + 1
        elif c in ';\n' and not code[last:j].strip():
            last = j + 1
        elif c == ';':
            last = j + 1
    return marks


def enclosing(marks, pos):
    lo, hi, st = 0, len(marks), []
    while lo < hi:
        mid = (lo + hi) // 2
        if marks[mid][0] < pos:
            st = marks[mid][1]
            lo = mid + 1
        else:
            hi = mid
    return st


def definitions(path: str, code: str):
    """(owner, name, param, line) for each public defaulted parameter."""
    marks = scopes(code)
    found = []
    for rx, is_ctor in ((DEF, False), (CTOR, True)):
        for m in rx.finditer(code):
            st = enclosing(marks, m.start())
            if is_ctor:
                if st and not all(k == 'template' and pub for k, _, pub in st):
                    continue
                owner = m.group(1)
            else:
                if not st or st[-1][0] != 'template' or \
                        not all(k == 'template' and pub for k, _, pub in st):
                    continue
                owner = st[-1][1]
            line_start = code.rfind('\n', 0, m.start()) + 1
            before = code[max(0, line_start - 120):m.start()]
            prefix = re.split(r'[;{}]|\n\s*\n', before)[-1]
            if re.search(r'\b(private|protected)\b', prefix):
                continue
            name = m.group(1)
            for a, b in arg_groups(code, m.end()):
                for p in split_top(code[a:b]):
                    pm = re.match(r'\s*(?:implicit\s+)?(?:(?:val|var)\s+)?(\w+)\s*:', p)
                    if pm and has_top_eq(p):
                        line = code.count('\n', 0, m.start()) + 1
                        found.append((owner, name, pm.group(1), path, line))
    return found


def group_of(path: str) -> str:
    if path.startswith('src/test/'):
        return 'tests'
    if path.startswith('perfbench/'):
        return 'perfbench'
    if '/graft/queries/' in path or path.endswith('/SparkEntry.scala'):
        return 'board'
    if '/graft/cli/' in path:
        return 'cli'
    if '/graft/tools/' in path:
        return 'probe'
    return 'main'


def scala_files(root: str):
    for top in ('src/main/scala', 'src/test/scala', 'perfbench/src'):
        for d, _, fs in os.walk(os.path.join(root, top)):
            for f in sorted(fs):
                if f.endswith('.scala'):
                    p = os.path.join(d, f)
                    yield os.path.relpath(p, root)


def print_restated(defs) -> int:
    """Every pair of defs in one owner sharing at least 3 defaulted
    parameter names; one line a pair, then the pair count."""
    params = {}
    for owner, name, param, path, line in defs:
        params.setdefault((owner, name, path, line), []).append(param)
    keys = sorted(params)
    n = 0
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            shared = [p for p in params[a] if p in params[b]]
            if a[0] == b[0] and len(shared) >= 3:
                n += 1
                print(f'{a[0]}.{a[1]} ({a[2]}:{a[3]}) / {b[1]} ({b[3]}): '
                      f'{len(shared)} shared: ' + ', '.join(shared))
    print(f'{n} pairs of defs restate at least 3 defaulted parameters')
    return 0


def main(argv) -> int:
    test_only = '--test-only' in argv
    restated = '--restated' in argv
    args = [a for a in argv if not a.startswith('--')]
    root = args[0] if args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    code = {p: blank(open(os.path.join(root, p), encoding='utf-8').read())
            for p in scala_files(root)}
    defs = [d for p, c in code.items() if p.startswith('src/main/')
            for d in definitions(p, c)]
    if restated:
        return print_restated(defs)
    owners = {d[0] for d in defs}
    names = {d[1] for d in defs}
    # (callee name, qualifier or None, named params) per call site
    calls = {}
    call_rx = re.compile(r'(?:\b(\w+)\s*\.\s*)?\b(\w+)\s*(\[[^\]]*\])?\s*(?=\()')
    for p, c in code.items():
        for m in call_rx.finditer(c):
            name = m.group(2)
            if name not in names or re.search(r'\b(def|class)\s+$',
                                              c[max(0, m.start() - 8):m.start()]):
                continue
            named = set()
            for a, b in arg_groups(c, m.end()):
                for arg in split_top(c[a:b]):
                    am = re.match(r'\s*(\w+)\s*=(?![=>])', arg)
                    if am:
                        named.add(am.group(1))
            if named:
                q = m.group(1) if m.group(1) in owners else None
                calls.setdefault(name, []).append((q, named, p))
    n_test_only = n_none = 0
    for owner, name, param, path, line in sorted(defs):
        by = {g: set() for g in GROUPS}
        for q, named, p in calls.get(name, []):
            if param in named and q in (None, owner):
                by[group_of(p)].add(p)
        users = [g for g in GROUPS if by[g]]
        if not users:
            n_none += 1
        elif users == ['tests']:
            n_test_only += 1
        if test_only and users != ['tests']:
            continue
        print(f'{owner}.{name}({param})  {path}:{line}')
        for g in users:
            print(f'  {g}: ' + ', '.join(sorted(by[g])))
        if not users:
            print('  (named by no caller)')
    print(f'{len(defs)} public defaulted parameters; {n_test_only} named '
          f'only by tests; {n_none} named by no caller')
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
