#!/usr/bin/env python3
"""Count the defaulted parameters of the operator packages and who sets them.

    python3 tools/defaulted_params.py [repo_root] [-v]

Scans every `def` in src/main/scala/graft/operators and graft/streaming
(comments stripped) for parameters with a default, then every call site
of the same name in src/main and src/test. A parameter counts as passed
when a call gives it by name, or gives at least as many positional
arguments as its position. Prints the totals; -v lists each parameter
under UNPASSED, TEST-ONLY (set only by specs) or MAIN (set by a src/main
caller). A name shared by two defs is counted for both, so the split
errs toward "passed".
"""
import glob
import os
import re
import sys

ROOT = next((a for a in sys.argv[1:] if not a.startswith('-')), '.')

def strip_comments(s):
    out = []; i = 0; n = len(s)
    while i < n:
        c = s[i]
        if s.startswith('//', i):
            j = s.find('\n', i); j = n if j < 0 else j
            i = j; continue
        if s.startswith('/*', i):
            j = s.find('*/', i + 2); j = n if j < 0 else j + 2
            out.append('\n' * s[i:j].count('\n')); i = j; continue
        if s.startswith('"""', i):
            j = s.find('"""', i + 3); j = n if j < 0 else j + 3
            while j < n and s[j] == '"': j += 1
            out.append(s[i:j]); i = j; continue
        if c == '"':
            j = i + 1
            while j < n and s[j] != '"' and s[j] != '\n':
                if s[j] == '\\': j += 1
                j += 1
            out.append(s[i:j + 1]); i = j + 1; continue
        if c == "'" and i + 2 < n and (s[i + 2] == "'" or (s[i+1] == '\\' and i + 3 < n and s[i+3] == "'")):
            j = s.find("'", i + 2 if s[i+1] != '\\' else i + 3)
            out.append(s[i:j + 1]); i = j + 1; continue
        out.append(c); i += 1
    return ''.join(out)

OPEN = '([{'; CLOSE = ')]}'

def balanced(s, i):
    """s[i] is an opening bracket; return index after its matching close."""
    depth = 0; j = i; n = len(s)
    while j < n:
        c = s[j]
        if c == '"':
            if s.startswith('"""', j):
                k = s.find('"""', j + 3) + 3
                while k < n and s[k] == '"': k += 1
                j = k; continue
            k = j + 1
            while k < n and s[k] != '"':
                if s[k] == '\\': k += 1
                k += 1
            j = k + 1; continue
        if c in OPEN: depth += 1
        elif c in CLOSE:
            depth -= 1
            if depth == 0: return j + 1
        j += 1
    return n

def split_top(s):
    parts = []; depth = 0; cur = []; j = 0; n = len(s)
    while j < n:
        c = s[j]
        if c == '"':
            k = balanced_str(s, j); cur.append(s[j:k]); j = k; continue
        if c in OPEN: depth += 1
        elif c in CLOSE: depth -= 1
        if c == ',' and depth == 0:
            parts.append(''.join(cur)); cur = []
        else:
            cur.append(c)
        j += 1
    if ''.join(cur).strip(): parts.append(''.join(cur))
    return parts

def balanced_str(s, j):
    n = len(s)
    if s.startswith('"""', j):
        k = s.find('"""', j + 3) + 3
        while k < n and s[k] == '"': k += 1
        return k
    k = j + 1
    while k < n and s[k] != '"':
        if s[k] == '\\': k += 1
        k += 1
    return k + 1

def top_eq(p):
    depth = 0
    for j, c in enumerate(p):
        if c in OPEN: depth += 1
        elif c in CLOSE: depth -= 1
        elif c == '=' and depth == 0:
            nxt = p[j + 1] if j + 1 < len(p) else ''
            prv = p[j - 1] if j else ''
            if nxt in '=>' or prv in '=!<>': continue
            return j
    return -1

DEF = re.compile(r'\bdef\s+([A-Za-z_][A-Za-z0-9_]*)\s*')

def defs_in(text, fname):
    res = []
    for m in DEF.finditer(text):
        name = m.group(1); j = m.end()
        if j < len(text) and text[j] == '[': j = balanced(text, j)
        lists = []
        while True:
            while j < len(text) and text[j] in ' \n\t': j += 1
            if j < len(text) and text[j] == '(':
                k = balanced(text, j); lists.append(text[j + 1:k - 1]); j = k
            else: break
        line = text.count('\n', 0, m.start()) + 1
        for li, pl in enumerate(lists):
            params = split_top(pl)
            for pi, p in enumerate(params):
                p = p.strip()
                if p.startswith('implicit '): p = p[9:]
                e = top_eq(p)
                pname = re.match(r'\s*(?:val\s+|var\s+)?([A-Za-z_][A-Za-z0-9_]*)', p).group(1) if p else '?'
                res.append(dict(file=fname, line=line, fn=name, list=li, idx=pi, name=pname,
                                default=p[e + 1:].strip() if e >= 0 else None))
    return res

def calls_in(text, name):
    out = []
    for m in re.finditer(r'(?<![A-Za-z0-9_])' + re.escape(name) + r'\s*(\[)?', text):
        pre = text[max(0, m.start() - 5):m.start()]
        if re.search(r'def\s*$', pre): continue
        j = m.end() - (1 if m.group(1) else 0)
        if m.group(1): j = balanced(text, j)
        lists = []
        while True:
            k0 = j
            while k0 < len(text) and text[k0] in ' \t': k0 += 1
            if k0 < len(text) and text[k0] == '(':
                k = balanced(text, k0); lists.append(split_top(text[k0 + 1:k - 1])); j = k
            else: break
        if lists: out.append(lists)
    return out

def main():
    opfiles = sorted(glob.glob(f'{ROOT}/src/main/scala/graft/operators/*.scala') + glob.glob(f'{ROOT}/src/main/scala/graft/streaming/*.scala'))
    allfiles = sorted(glob.glob(f'{ROOT}/src/main/scala/**/*.scala', recursive=True) + glob.glob(f'{ROOT}/src/test/scala/**/*.scala', recursive=True))
    texts = {f: strip_comments(open(f).read()) for f in allfiles}
    params = []
    for f in opfiles: params += defs_in(texts[f], os.path.relpath(f, ROOT))
    dparams = [p for p in params if p['default'] is not None]
    cache = {}
    def callsites(name):
        if name not in cache:
            cache[name] = [(f, c) for f in allfiles for c in calls_in(texts[f], name)]
        return cache[name]
    unpassed = []; bytest = []; bymain = []
    for p in dparams:
        main_hit = test_hit = False
        for f, lists in callsites(p['fn']):
            if p['list'] >= len(lists): continue
            args = lists[p['list']]
            pos = 0; hit = False
            named = set()
            for a in args:
                mm = re.match(r'\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])', a)
                if mm: named.add(mm.group(1))
                else: pos += 1
            if pos > p['idx'] or p['name'] in named: hit = True
            if hit:
                if '/src/test/' in f: test_hit = True
                else: main_hit = True
        p['main'] = main_hit; p['test'] = test_hit
        (bymain if main_hit else bytest if test_hit else unpassed).append(p)
    print(f'defaulted={len(dparams)} passed_by_main={len(bymain)} test_only={len(bytest)} unpassed={len(unpassed)}')
    if '-v' in sys.argv:
        for label, lst in (('UNPASSED', unpassed), ('TEST-ONLY', bytest), ('MAIN', bymain)):
            print('==', label)
            for p in lst: print(f"  {p['file']}:{p['line']} {p['fn']}.{p['name']} = {p['default']}")

main()
