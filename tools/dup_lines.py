#!/usr/bin/env python3
"""Report copied code: flag every line that belongs to an 8-line window
which recurs elsewhere in the scanned tree (same file or another).

Blank lines, comments and imports are dropped before windowing; kept
lines compare whitespace-stripped. Lines inside triple-quoted strings
(the oracle SQL) are counted apart from Scala lines. Reports only; it
never fails. Usage: python3 tools/dup_lines.py [dir ...] (default src/main)
"""
import collections, pathlib, sys

W = 8

def kept_lines(path):
    out, in_str, in_doc = [], False, False
    for raw in path.read_text(encoding="utf-8").splitlines():
        line, sql = raw.strip(), in_str
        in_str ^= line.count('"""') % 2 == 1
        if not sql and (in_doc or line.startswith("/*")):
            in_doc = "*/" not in line
        elif line and (sql or not line.startswith(("//", "import "))):
            out.append((line, sql or in_str))
    return out

def main(dirs):
    files = {p: kept_lines(p) for d in dirs for p in sorted(pathlib.Path(d).rglob("*.scala"))}
    windows = lambda ls: [tuple(l for l, _ in ls[i:i + W]) for i in range(len(ls) - W + 1)]
    seen = collections.Counter(w for ls in files.values() for w in windows(ls))
    total, distinct, rows = collections.Counter(), set(), []
    for p, ls in files.items():
        flagged = {i + k for i, w in enumerate(windows(ls)) if seen[w] > 1 for k in range(W)}
        n = collections.Counter("sql" if ls[i][1] else "scala" for i in flagged)
        distinct.update(ls[i][0] for i in flagged)
        if flagged:
            rows.append((len(flagged), p.stem, n["sql"], n["scala"]))
        total += n
    print(f"{'file':<24}{'sql':>6}{'scala':>7}")
    for _, name, s, c in sorted(rows, reverse=True):
        print(f"{name:<24}{s:>6}{c:>7}")
    print(f"{'TOTAL':<24}{total['sql']:>6}{total['scala']:>7}  "
          f"flagged {total['sql'] + total['scala']}, distinct {len(distinct)}")

if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
