#!/usr/bin/env python3
"""Line counts of the Scala sources at a git revision vs the working tree.

Usage: python3 tools/loc.py REV [PATH...] [--all]

For every .scala file under the PATHs (default: src) it counts
  phys  physical lines, and
  code  non-blank lines that hold something outside /* ... */ and //
        comments (string and char literals are skipped, so "://" or "/*"
        inside a literal does not open a comment; block comments nest, as
        in Scala).
It prints one row per file whose counts differ between REV and the working
tree (every file with --all), then the totals over all files. Files only
present on one side count as 0 on the other. Run it from the repository
root.
"""
import os
import subprocess
import sys


def count(text):
    """(physical lines, code lines) of one Scala source."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    code = 0
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    for line in lines:
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
                continue
            if in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if not c.isspace():
                has_code = True
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
            elif c == '"':
                in_str = '"'
                i += 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                i += 3  # char literal such as '"'
            elif c == "'" and line.startswith("\\", i + 1):
                end = line.find("'", i + 3)
                i = n if end < 0 else end + 1
            else:
                i += 1
        if in_str == '"':
            in_str = None  # single-quoted strings do not span lines
        if has_code:
            code += 1
    return len(lines), code


def at_rev(rev, paths):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", *paths],
        check=True, capture_output=True, text=True).stdout.split()
    out = {}
    for name in names:
        if name.endswith(".scala"):
            blob = subprocess.run(["git", "show", f"{rev}:{name}"], check=True,
                                  capture_output=True).stdout
            out[name] = count(blob.decode("utf-8", "replace"))
    return out


def in_tree(paths):
    out = {}
    for p in paths:
        files = [p] if os.path.isfile(p) else [
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs]
        for f in files:
            if f.endswith(".scala"):
                with open(f, encoding="utf-8", errors="replace") as fh:
                    out[os.path.normpath(f)] = count(fh.read())
    return out


def main(argv):
    show_all = "--all" in argv
    args = [a for a in argv if a != "--all"]
    if not args:
        sys.exit(__doc__)
    rev, paths = args[0], args[1:] or ["src"]
    before, after = at_rev(rev, paths), in_tree(paths)
    fmt = "{:<62} {:>7} {:>7} {:>6} {:>7} {:>7} {:>6}"
    print(fmt.format("file", "phys<", "phys>", "d", "code<", "code>", "d"))
    tot = [0, 0, 0, 0]
    for name in sorted(set(before) | set(after)):
        pb, cb = before.get(name, (0, 0))
        pa, ca = after.get(name, (0, 0))
        tot = [tot[0] + pb, tot[1] + pa, tot[2] + cb, tot[3] + ca]
        if show_all or (pb, cb) != (pa, ca):
            print(fmt.format(name, pb, pa, pa - pb, cb, ca, ca - cb))
    print(fmt.format(f"TOTAL ({rev} -> working tree)", tot[0], tot[1],
                     tot[1] - tot[0], tot[2], tot[3], tot[3] - tot[2]))


if __name__ == "__main__":
    main(sys.argv[1:])
