#!/usr/bin/env python3
"""Code-line counts of the Scala sources, and their net change against a git ref.

Usage: python3 scripts/loc.py [REF]     (REF defaults to HEAD)

Groups: main (src/main), test (src/test) and perfbench (perfbench/src),
*.scala files only. A code line is any line that is not blank and does
not start, after indentation, with `/**`, `*`, `//` or `|` -- the rule of
`grep -vcE '^\\s*(/\\*\\*|\\*|//|\\||$)'`. The working tree (untracked
files included) is compared with REF; the "all lines" columns are the
added and removed lines of every kind, as `git diff --numstat` counts
them, with untracked files counted as added.
"""
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GROUPS = [("main", "src/main"), ("test", "src/test"), ("perfbench", "perfbench/src")]
NON_CODE = re.compile(r"^\s*(/\*\*|\*|//|\||$)")


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def code_lines(text):
    return sum(1 for line in text.splitlines() if not NON_CODE.match(line))


def scala(paths):
    return [p for p in paths if p.endswith(".scala")]


def at_ref(ref, prefix):
    files = scala(git("ls-tree", "-r", "--name-only", ref, "--", prefix).split())
    return sum(code_lines(git("show", f"{ref}:{f}")) for f in files)


def in_tree(prefix):
    files = scala(git("ls-files", "--cached", "--others", "--exclude-standard",
                      "--", prefix).split())
    total = 0
    for f in files:
        path = os.path.join(ROOT, f)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                total += code_lines(fh.read())
    return total


def all_lines(ref, prefix):
    added = removed = 0
    for row in git("diff", "--numstat", ref, "--", prefix).splitlines():
        a, r, f = row.split("\t", 2)
        if f.endswith(".scala") and a != "-":
            added += int(a)
            removed += int(r)
    for f in scala(git("ls-files", "--others", "--exclude-standard", "--", prefix).split()):
        with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
            added += len(fh.read().splitlines())
    return added, removed


def main():
    ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    print(f"{'group':<10} {'code@' + ref[:12]:>18} {'code now':>9} {'net':>7}   all lines")
    for name, prefix in GROUPS:
        before, now = at_ref(ref, prefix), in_tree(prefix)
        added, removed = all_lines(ref, prefix)
        print(f"{name:<10} {before:>18} {now:>9} {now - before:>+7}"
              f"   +{added} -{removed} ({added - removed:+d})")


if __name__ == "__main__":
    main()
