#!/usr/bin/env python3
"""Count the code lines of the Scala sources under src/main.

    python3 tools/code_lines.py            # the working tree
    python3 tools/code_lines.py --rev 6f8ff76

A code line is any line that is not blank and does not start (after
whitespace) with `//`, `*` or `/**`: the count of

    grep -cvE '^\\s*(//|\\*|/\\*\\*|$)' FILE

summed over every `.scala` file under src/main. Without `--rev` it prints
each file's count and the total for the working tree. With `--rev` it also
counts that git revision (read with `git show`, so the checkout is not
touched) and prints, per file that differs and in total, the count at the
revision, in the working tree and the difference. Run it from anywhere in
the repository.
"""

import argparse
import os
import re
import subprocess
import sys

ROOT = "src/main"
NOT_CODE = re.compile(r"^[ \t\n\r\f\v]*(//|\*|/\*\*|$)")


def code_lines(text):
    """Lines of `text` that are code, by the grep pattern above."""
    return sum(1 for line in text.splitlines() if not NOT_CODE.match(line))


def git(repo, *args):
    return subprocess.run(["git", "-C", repo, *args], check=True,
                          stdout=subprocess.PIPE, text=True).stdout


def tree_counts(repo):
    """{path: code lines} of the working tree's Scala under src/main."""
    counts = {}
    for dirpath, _, files in os.walk(os.path.join(repo, ROOT)):
        for f in files:
            if f.endswith(".scala"):
                full = os.path.join(dirpath, f)
                with open(full, encoding="utf-8") as fh:
                    counts[os.path.relpath(full, repo)] = code_lines(fh.read())
    return counts


def rev_counts(repo, rev):
    """{path: code lines} of the Scala under src/main at git revision `rev`."""
    names = git(repo, "ls-tree", "-r", "--name-only", rev, "--", ROOT)
    return {p: code_lines(git(repo, "show", f"{rev}:{p}"))
            for p in names.splitlines() if p.endswith(".scala")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to compare the tree against")
    args = ap.parse_args()
    repo = git(os.getcwd(), "rev-parse", "--show-toplevel").strip()
    now = tree_counts(repo)
    if not args.rev:
        for p in sorted(now):
            print(f"{now[p]:7d}  {p}")
        print(f"{sum(now.values()):7d}  total")
        return 0
    then = rev_counts(repo, args.rev)
    print(f"{args.rev:>9}  {'tree':>7}  {'diff':>6}")
    for p in sorted(set(now) | set(then)):
        a, b = then.get(p, 0), now.get(p, 0)
        if a != b:
            print(f"{a:9d}  {b:7d}  {b - a:+6d}  {p}")
    a, b = sum(then.values()), sum(now.values())
    print(f"{a:9d}  {b:7d}  {b - a:+6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
