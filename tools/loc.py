#!/usr/bin/env python3
"""Count code, comment and blank lines of Scala sources.

A line is blank when it holds only whitespace, a comment when it starts
with `//` or lies inside a `/* ... */` block that begins a line, and code
otherwise. Prints one row per file and a total.

    python3 tools/loc.py src/main                      # working tree
    python3 tools/loc.py --rev HEAD~1 src/main         # at a commit
    python3 tools/loc.py src/main/scala/graft/ops/SketchStore.scala

Paths may be files or directories (searched for *.scala). With --rev the
same paths are read from the commit through `git show`, so a before/after
pair is two runs of one command.
"""
import argparse
import os
import subprocess
import sys


def count(lines):
    code = comment = blank = 0
    in_block = False
    for raw in lines:
        s = raw.strip()
        if in_block:
            comment += 1
            if "*/" in s:
                in_block = False
        elif not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            in_block = "*/" not in s[2:]
        else:
            code += 1
    return code, comment, blank


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                           text=True).stdout


def files_at(rev, paths):
    names = git("ls-tree", "-r", "--name-only", rev, "--", *paths).split()
    return sorted(n for n in names if n.endswith(".scala"))


def files_in_tree(paths):
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
        for root, _, names in os.walk(p):
            out.extend(os.path.join(root, n) for n in names
                       if n.endswith(".scala"))
    return sorted(set(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="count at this commit instead of the tree")
    ap.add_argument("paths", nargs="+")
    a = ap.parse_args()
    if a.rev:
        files = files_at(a.rev, a.paths)
        read = lambda f: git("show", f"{a.rev}:{f}").splitlines()
    else:
        files = files_in_tree(a.paths)
        read = lambda f: open(f, encoding="utf-8").read().splitlines()
    if not files:
        sys.exit("no Scala files under " + " ".join(a.paths))
    width = max(len(f) for f in files)
    print(f"{'file':<{width}} {'code':>7} {'comment':>7} {'blank':>7}")
    tot = [0, 0, 0]
    for f in files:
        c = count(read(f))
        tot = [x + y for x, y in zip(tot, c)]
        print(f"{f:<{width}} {c[0]:>7} {c[1]:>7} {c[2]:>7}")
    print(f"{'total':<{width}} {tot[0]:>7} {tot[1]:>7} {tot[2]:>7}")


if __name__ == "__main__":
    main()
