#!/usr/bin/env python3
"""Lines added, removed and net per area since a base ref.

Usage: tools/net_lines.py <base-ref>
Reads `git diff --numstat <base-ref>`: the working tree (staged or not)
against the base, so `git add` new files first. Areas: src/main,
src/test, docs (any *.md), tools; anything else is "other". Binary
files count zero.
"""
import re
import subprocess
import sys

AREAS = ("src/main", "src/test", "docs", "tools", "other")


def area(path):
    if path.startswith("src/main/"):
        return "src/main"
    if path.startswith("src/test/"):
        return "src/test"
    if path.endswith(".md"):
        return "docs"
    if path.startswith("tools/"):
        return "tools"
    return "other"


def tally(numstat):
    """{area: [added, removed]} from `git diff --numstat` text."""
    out = {a: [0, 0] for a in AREAS}
    for line in numstat.splitlines():
        if not line.strip():
            continue
        added, removed, path = line.split("\t", 2)
        # a rename counts against its new path: "a/{old => new}/b" or "old => new"
        m = re.fullmatch(r"(.*)\{(.*) => (.*)\}(.*)", path)
        if m:
            path = m.group(1) + m.group(3) + m.group(4)
        elif " => " in path:
            path = path.split(" => ")[1]
        row = out[area(path)]
        row[0] += int(added) if added != "-" else 0
        row[1] += int(removed) if removed != "-" else 0
    return out


def render(counts):
    lines = [f"{'area':<10}{'added':>8}{'removed':>9}{'net':>8}"]
    total = [0, 0]
    for a in AREAS:
        added, removed = counts[a]
        total[0] += added
        total[1] += removed
        lines.append(f"{a:<10}{added:>8}{removed:>9}{added - removed:>+8}")
    lines.append(f"{'total':<10}{total[0]:>8}{total[1]:>9}{total[0] - total[1]:>+8}")
    return "\n".join(lines)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    numstat = subprocess.run(["git", "diff", "--numstat", argv[1]], check=True,
                             capture_output=True, text=True).stdout
    print(render(tally(numstat)))


if __name__ == "__main__":
    main(sys.argv)
