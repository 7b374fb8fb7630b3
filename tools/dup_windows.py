#!/usr/bin/env python3
"""Repeated-window metric for the Scala sources.

Each line is stripped; blank lines and lines that start with `//`, `*`,
`/**` or `import` are skipped. Every run of 6 consecutive kept lines is a
window. A window is repeated when the same 6 lines appear at two or more
places, in one file or across files. The script prints, per file and in
total, the repeated windows' distinct count, their occurrences and the
kept lines they cover.

Usage: tools/dup_windows.py [root] [--all] [--show]
  root    directory to scan (default src/main/scala)
  --all   also scan SparkEntry.scala (excluded by default: its oracle
          SQL is measured on its own)
  --show  print each repeated window with the places it occurs
"""
import os
import sys
from collections import defaultdict

WINDOW = 6
SKIP_PREFIXES = ("//", "*", "/**", "import")


def kept_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if not line or line.startswith(SKIP_PREFIXES):
                continue
            out.append((no, line))
    return out


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    root = args[0] if args else "src/main/scala"
    include_entry = "--all" in argv
    files = []
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala") and (include_entry or n != "SparkEntry.scala"):
                files.append(os.path.join(d, n))
    files.sort()

    places = defaultdict(list)  # window text -> [(file, kept index)]
    kept = {}
    for path in files:
        kept[path] = kept_lines(path)
        lines = [l for _, l in kept[path]]
        for i in range(len(lines) - WINDOW + 1):
            places[tuple(lines[i:i + WINDOW])].append((path, i))
    repeated = {w: p for w, p in places.items() if len(p) > 1}

    per_file = defaultdict(lambda: [set(), 0, set()])  # windows, occurrences, covered
    for w, ps in repeated.items():
        for path, i in ps:
            entry = per_file[path]
            entry[0].add(w)
            entry[1] += 1
            entry[2].update(range(i, i + WINDOW))

    for path in sorted(per_file):
        ws, occ, cov = per_file[path]
        print(f"{os.path.relpath(path, root)}: {len(ws)} windows, "
              f"{occ} occurrences, {len(cov)} lines")
    total_occ = sum(e[1] for e in per_file.values())
    total_cov = sum(len(e[2]) for e in per_file.values())
    print(f"TOTAL: {len(repeated)} repeated {WINDOW}-line windows, "
          f"{total_occ} occurrences covering {total_cov} lines "
          f"in {len(per_file)} files")

    if "--show" in argv:
        for w, ps in sorted(repeated.items(), key=lambda kv: kv[1]):
            where = ", ".join(
                f"{os.path.relpath(p, root)}:{kept[p][i][0]}" for p, i in ps)
            print(f"\n== {where}")
            for line in w:
                print(f"   {line}")


if __name__ == "__main__":
    main(sys.argv[1:])
