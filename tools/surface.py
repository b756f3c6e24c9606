#!/usr/bin/env python3
"""Dead-surface check: list every public `def` in src/main that nothing in
src/main or benchmark/ references outside comment lines, and fail on any
such name that tools/surface_keep.txt does not keep.

    python3 tools/surface.py          # exit 0: every unreferenced def is kept
                                      # exit 1: names to delete or keep listed

A name counts as referenced when it appears as a word on a code line other
than a line that defines it, so overloads and same-named defs in other
objects count as one name. Keep-list lines are names; `#` lines give the
reason for the family of names below them.
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
DEF = re.compile(r"^\s*(?:final\s+|implicit\s+)*def\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")


def code_lines(path):
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.strip()
        if not s.startswith(("//", "/*", "*")):
            yield line.split("//")[0] if "://" not in line else line


def main():
    defined, counts = {}, {}
    sources = sorted((ROOT / "src/main").rglob("*.scala"))
    bench = sorted(p for p in (ROOT / "benchmark").rglob("*")
                   if p.suffix in (".scala", ".py") and ".bench_build" not in p.parts)
    for path in sources + bench:
        for line in code_lines(path):
            m = DEF.match(line)
            if m and path in sources:
                defined.setdefault(m.group(1), path.relative_to(ROOT))
            for w in set(WORD.findall(line)) - ({m.group(1)} if m else set()):
                counts[w] = counts.get(w, 0) + 1
    dead = {n: p for n, p in defined.items() if n not in counts}
    keep_file = ROOT / "tools/surface_keep.txt"
    keep = {s.strip() for s in keep_file.read_text(encoding="utf-8").splitlines()
            if s.strip() and not s.lstrip().startswith("#")}
    unkept = sorted(n for n in dead if n not in keep)
    for n in sorted(keep - set(dead)):
        print(f"[surface] note: kept name {n} is referenced or gone; drop it from the keep-list")
    for n in unkept:
        print(f"[surface] {n} ({dead[n]}): no caller in src/main or benchmark/")
    print(f"[surface] {len(dead)} unreferenced public defs, {len(unkept)} not on the keep-list")
    return 1 if unkept else 0


if __name__ == "__main__":
    sys.exit(main())
