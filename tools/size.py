#!/usr/bin/env python3
"""Size of the engine's main sources.

Usage: python3 tools/size.py [repoRoot]   (default: this checkout)

Prints, over every file under <repoRoot>/src/main:
  - lines, and code lines: lines that are not blank and, stripped,
    do not start with `//`, `/*` or `*`;
  - the files that define a `main` (the entry points);
  - the distinct `"spark.graft.<key>` literals (the session options,
    the set OptionSurfaceSpec pins);
  - the Catalyst expression classes (the map kernels): case classes
    under a `functions/` directory that extend a `*Expression`.
"""
import os
import re
import sys

MAIN = re.compile(r"\bdef main\s*\(")
OPTION = re.compile(r'"spark\.graft\.([A-Za-z0-9_.]+)')
EXPRESSION = re.compile(r"\bcase class (\w+)\s*\(.*?\)\s*extends\s+(\w+)", re.S)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    lines = code = 0
    mains, options, kernels = [], set(), []
    for d, _, files in os.walk(src):
        for f in files:
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            for line in text.splitlines():
                lines += 1
                s = line.strip()
                if s and not s.startswith(("//", "/*", "*")):
                    code += 1
            if MAIN.search(text):
                mains.append(os.path.relpath(path, src))
            options.update(OPTION.findall(text))
            if os.path.basename(d) == "functions":
                kernels += [name for name, parent in EXPRESSION.findall(text)
                            if parent.endswith("Expression")]
    print(f"src/main lines: {lines}")
    print(f"src/main code lines: {code}")
    print(f"mains: {len(mains)}")
    for m in sorted(mains):
        print(f"  {m}")
    print(f"spark.graft options: {len(options)}")
    for o in sorted(options):
        print(f"  spark.graft.{o}")
    print(f"expression classes: {len(kernels)}")
    for k in sorted(kernels):
        print(f"  {k}")


if __name__ == "__main__":
    main()
