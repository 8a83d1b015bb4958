#!/usr/bin/env python3
"""Count code lines: non-blank lines outside `/* ... */` block comments
that do not start with a `//` line comment.

Usage: python3 tools/code_lines.py FILE...
Prints one `<count> <file>` line per file, then `<total> total`.
"""
import re
import sys


def code_lines(path):
    text = re.sub(r"/\*.*?\*/", "", open(path, encoding="utf-8").read(), flags=re.S)
    return sum(1 for line in text.splitlines()
               if line.strip() and not line.strip().startswith("//"))


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    counts = [(code_lines(f), f) for f in sys.argv[1:]]
    for n, f in counts:
        print(n, f)
    print(sum(n for n, _ in counts), "total")


if __name__ == "__main__":
    main()
