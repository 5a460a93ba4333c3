#!/usr/bin/env python3
"""Count main-source code lines: every line of the Scala files under
src/main except blank lines, `//` comment lines and the lines of
`/* ... */` blocks (scaladoc included).

    python3 tools/code_lines.py [repo_root] [--files]

Prints the total; `--files` prints one count per file before it. A
line that holds code before or after a block comment counts as code.
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            code = False
            while s:
                if in_block:
                    end = s.find("*/")
                    if end < 0:
                        s = ""
                    else:
                        in_block, s = False, s[end + 2:].strip()
                elif s.startswith("//"):
                    s = ""
                elif s.startswith("/*"):
                    in_block, s = True, s[2:]
                else:
                    code = True
                    break
            n += code
    return n


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    root = os.path.join(args[0] if args else ".", "src", "main")
    per_file = []
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                per_file.append((os.path.relpath(p, root), count(p)))
    if "--files" in argv:
        for p, n in sorted(per_file):
            print(f"{n:6d} {p}")
    print(sum(n for _, n in per_file))


if __name__ == "__main__":
    main(sys.argv[1:])
