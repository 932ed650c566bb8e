#!/usr/bin/env python3
"""Count code lines of Scala sources: comments and blank lines excluded.

Usage: python3 tools/code_lines.py [path ...]   (default: src/main/scala)

Each path is a .scala file or a directory searched recursively. Comments
are stripped by the rules of MaterializationInventorySpec.code: `//` to
end of line and `/* */` blocks go, string literals are kept (a `//`
inside one does not start a comment). A line counts if anything but
whitespace is left on it. Prints one `count path` line per file, then
the total.
"""
import os
import sys


def code(src: str) -> str:
    out = []
    i, n = 0, len(src)
    in_string = in_block = False
    while i < n:
        c = src[i]
        nxt = src[i + 1] if i + 1 < n else "\0"
        if in_block:
            if c == "*" and nxt == "/":
                in_block = False
                i += 1
        elif in_string:
            out.append(c)
            if c == "\\":
                out.append(nxt)
                i += 1
            elif c == '"' or c == "\n":
                in_string = False
        elif c == "/" and nxt == "/":
            while i < n and src[i] != "\n":
                i += 1
            out.append("\n")
        elif c == "/" and nxt == "*":
            in_block = True
            i += 1
        else:
            if c == '"':
                in_string = True
            out.append(c)
        i += 1
    return "".join(out)


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in code(f.read()).split("\n") if line.strip())


def scala_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".scala"):
                yield os.path.join(root, name)


def main(argv):
    total = 0
    for path in argv or ["src/main/scala"]:
        if not os.path.exists(path):
            sys.exit(f"no such path: {path}")
        for f in scala_files(path):
            n = code_lines(f)
            total += n
            print(f"{n:6d} {f}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
