#!/usr/bin/env python3
"""Line counts of the Scala sources: total lines and code lines.

    python3 tools/loc.py [repo-root]

Prints one line each for `src/main` and `src/main/scala/graft/tools`.
A code line holds something other than whitespace and comments; a line
inside a `//` comment or a (nested) `/* */` block, scaladoc included,
counts as comment. String literals, triple-quoted ones included, are
code, so `"//"` inside a string does not start a comment.
"""
import os
import sys


def count(text):
    """(total lines, code lines) of one Scala source."""
    code_lines = set()
    line = 0
    depth = 0  # block-comment nesting
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """...""""" closes last
                end += 1
            spanned = text.count("\n", i, end)
            code_lines.update(range(line, line + spanned + 1))
            line += spanned
            i = end
        elif c == '"':
            code_lines.add(line)
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            if i < n and text[i] == '"':
                i += 1
        elif c == "'" and i + 2 < n and (text[i + 1] == "\\" or text[i + 2] == "'"):
            code_lines.add(line)  # a char literal such as '"' or '\n'
            if text[i + 1] == "\\":  # the escape takes two chars at least
                i = text.find("'", i + 3) + 1 or n
            else:
                i += 3
        else:
            if not c.isspace():
                code_lines.add(line)
            i += 1
    total = text.count("\n") + (0 if text.endswith("\n") or not text else 1)
    return total, len(code_lines)


def tree(path):
    total = code = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    t, c = count(fh.read())
                total += t
                code += c
    return total, code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    for rel in ("src/main", "src/main/scala/graft/tools"):
        total, code = tree(os.path.join(root, rel))
        print(f"{rel}: {total} lines, {code} code lines")


if __name__ == "__main__":
    main()
