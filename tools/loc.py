#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the Scala files under the
given dirs.

`//` line comments and `/* */` block comments (nested, as Scala nests
them) are stripped; a comment marker inside a string literal ("...",
triple-quoted, or interpolated) or a character literal is code, not a
comment. A line counts if anything but whitespace is left.

    python3 tools/loc.py src/main/scala [more dirs...]

Prints one line per dir and a total when given more than one.
"""
import os
import sys


def code_lines(text):
    """Yield each line of `text` with its comments removed."""
    out, line = [], []
    i, n, depth = 0, len(text), 0
    in_str = None  # None, '"' or '"""'
    while i < n:
        c = text[i]
        if c == "\n":
            out.append("".join(line))
            line = []
            i += 1
            continue
        if depth:  # inside a block comment
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
            continue
        if in_str == '"""':
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                line.append(text[i:j])
                in_str, i = None, j
            else:
                line.append(c)
                i += 1
            continue
        if in_str == '"':
            line.append(c)
            if c == "\\" and i + 1 < n and text[i + 1] != "\n":
                line.append(text[i + 1])
                i += 2
                continue
            if c == '"':
                in_str = None
            i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth, i = 1, i + 2
            continue
        if text.startswith('"""', i):
            in_str = '"""'
            line.append('"""')
            i += 3
            continue
        if c == '"':
            in_str = '"'
            line.append(c)
            i += 1
            continue
        if c == "'":
            # a character literal ('x', '\n', 'A'); otherwise a symbol
            end = text.find("'", i + 1, i + 8)
            if end > i and "\n" not in text[i:end]:
                line.append(text[i:end + 1])
                i = end + 1
                continue
        line.append(c)
        i += 1
    out.append("".join(line))
    return out


def count(root):
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    total += sum(1 for l in code_lines(fh.read()) if l.strip())
    return total


def main(argv):
    if not argv:
        sys.exit(__doc__)
    grand = 0
    for root in argv:
        c = count(root)
        grand += c
        print(f"{c}\t{root}")
    if len(argv) > 1:
        print(f"{grand}\ttotal")


if __name__ == "__main__":
    main(sys.argv[1:])
