#!/usr/bin/env python3
"""Count non-blank, non-comment source lines per package.

Usage: python3 tools/loc.py [ROOT ...]

Each ROOT (default: src/main/scala and src/test/scala) is walked for
.scala files; lines are counted per package directory below the root
(graft/medallion, graft/streaming, ...), then totalled.

A line counts when, after block comments (/* ... */, scaladoc included)
and // line comments are removed, it holds anything but whitespace.
Comment markers inside string literals are left alone, and a // that
ends a URL scheme (hdfs://) does not start a comment.
"""
import os
import sys
from collections import Counter


def strip_comments(text):
    """The source text with comments replaced by nothing, newlines kept."""
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """...""""" closes on the last quote
                j += 1
            out.append(text[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == '\\' else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == '\\'):
            j = text.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append(text[i:j])
            i = j
        elif text.startswith('/*', i):
            depth, j = 1, i + 2  # Scala block comments nest
            while j < n and depth:
                if text.startswith('/*', j):
                    depth, j = depth + 1, j + 2
                elif text.startswith('*/', j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append('\n' * text.count('\n', i, j))
            i = j
        elif text.startswith('//', i) and not (i > 0 and text[i - 1] == ':'):
            j = text.find('\n', i)
            i = n if j < 0 else j
        else:
            out.append(c)
            i += 1
    return ''.join(out)


def count(path):
    with open(path, encoding='utf-8') as f:
        return sum(1 for line in strip_comments(f.read()).splitlines() if line.strip())


def main(roots):
    for root in roots:
        per_package = Counter()
        for d, _, files in os.walk(root):
            for name in files:
                if name.endswith('.scala'):
                    per_package[os.path.relpath(d, root)] += count(os.path.join(d, name))
        for package in sorted(per_package):
            print(f'{root}/{package}\t{per_package[package]}')
        print(f'{root}\t{sum(per_package.values())}')


if __name__ == '__main__':
    main(sys.argv[1:] or ['src/main/scala', 'src/test/scala'])
