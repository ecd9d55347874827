#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source files.

Usage: python3 tools/loc.py <file-or-dir> [...]

Directories are walked for *.scala files. Prints one count per file and a
total. A line counts when anything other than whitespace and comments is
left on it after `//` line comments and `/* ... */` block comments
(Scaladoc included, nesting honoured) are removed. String literals, and
the code inside an interpolated string's `${...}`, are tracked, so `"//"`
or `"/*"` inside a string does not open a comment.
"""
import os
import sys


def code_lines(text):
    code = set()  # numbers of the lines that hold code
    # lexical contexts, innermost last: "code", "comment", a string
    # ("string" | "triple", interpolated?) or a ${...} splice ("splice",
    # open braces inside it)
    stack = ["code"]
    ln, i, n = 0, 0, len(text)
    while i < n:
        top, c = stack[-1], text[i]
        if c == "\n":
            ln += 1
            i += 1
        elif top == "comment":
            if text.startswith("*/", i):
                stack.pop()
                i += 2
            elif text.startswith("/*", i):
                stack.append("comment")
                i += 2
            else:
                i += 1
        elif top == "code" or top[0] == "splice":
            if text.startswith("//", i):
                while i < n and text[i] != "\n":
                    i += 1
                continue
            if text.startswith("/*", i):
                stack.append("comment")
                i += 2
                continue
            if not c.isspace():
                code.add(ln)
            if c == '"':
                interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
                triple = text.startswith('"""', i)
                stack.append(("triple" if triple else "string", interp))
                i += 3 if triple else 1
            elif text.startswith("'\"'", i):  # the char literal '"'
                i += 3
            else:
                if top != "code" and c == "{":
                    stack[-1] = ("splice", top[1] + 1)
                elif top != "code" and c == "}":
                    stack[-1] = ("splice", top[1] - 1)
                    if top[1] == 0:
                        stack.pop()
                i += 1
        else:  # inside a string literal
            kind, interp = top
            code.add(ln)
            if kind == "string" and c == "\\":
                i += 2
            elif interp and text.startswith("$$", i):
                i += 2
            elif interp and text.startswith("${", i):
                stack.append(("splice", 0))
                i += 2
            elif kind == "triple" and text.startswith('"""', i):
                while text.startswith('""""', i):  # extra quotes belong to the string
                    i += 1
                stack.pop()
                i += 3
            elif kind == "string" and c == '"':
                stack.pop()
                i += 1
            else:
                i += 1
    return len(code)


def scala_files(arg):
    if os.path.isdir(arg):
        for d, _, names in sorted(os.walk(arg)):
            for name in sorted(names):
                if name.endswith(".scala"):
                    yield os.path.join(d, name)
    else:
        yield arg


def main(args):
    if not args:
        sys.exit(__doc__.strip())
    total = 0
    for arg in args:
        for path in scala_files(arg):
            with open(path, encoding="utf-8") as f:
                n = code_lines(f.read())
            total += n
            print(f"{n:8d}  {path}")
    print(f"{total:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
