"""Count non-blank, non-comment Scala lines per file and in total.

Usage: python3 tools/loc.py [DIR ...]   (default: src/main)

A line counts unless it is blank or its first non-blank characters are
`//`, `/*` or `*` (a scaladoc or block-comment line). That is the rule
the figures in CHANGES.md have used since the first simplicity change:

    cat $(find src/main -name '*.scala') | grep -v '^\\s*$' \\
      | grep -cv '^\\s*\\(//\\|/\\*\\|\\*\\)'

Prints one `count path` line per file, largest first, then `count total`.
"""
import os
import re
import sys

COMMENT = re.compile(r"^\s*(//|/\*|\*)")


def count_lines(lines):
    """Non-blank lines that do not start with a comment marker."""
    return sum(1 for ln in lines if ln.strip() and not COMMENT.match(ln))


def scala_files(root):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".scala"):
                yield os.path.join(dirpath, name)


def counts(roots):
    out = {}
    for root in roots:
        for path in scala_files(root):
            with open(path, encoding="utf-8") as f:
                out[path] = count_lines(f)
    return out


def main(argv):
    per_file = counts(argv or ["src/main"])
    for path, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d} {path}")
    print(f"{sum(per_file.values()):6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
