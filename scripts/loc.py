#!/usr/bin/env python3
"""Count src/main Scala lines at two git revisions and print the delta.

    python3 scripts/loc.py <rev-a> <rev-b>

Each line of every `src/main/**/*.scala` file at a revision is one of:
  code     - holds any code or string-literal character (a line with code
             and a trailing comment counts as code);
  comment  - holds only comment text (`//`, `/* */`, scaladoc `/** */`);
  blank    - whitespace only.
Comment deletion alone is not a reduction of the program, so code and
comment lines are reported apart. Reads the revisions with `git show`;
run it inside the repository. To count uncommitted edits to tracked
files, pass the commit printed by `git stash create`.
"""
import subprocess
import sys


def git(*args):
    return subprocess.run(("git",) + args, check=True,
                          capture_output=True).stdout


def classify(text):
    """(code, comment, blank) line counts of one Scala source text."""
    code = comment = blank = 0
    depth = 0          # block-comment nesting (Scala block comments nest)
    string = None      # None, '"' or '"""'
    has_code = has_comment = False
    i, n = 0, len(text)
    while i <= n:
        c = text[i] if i < n else "\n"
        if c == "\n":
            if has_code:
                code += 1
            elif has_comment:
                comment += 1
            elif i < n or text[-1:] != "\n":
                blank += 1
            has_code = has_comment = False
            if string == '"':   # an unterminated one-line string ends here
                string = None
            i += 1
            continue
        two = text[i:i + 2]
        if depth:
            if two == "/*":
                depth, i = depth + 1, i + 2
            elif two == "*/":
                depth, i = depth - 1, i + 2
            else:
                i += 1
            has_comment = has_comment or not c.isspace()
        elif string == '"""':
            has_code = True
            if text.startswith('"""', i):
                string, i = None, i + 3
            else:
                i += 1
        elif string == '"':
            has_code = True
            if c == "\\":
                i += 2
            else:
                string = None if c == '"' else string
                i += 1
        elif two == "//":
            has_comment = True
            i = text.find("\n", i)
            i = n if i < 0 else i
        elif two == "/*":
            depth, i, has_comment = 1, i + 2, True
        elif text.startswith('"""', i):
            string, i, has_code = '"""', i + 3, True
        elif c == '"':
            string, i, has_code = '"', i + 1, True
        elif c == "'" and (text[i + 2:i + 3] == "'" or
                           (text[i + 1:i + 2] == "\\" and
                            text[i + 3:i + 4] == "'")):
            i += 3 if text[i + 2:i + 3] == "'" else 4   # char literal
            has_code = True
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return code, comment, blank


def count(rev):
    paths = [p for p in git("ls-tree", "-r", "--name-only", rev, "--",
                            "src/main").decode().splitlines()
             if p.endswith(".scala")]
    totals = [0, 0, 0]
    for p in paths:
        text = git("show", f"{rev}:{p}").decode("utf-8")
        totals = [t + x for t, x in zip(totals, classify(text))]
    return len(paths), *totals


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    ca, cb = count(a), count(b)
    print(f"{'rev':<14}{'files':>7}{'code':>8}{'comment':>9}{'blank':>7}"
          f"{'total':>8}")
    for rev, c in ((a, ca), (b, cb)):
        print(f"{rev[:12]:<14}{c[0]:>7}{c[1]:>8}{c[2]:>9}{c[3]:>7}"
              f"{sum(c[1:]):>8}")
    d = [y - x for x, y in zip(ca, cb)]
    print(f"{'delta':<14}{d[0]:>+7}{d[1]:>+8}{d[2]:>+9}{d[3]:>+7}"
          f"{sum(d[1:]):>+8}")


if __name__ == "__main__":
    main()
