#!/usr/bin/env python3
"""List src/main members that no program code names outside their own file.

Usage: python3 tools/unreached.py [--repo DIR]

For every member `def` in src/main (object, class and trait bodies; defs
local to a method body are skipped), count the places that NAME it in
the program: src/main and perfbench/src, with `//` and `/* */` comments
and string literals stripped (the expressions spliced into interpolated
strings are kept), so a Scaladoc `[[link]]` or a word inside SQL text
keeps nothing alive. A def is printed when no other file names it and
either

  - it is not `private` (a public member only its own file uses is a
    candidate for `private` or for deletion), or
  - nothing names it at all, not even its own file.

Each line is `file:line  name  in-file=N  specs=...`: `in-file` counts
the names in the defining file besides the def itself, and `specs`
lists the src/test suites that name it (a def only specs reach is
kept alive by tests alone).

NAME-BASED, not a call graph. Two defs with the same name (overloads,
or one name in two objects) share their references, so one reached
def hides an unreached namesake; a def reached only through an
unreached caller in its own file shows up only once that caller is
gone. So delete, re-run, and repeat until it finds nothing new; the
final word is `sbt compile` (main only) after each deletion. Names the
JVM calls by convention (main, apply, unapply, toString, equals,
hashCode) and `override` members are never listed. Dev-only tool: the
shipped library is pure Scala/Spark.
"""
import os
import re
import sys
from collections import defaultdict

CONVENTIONAL = {"main", "apply", "unapply", "toString", "equals", "hashCode"}
DEF_RE = re.compile(r"^(\s*)((?:[a-z]+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE_RE = re.compile(r"\b(object|class|trait)\s+\w+")
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip(text):
    """Blank out comments and string literals, keeping line structure and
    the expressions spliced into interpolated strings (`s"${f(x)}"`)."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        elif text[i] == '"':
            quote = '"""' if text.startswith('"""', i) else '"'
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            j = i + len(quote)
            while j < n and not text.startswith(quote, j) and (quote != '"' or text[j] != "\n"):
                if quote == '"' and text[j] == "\\":
                    j += 2
                elif interpolated and text.startswith("${", j):
                    k, depth = j + 2, 1
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(text[k], 0)
                        k += 1
                    out.append(" " + text[j + 2:k - 1] + " ")
                    j = k
                elif interpolated and text[j] == "$":
                    m = WORD_RE.match(text, j + 1)
                    if m:
                        out.append(" " + m.group(0) + " ")
                        j = m.end()
                    else:
                        j += 1
                else:
                    if text[j] == "\n":
                        out.append("\n")
                    j += 1
            out.append('""')
            i = j + len(quote)
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def member_defs(lines):
    """(line number, name, modifiers) of every def directly inside an
    object, class or trait body. Brace tracking is lexical: a `{` opens
    a template body when an object/class/trait header is pending and
    no parenthesis is open, anything else opens a block."""
    stack, pending, parens, found = [], False, 0, []
    for no, line in enumerate(lines, 1):
        m = DEF_RE.match(line)
        if m and all(stack) and "override" not in m.group(2):
            found.append((no, m.group(3), m.group(2)))
        if TEMPLATE_RE.search(line) and not line.lstrip().startswith("import"):
            pending = True
        for ch in line:
            if ch == "(":
                parens += 1
            elif ch == ")":
                parens = max(0, parens - 1)
            elif ch == "{":
                stack.append(pending and parens == 0)
                pending = False
            elif ch == "}":
                if stack:
                    stack.pop()
            elif ch == "=" and parens == 0:
                pending = False
    return found


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def word_counts(paths):
    per_file = {}
    for p in paths:
        counts = defaultdict(int)
        with open(p, encoding="utf-8") as fh:
            for w in WORD_RE.findall(strip(fh.read())):
                counts[w] += 1
        per_file[p] = counts
    return per_file


def main(argv):
    repo = argv[argv.index("--repo") + 1] if "--repo" in argv else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_files = list(scala_files(os.path.join(repo, "src", "main")))
    program = main_files + list(scala_files(os.path.join(repo, "perfbench", "src")))
    tests = list(scala_files(os.path.join(repo, "src", "test")))
    prog_words, test_words = word_counts(program), word_counts(tests)

    hits = []
    for path in main_files:
        with open(path, encoding="utf-8") as fh:
            defs = member_defs(strip(fh.read()).split("\n"))
        own_defs = defaultdict(int)
        for _, name, _ in defs:
            own_defs[name] += 1
        for no, name, mods in defs:
            if name in CONVENTIONAL:
                continue
            outside = sum(c.get(name, 0) for p, c in prog_words.items() if p != path)
            if outside:
                continue
            in_file = prog_words[path].get(name, 0) - own_defs[name]
            if "private" in mods and in_file > 0:
                continue
            specs = sorted(os.path.basename(p)[:-6] for p, c in test_words.items()
                           if c.get(name, 0))
            hits.append((os.path.relpath(path, repo), no, name, in_file, specs))

    for rel, no, name, in_file, specs in hits:
        print(f"{rel}:{no}  {name}  in-file={in_file}  specs={','.join(specs) or '-'}")
    print(f"{len(hits)} unreached")


if __name__ == "__main__":
    main(sys.argv[1:])
