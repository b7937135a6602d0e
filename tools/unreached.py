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

It iterates to a fixed point, so a dead cluster shows up in one run.
A def is DEAD when nothing in the program names it except its own body
or the bodies of dead defs: first the defs nothing names at all, then,
round by round, the defs named only from inside those. Every dead def
is listed; one found in a later round ends in `reached-by=`, naming the
dead def(s) that still name it. A def's extent runs from its line to
the next member of its template (or the template's end), so a name used
in a val declared after the last def of a template counts against that
def.

NAME-BASED, not a call graph. Two defs with the same name (overloads,
or one name in two objects) share their references, so one reached
def hides an unreached namesake. The final word is `sbt compile`
(main only) after each deletion. Names the JVM calls by convention
(main, apply, unapply, toString, equals, hashCode) and `override`
members are never listed. Dev-only tool: the shipped library is pure
Scala/Spark.
"""
import os
import re
import sys
from collections import defaultdict

CONVENTIONAL = {"main", "apply", "unapply", "toString", "equals", "hashCode"}
DEF_RE = re.compile(r"^(\s*)((?:[a-z]+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)")
MEMBER_RE = re.compile(r"^\s*(?:@\w+(?:\([^)]*\))?\s+)*(?:[a-z]+(?:\[\w+\])?\s+)*"
                       r"(?:def|val|var|type|object|class|trait)\b")
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
    """(line number, name, modifiers, last line) of every def directly
    inside an object, class or trait body. Brace tracking is lexical: a
    `{` opens a template body when an object/class/trait header is
    pending and no parenthesis is open, anything else opens a block. A
    def's extent ends before the next member of its template (def, val,
    var, type, object, class or trait) or where its template closes."""
    stack, pending, parens, found, open_defs = [], False, 0, [], []

    def close(pred, last):
        for entry in [e for e in open_defs if pred(e[1])]:
            entry[0][3] = last
            open_defs.remove(entry)

    for no, line in enumerate(lines, 1):
        if all(stack) and MEMBER_RE.match(line):
            depth = len(stack)
            close(lambda d: d >= depth, no - 1)
            m = DEF_RE.match(line)
            if m and "override" not in m.group(2):
                found.append([no, m.group(3), m.group(2), None])
                open_defs.append([found[-1], depth])
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
                    depth = len(stack)
                    close(lambda d: d > depth, no)
            elif ch == "=" and parens == 0:
                pending = False
    close(lambda d: True, len(lines))
    return [tuple(d) for d in found]


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def word_lines(paths):
    """Per file: stripped lines, and name -> line numbers of its uses."""
    per_file = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            lines = strip(fh.read()).split("\n")
        uses = defaultdict(list)
        for no, line in enumerate(lines, 1):
            for w in WORD_RE.findall(line):
                uses[w].append(no)
        per_file[p] = (lines, uses)
    return per_file


def main(argv):
    repo = argv[argv.index("--repo") + 1] if "--repo" in argv else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_files = list(scala_files(os.path.join(repo, "src", "main")))
    program = main_files + list(scala_files(os.path.join(repo, "perfbench", "src")))
    tests = list(scala_files(os.path.join(repo, "src", "test")))
    prog, test_uses = word_lines(program), word_lines(tests)

    defs = []  # (path, line, name, modifiers, last line)
    for path in main_files:
        defs += [(path,) + d for d in member_defs(prog[path][0])]
    own_defs = defaultdict(int)
    for path, _, name, _, _ in defs:
        own_defs[(path, name)] += 1

    # a def is DEAD when every use of its name lies inside its own
    # extent or inside a dead def's; iterate to the fixed point
    decls = defaultdict(list)
    for path, no, name, _, _ in defs:
        decls[name].append((path, no))
    dead = {}  # def -> names of the dead defs that use it
    spans = defaultdict(list)  # path -> (first, last, name) of dead defs

    def holder(path, no):
        return next((n for a, b, n in spans[path] if a <= no <= b), None)

    while True:
        found = {}
        for d in defs:
            path, no, name, _, last = d
            if d in dead or name in CONVENTIONAL:
                continue
            uses = [(p, n) for p, (_, u) in prog.items() for n in u.get(name, ())]
            for decl in decls[name]:
                uses.remove(decl)
            via = set()
            for p, n in uses:
                if p == path and no <= n <= last:
                    continue
                h = holder(p, n)
                if h is None:
                    break
                via.add(h)
            else:
                found[d] = sorted(via)
        if not found:
            break
        dead.update(found)
        for path, no, name, _, last in found:
            spans[path].append((no, last, name))

    listed = 0
    for d in defs:
        path, no, name, mods, _ = d
        if name in CONVENTIONAL:
            continue
        outside = sum(len(u.get(name, ())) for p, (_, u) in prog.items() if p != path)
        in_file = len(prog[path][1].get(name, ())) - sum(1 for p, _ in decls[name] if p == path)
        plain = not outside and ("private" not in mods or in_file == 0)
        if not plain and d not in dead:
            continue
        listed += 1
        specs = sorted(os.path.basename(p)[:-6] for p, (_, u) in test_uses.items()
                       if u.get(name))
        line = (f"{os.path.relpath(path, repo)}:{no}  {name}  in-file={in_file}"
                f"  specs={','.join(specs) or '-'}")
        print(line + (f"  reached-by={','.join(dead[d])}" if dead.get(d) else ""))
    print(f"{listed} unreached")


if __name__ == "__main__":
    main(sys.argv[1:])
