#!/usr/bin/env python3
"""Reachability check: every member of src/main must have a caller.

Reads the Scala sources under `src/main/scala` and `perfbench/src` (the
library and the benchmark workloads that drive it) and changes neither.
A member -- a `def`, `val`, `var`, `type`, `class`, `trait` or `object`
declared directly in a package, class, trait or object body -- counts
as reached when its name appears on a non-comment line outside its own
body; string literals count, so a name spliced into SQL text or looked
up by reflection stays reached. Specs do not count: a def only its spec calls is surface nothing
reaches.

The check runs to a fixpoint. After each pass it masks the bodies of
the members found unreached and scans again, so a def whose only caller
is itself unreached is flagged too.

Members the JVM, the compiler or Spark call without naming them are
never flagged: `main`, `apply`/`unapply`/`update`, `implicit` and
`override` members.

Usage: python3 tools/reach.py [ROOT]   (ROOT defaults to the repo root)
Exits 1 and prints `file:line Owner.name` for each unreached member.
"""
import os
import re
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")

# Members kept although nothing in SOURCE_DIRS calls them, one reason each.
ALLOW = {
    "MapReduceOps.secondarySort":
        "the reference's external-sort contract (SURVEY section 2 A)",
    "Dedup.aggSignatures":
        "test-only reference that pins the native MinHash kernel bit for bit",
    "Dedup.aggSimhashSignatures":
        "test-only reference that pins the native SimHash kernel bit for bit",
    "TextAnalysis.legacyPortableHash60":
        "test-only reference that pins the native portable_hash60 bit for bit",
    "TextAnalysis.aggRepetition":
        "test-only reference that pins the native repetition_stats bit for bit",
    "AsOfJoin.asOf":
        "test-only reference the as-of join exec is compared against",
    "AsOfJoin.asOfForward":
        "test-only reference the as-of join exec is compared against",
    "PlanDoctor.hasCartesianPlan":
        "test-only plan predicate the plan audit asserts with",
    "PlanDoctor.hasBnljPlan":
        "test-only plan predicate the plan audit asserts with",
}

CALLED_BY_SYNTAX = {"main", "apply", "unapply", "unapplySeq", "update"}

DECL = re.compile(
    r"\b(def|val|var|type|class|trait|object)\s+(?:(?:val|var)\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*)")
MODIFIERS = re.compile(
    r"(?:\b(?:override|implicit|private|protected|final|lazy|case|sealed|"
    r"abstract)\b(?:\[[^\]]*\])?\s*|@[A-Za-z_][\w.]*(?:\([^)]*\))?\s*)*$")


def strip_comments(text):
    """Replace comments with spaces (newlines kept); strings stay intact."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def members(path, code):
    """One record per member: its name, qualified name, line, body span
    [start, end) in `code`, and whether it is exempt from the check."""
    found = []
    # scope stack entries: [is_template, owner, members so far, the
    # paren depth to restore when the scope closes]
    stack = [[True, "", []]]
    pending = None  # "template" or "block" for the next '{'
    paren = 0
    i, n = 0, len(code)
    while i < n:
        c = code[i]
        if c == '"':
            if code.startswith('"""', i):
                j = code.find('"""', i + 3)
                i = n if j < 0 else j + 3
            else:
                j = i + 1
                while j < n and code[j] not in '"\n':
                    j += 2 if code[j] == "\\" else 1
                i = j + 1
            continue
        if c == "'" and re.match(r"'(\\.|[^\\'\n])'", code[i:i + 4]):
            i += len(re.match(r"'(\\.|[^\\'\n])'", code[i:i + 4]).group(0))
            continue
        if c in "([":
            paren += 1
        elif c in ")]":
            paren -= 1
        elif c == "{":
            template = pending == "template" and paren == 0
            owner = stack[-1][1]
            if template and stack[-1][2]:
                owner = stack[-1][2][-1]["qual"]
            stack.append([template, owner, [], paren])
            paren = 0
            pending = None
        elif c == "}":
            if len(stack) > 1:
                closed = stack.pop()
                for m in closed[2][-1:]:
                    m["end"] = m["end"] or i
                paren = closed[3]
        else:
            m = DECL.match(code, i) if (c.isalpha() and (
                i == 0 or not (code[i - 1].isalnum() or code[i - 1] in "_$"))
            ) else None
            if m:
                kind, name = m.group(1), m.group(2)
                pending = "template" if kind in ("class", "trait", "object") \
                    else "block"
                scope = stack[-1]
                if scope[0] and paren == 0:
                    line_start = code.rfind("\n", 0, i) + 1
                    prefix = code[line_start:i]
                    mods = prefix if MODIFIERS.fullmatch(prefix.strip()) else ""
                    for prev in scope[2][-1:]:
                        prev["end"] = prev["end"] or line_start
                    owner = scope[1]
                    rec = {
                        "name": name,
                        "qual": f"{owner}.{name}" if owner else name,
                        "line": code.count("\n", 0, i) + 1,
                        "start": line_start,
                        "end": None,
                        "exempt": name in CALLED_BY_SYNTAX
                        or bool(re.search(r"\b(override|implicit)\b", mods)),
                        "path": path,
                    }
                    scope[2].append(rec)
                    found.append(rec)
                i = m.end()
                continue
        i += 1
    for rec in found:
        rec["end"] = rec["end"] or n
    return found


def load(root):
    files = {}
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        for dirpath, _, names in os.walk(base):
            for f in sorted(names):
                if f.endswith(".scala"):
                    p = os.path.join(dirpath, f)
                    with open(p, encoding="utf-8") as fh:
                        files[os.path.relpath(p, root)] = strip_comments(fh.read())
    return files


def unreached(root):
    files = load(root)
    decls = [m for p, code in sorted(files.items()) for m in members(p, code)]
    # an object that declares `main` is an entry point of the JVM
    mains = {m["qual"].rsplit(".", 1)[0] for m in decls if m["name"] == "main"}
    for m in decls:
        m["exempt"] = m["exempt"] or m["qual"] in mains \
            or m["qual"] in ALLOW or m["qual"].split(".")[0] + "." + m["name"] in ALLOW
    uses = {}
    for p, code in files.items():
        for occ in re.finditer(r"[A-Za-z_]\w*", code):
            uses.setdefault(occ.group(0), []).append((p, occ.start()))

    def inside(m, p, pos):
        return m["path"] == p and m["start"] <= pos < m["end"]

    dead = []
    while True:
        now = [m for m in decls if not m["exempt"] and m not in dead
               and not any(not inside(m, p, pos)
                           and not any(inside(d, p, pos) for d in dead)
                           for p, pos in uses.get(m["name"], ()))]
        if not now:
            return sorted(dead, key=lambda m: (m["path"], m["line"]))
        dead.extend(now)


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    dead = unreached(root)
    for m in dead:
        print(f"{m['path']}:{m['line']} {m['qual']}")
    if dead:
        print(f"reach: {len(dead)} unreached member(s)", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
