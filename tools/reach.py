#!/usr/bin/env python3
"""Reachability check: every member of src/main must have a caller, and
every default-valued parameter of a src/main def a call that sets it.

Reads the Scala sources under `src/main/scala` and `perfbench/src` (the
library and the benchmark workloads that drive it) and changes neither.
A member -- a `def`, `val`, `var`, `type`, `class`, `trait` or `object`
declared directly in a package, class, trait or object body -- counts
as reached when its name appears on a non-comment line outside its own
body; string literals count, so a name spliced into SQL text or looked
up by reflection stays reached. A declaration is not a use: the name a
`def`, `val`, `var`, `type`, `class`, `trait` or `object` declares, and
the parameter names of a def or class, do not count. Specs do not
count: a def only its spec calls is surface nothing reaches.

The check runs to a fixpoint. After each pass it masks the bodies of
the members found unreached and scans again, so a def whose only caller
is itself unreached is flagged too.

Members the JVM, the compiler or Spark call without naming them are
never flagged: `main`, `apply`/`unapply`/`update`, `implicit` and
`override` members.

The second pass also reads `src/test/scala`, for parameter-setting
calls only. A default-valued parameter of a src/main def is set when a
call of a def with the same name passes it, by name or by position, in
the same parameter list; calls inside the def's own body do not count.
A parameter that no call sets is a knob nothing varies: it should be a
constant. Matching by name is conservative: a same-named def elsewhere
can hide such a parameter, but a call of the def itself is always seen.
String literals are blanked for this pass, so neither SQL text nor a
call spliced into an interpolated string sets anything.

Usage: python3 tools/reach.py [ROOT]   (ROOT defaults to the repo root)
Exits 1 and prints `file:line Owner.name` for each unreached member and
`file:line Owner.def(param)` for each parameter that no call sets.
"""
import os
import re
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")
CALL_DIRS = SOURCE_DIRS + ("src/test/scala",)

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
    "PlanDoctor.hasCartesianPlan":
        "test-only plan predicate the plan audit asserts with",
    "PlanDoctor.hasBnljPlan":
        "test-only plan predicate the plan audit asserts with",
}

# Default-valued parameters kept although no call sets them, keyed
# `Owner.def(param)`, one reason each.
PARAM_ALLOW = {}

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


STRING = re.compile(
    r'"""[\s\S]*?"""+|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\\\'\n])\'')
DECLARED = re.compile(
    r"\b(?:def|val|var|type|class|trait|object)\s+(?:(?:val|var)\s+)?$")
IDENT = re.compile(r"[A-Za-z_]\w*")
NAMED_ARG = re.compile(r"\s*([A-Za-z_]\w*)\s*=(?![=>])")
PARAM = re.compile(
    r"\s*(?:@[A-Za-z_][\w.]*(?:\([^)]*\))?\s*|"
    r"(?:implicit|val|var|private|protected|override|final)\s+)*"
    r"([A-Za-z_]\w*)\s*:")


def mask_strings(code):
    """Blank the contents of string and character literals (newlines
    kept) so that commas, brackets and `=` inside them are not code."""
    return STRING.sub(lambda m: m.group(0)[0] + re.sub(
        r"[^\n]", " ", m.group(0)[1:-1]) + m.group(0)[-1], code)


def group_end(code, i):
    """Index just past the bracket group that opens at code[i]."""
    depth = 0
    for j in range(i, len(code)):
        if code[j] in "([{":
            depth += 1
        elif code[j] in ")]}":
            depth -= 1
            if depth == 0:
                return j + 1
    return len(code)


def items(code, a, b):
    """[start, end) spans of the top-level comma-separated items of
    code[a:b]."""
    spans, depth, s = [], 0, a
    for j in range(a, b):
        if code[j] in "([{":
            depth += 1
        elif code[j] in ")]}":
            depth -= 1
        elif code[j] == "," and depth == 0:
            spans.append((s, j))
            s = j + 1
    if code[s:b].strip():
        spans.append((s, b))
    return spans


def has_default(code, a, b):
    """Whether the parameter in code[a:b] has a `= default`."""
    depth = 0
    for j in range(a, b):
        if code[j] in "([{":
            depth += 1
        elif code[j] in ")]}":
            depth -= 1
        elif code[j] == "=" and depth == 0 and code[j + 1] not in "=>" \
                and code[j - 1] not in "=!<>":
            return True
    return False


def param_lists(code, i):
    """The parameter lists of the def or class whose name ends at
    code[i]: one list of (name, name offset, has default) per list."""
    n = len(code)
    while i < n and code[i].isspace():
        i += 1
    if i < n and code[i] == "[":
        i = group_end(code, i)
    lists = []
    while True:
        while i < n and code[i].isspace():
            i += 1
        if i >= n or code[i] != "(":
            return lists
        end = group_end(code, i)
        params = []
        for a, b in items(code, i + 1, end - 1):
            m = PARAM.match(code, a)
            if m and m.end() <= b:
                params.append((m.group(1), m.start(1), has_default(code, a, b)))
        lists.append(params)
        i = end


def declarations(code):
    """DECL matches that start a word (not `x.type`)."""
    return [m for m in DECL.finditer(code) if not m.start() or not (
        code[m.start() - 1].isalnum() or code[m.start() - 1] in "_$.")]


def declared(code):
    """Offsets of the names that declarations in `code` introduce: the
    name after `def`/`val`/`var`/`type`/`class`/`trait`/`object` (not
    an extractor pattern such as `val Foo(a) = x`) and the parameter
    names of every def and class."""
    out = set()
    for m in declarations(code):
        kind, name = m.group(1), m.group(2)
        if kind in ("val", "var") and code[m.end():m.end() + 1] == "(":
            continue
        out.add(m.start(2))
        if kind in ("def", "class"):
            for params in param_lists(code, m.end()):
                out.update(pos for _, pos, _ in params)
    return out


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


def load(root, dirs=SOURCE_DIRS):
    files = {}
    for d in dirs:
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
        decl = declared(mask_strings(code))
        for occ in IDENT.finditer(code):
            if occ.start() not in decl:
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


def calls(code, names):
    """(name, offset, lists) for each call of a name in `names`; lists
    holds one ({position: arg}, {name: arg}) pair per argument list,
    each arg its stripped source text."""
    out = []
    for m in IDENT.finditer(code):
        name = m.group(0)
        if name not in names or (m.start() and code[m.start() - 1] in "$"):
            continue
        if DECLARED.search(code, max(0, m.start() - 40), m.start()):
            continue
        i, lists = m.end(), []
        while i < len(code) and code[i] in " \t":
            i += 1
        if i < len(code) and code[i] == "[":
            i = group_end(code, i)
        while i < len(code) and (code[i] == "(" or (lists and code[i] == "{")):
            end = group_end(code, i)
            spans = [(i + 1, end - 1)] if code[i] == "{" \
                else items(code, i + 1, end - 1)
            pos, named = {}, {}
            for k, (a, b) in enumerate(spans):
                na = NAMED_ARG.match(code, a)
                if na and na.end() <= b:
                    named[na.group(1)] = code[na.end():b].strip()
                else:
                    pos[k] = code[a:b].strip()
            lists.append((pos, named))
            i = end
            while i < len(code) and code[i] in " \t":
                i += 1
        if lists:
            out.append((name, m.start(), lists))
    return out


def unset_params(root):
    """Default-valued parameters of src/main defs that no call sets.

    Runs to a fixpoint like the member pass: an argument that only
    passes on a flagged parameter of the def it is written in sets
    nothing, so `def a(x: Int = 1) = b(x)` flags `b`'s parameter too
    when nothing sets `a`'s."""
    sources = {p: mask_strings(c)
               for p, c in load(root, ("src/main/scala",)).items()}
    everywhere = {p: mask_strings(c) for p, c in load(root, CALL_DIRS).items()}
    defs = []
    for p, code in sorted(sources.items()):
        spans = members(p, code)
        for m in declarations(code):
            if m.group(1) != "def":
                continue
            lists = param_lists(code, m.end())
            if not any(d for params in lists for _, _, d in params):
                continue
            outer = [s for s in spans if s["start"] <= m.start() < s["end"]]
            own = [s for s in outer if s["name"] == m.group(2)
                   and s["line"] == code.count("\n", 0, m.start()) + 1]
            qual = own[0]["qual"] if own else \
                (outer[-1]["qual"] if outer else "") + "." + m.group(2)
            names = {m.group(2)}
            if m.group(2) == "apply":
                names.add(qual.split(".")[-2] if "." in qual else qual)
            defs.append({"path": p, "qual": qual, "names": names,
                         "lists": lists, "start": own[0]["start"] if own else 0,
                         "end": own[0]["end"] if own else 0})
    wanted = set().union(*(d["names"] for d in defs))
    found = [(name, cp, off, cl) for cp, code in everywhere.items()
             for name, off, cl in calls(code, wanted)]

    def inside(d, cp, off):
        return d["path"] == cp and d["start"] <= off < d["end"]

    def enclosing(cp, off):
        enc = [i for i, e in enumerate(defs) if inside(e, cp, off)]
        return min(enc, key=lambda i: defs[i]["end"] - defs[i]["start"]) \
            if enc else None

    # per def: (index of the def each call is written in, arg lists)
    setters = [[(enclosing(cp, off), cl) for name, cp, off, cl in found
                if name in d["names"] and not inside(d, cp, off)]
               for d in defs]
    flagged = set()  # (def index, list index, param index)

    def passes_flagged(enc, arg):
        return enc is not None and IDENT.fullmatch(arg) is not None and any(
            name == arg and (enc, li, k) in flagged
            for li, params in enumerate(defs[enc]["lists"])
            for k, (name, _, _) in enumerate(params))

    def is_set(i, li, k, param):
        for enc, cl in setters[i]:
            if li < len(cl):
                arg = cl[li][0].get(k, cl[li][1].get(param))
                if arg is not None and not passes_flagged(enc, arg):
                    return True
        return False

    while True:
        now = {(i, li, k) for i, d in enumerate(defs)
               for li, params in enumerate(d["lists"])
               for k, (param, _, default) in enumerate(params)
               if default and (i, li, k) not in flagged
               and f"{d['qual']}({param})" not in PARAM_ALLOW
               and not is_set(i, li, k, param)}
        if not now:
            break
        flagged |= now
    out = []
    for i, li, k in flagged:
        d = defs[i]
        param, off, _ = d["lists"][li][k]
        out.append({"path": d["path"], "qual": d["qual"], "param": param,
                    "line": sources[d["path"]].count("\n", 0, off) + 1})
    return sorted(out, key=lambda m: (m["path"], m["line"], m["param"]))


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    dead = unreached(root)
    for m in dead:
        print(f"{m['path']}:{m['line']} {m['qual']}")
    unset = unset_params(root)
    for m in unset:
        print(f"{m['path']}:{m['line']} {m['qual']}({m['param']})")
    if dead:
        print(f"reach: {len(dead)} unreached member(s)", file=sys.stderr)
    if unset:
        print(f"reach: {len(unset)} default-valued parameter(s) no call sets",
              file=sys.stderr)
    return 1 if dead or unset else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
