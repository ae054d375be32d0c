#!/usr/bin/env python3
"""Reachability report for the Scala sources: the surface nothing uses.

Prints three lists, each with its count:

  1. spec-only public defs: public `def`/`val` members of an object,
     class or trait in src/main that nothing in src/main or
     perfbench/harness reaches outside the def's own body. Reach is
     transitive: a def whose only users are other unreached defs is
     unreached too (the scan iterates to a fixed point). A def whose own
     Scaladoc, or whose enclosing object's, class's or trait's Scaladoc,
     names a SURVEY.md or README row ("Declared by SURVEY ..." or
     "Declared by README ...") is a declared capability: it is a
     root of reach, and listed apart when nothing else calls it.
  2. never-passed defaulted parameters: parameters with a default value
     (of a def or a class constructor in src/main) that no call site in
     src/main, src/test or perfbench/harness passes, by position or by
     name.
  3. tool-only public defs: public defs outside graft/tools that list 1
     counts as reached, but only from the graft/tools mains, directly or
     through other such defs (list 1's scan with every use inside
     graft/tools discounted). A probe main keeps such a def alive
     without any query, model or pipeline needing it.

The scan is textual (comments and string literals blanked, interpolated
expressions kept) and errs towards "reached": a name several defs share
counts every use for all of them, and a def passed as a function value
counts as passing all its parameters. It gates nothing.

Usage: python3 tools/reach.py [repoRoot]
"""
import bisect
import os
import re
import sys

MAIN = "src/main/scala"
TOOLS = "src/main/scala/graft/tools/"
CALLER_DIRS = ("src/main/scala", "perfbench/harness")
ALL_DIRS = ("src/main/scala", "src/test/scala", "perfbench/harness")

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
WORD = re.compile(r"(?<![\w$])[A-Za-z_][A-Za-z0-9_]*")
MODS = (r"(?:(?:private|protected)(?:\[\w+\])?\s+|"
        r"(?:override|final|implicit|lazy|inline|sealed|abstract|case)\s+)*")
DECL = re.compile(r"(?P<mods>" + MODS + r")(?P<kw>def|val|var)\s+"
                  r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
STMT = re.compile(r"[ \t]*" + MODS +
                  r"(?:def|val|var|object|class|trait|type)\b")
TEMPLATE_KW = re.compile(r"\b(def|val|var|object|class|trait|new)\b")
PRIVATE_TEMPLATE = re.compile(
    r"\b(private|protected)(\[\w+\])?\s+(case\s+)?(object|class|trait)\b"
    r"[^{]*$")
# the phrase a Scaladoc uses to name the row that declares a capability
DECLARED = re.compile(r"Declared by (SURVEY|README)")
ANNOT = re.compile(r"\s*@\w+(\([^)]*\))?$")
# entry points and members that the JVM or Spark calls, not a caller by name
ENTRY_NAMES = {"main", "apply", "unapply", "toString", "equals", "hashCode"}


def blank(src):
    """Code view of a Scala source: comments and string literal contents
    become spaces (newlines kept, so offsets and line numbers hold);
    `${...}` and `$name` inside interpolated strings stay code."""
    out = list(src)
    n = len(src)

    def scrub(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def string_body(i, triple, interp):
        while i < n:
            c = src[i]
            if triple and src.startswith('"""', i):
                j = i + 3
                while j < n and src[j] == '"':  # `""""` closes at the last `"""`
                    j += 1
                scrub(i, j - 3)
                return j
            if not triple and c == '"':
                return i + 1
            if not triple and c == "\\":
                scrub(i, min(i + 2, n))
                i += 2
                continue
            if interp and c == "$":
                if src.startswith("$$", i):
                    scrub(i, i + 2)
                    i += 2
                    continue
                if src.startswith("${", i):
                    i = code(i + 2, in_splice=True)
                    continue
                m = IDENT.match(src, i + 1)
                if m:
                    i = m.end()
                    continue
            if c != "\n":
                out[i] = " "
            i += 1
        return i

    def code(i, in_splice=False):
        depth = 0
        while i < n:
            c = src[i]
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                scrub(i, j)
                i = j
            elif src.startswith("/*", i):
                j = src.find("*/", i + 2)
                j = n if j < 0 else j + 2
                scrub(i, j)
                i = j
            elif c == '"':
                k = i
                while k > 0 and (src[k - 1].isalnum() or src[k - 1] == "_"):
                    k -= 1
                interp = src[k:i] in ("s", "f", "raw")
                if src.startswith('"""', i):
                    i = string_body(i + 3, True, interp)
                else:
                    i = string_body(i + 1, False, interp)
            elif c == "'" and re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4]):
                m = re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4])
                scrub(i + 1, i + m.end() - 1)
                i += m.end()
            else:
                if in_splice and c == "{":
                    depth += 1
                elif in_splice and c == "}":
                    if depth == 0:
                        return i + 1
                    depth -= 1
                i += 1
        return i

    code(0)
    return "".join(out)


def match_paren(text, i):
    """Index just past the bracket that closes the one at text[i]."""
    depth = 0
    for j in range(i, len(text)):
        c = text[j]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if depth == 0:
                return j + 1
    return len(text)


def split_args(s):
    """Top-level comma split of an argument or parameter list body."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    tail = "".join(cur)
    if tail.strip() or parts:
        parts.append(tail)
    return [p.strip() for p in parts]


def top_level_eq(p):
    """Offset of a top-level `=` (not ==, =>, <=, >=, !=) in p, or -1."""
    depth = 0
    for j, c in enumerate(p):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = p[j + 1] if j + 1 < len(p) else ""
            prv = p[j - 1] if j > 0 else ""
            if nxt in "=>" or prv in "=<>!:":
                continue
            return j
    return -1


def param_lists(text, i):
    """Parameter lists after a def or class name at text[i]: a list of
    lists of (name, has_default)."""
    lists = []
    j = i
    while True:
        while j < len(text) and text[j] in " \t\n":
            j += 1
        if j < len(text) and text[j] == "[" and not lists:
            j = match_paren(text, j)
        elif j < len(text) and text[j] == "(":
            end = match_paren(text, j)
            ps = []
            for p in split_args(text[j + 1:end - 1]):
                p = re.sub(r"^(implicit|using)\s+", "", p)
                p = re.sub(r"^" + MODS + r"(val|var)\s+", "", p)
                m = IDENT.match(p)
                if m:
                    ps.append((m.group(0), top_level_eq(p) >= 0))
            lists.append(ps)
            j = end
        else:
            return lists


class Def:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def doc_above(src, off):
    """The Scaladoc block right above the line holding `off`, skipping
    annotations; "" when there is none."""
    above = src[:src.rfind("\n", 0, off) + 1].rstrip()
    while ANNOT.search(above):
        above = ANNOT.sub("", above).rstrip()
    if above.endswith("*/") and above.rfind("/**") >= 0:
        return above[above.rfind("/**"):]
    return ""


def declares(doc):
    return DECLARED.search(doc) is not None


def scan_file(path, rel):
    """(code text, declarations) of one file. Each declaration records its
    offset, the end of its body (the next statement of its scope, or the
    scope's closing brace), whether it is a public member of a template
    (an object, class or trait body, not a method body), whether it or an
    enclosing template is declared, and, for a def, its parameter lists."""
    src = open(path, encoding="utf-8").read()
    text = blank(src)
    decls = [m for m in DECL.finditer(text)
             if m.start() == 0 or text[m.start() - 1] in " \t\n{;("]
    starts = {m.start() for m in decls}
    scope_at = {}  # decl offset -> (scope id, template, public, declared)
    stmts = {}  # scope id -> statement offsets
    close_of = {-1: len(text)}  # scope id -> offset of its closing brace
    stack = []  # open braces: (scope id, template, public, declared)
    header = 0
    next_id = 0
    for k, c in enumerate(text):
        if k in starts:
            scope_at[k] = stack[-1] if stack else (-1, True, True, False)
        if c == "{":
            head = text[header:k]
            kws = TEMPLATE_KW.findall(head)
            tpl = bool(kws) and kws[-1] in ("object", "class", "trait")
            priv = tpl and PRIVATE_TEMPLATE.search(head) is not None
            kw_at = header + [m.start() for m in TEMPLATE_KW.finditer(head)][-1] \
                if tpl else k
            decl = tpl and declares(doc_above(src, kw_at))
            _, ptpl, ppub, pdecl = stack[-1] if stack else (-1, True, True, False)
            stack.append((next_id, tpl and ptpl, ppub and not priv,
                          pdecl or decl))
            next_id += 1
            header = k + 1
        elif c == "}":
            if stack:
                close_of[stack.pop()[0]] = k
            header = k + 1
        elif c == ";":
            header = k + 1
        elif c == "\n" and STMT.match(text, k + 1):
            header = k + 1
            sid = stack[-1][0] if stack else -1
            stmts.setdefault(sid, []).append(k + 1)
    line_starts = [0] + [k + 1 for k, c in enumerate(text) if c == "\n"]
    defs = []
    for m in decls:
        s = m.start()
        sid, tpl, pub, scope_declared = scope_at[s]
        sib = stmts.get(sid, [])
        i = bisect.bisect_right(sib, s + 1)
        end = min(sib[i] if i < len(sib) else len(text),
                  close_of.get(sid, len(text)))
        mods = m.group("mods")
        defs.append(Def(
            path=rel, name=m.group("name"), kw=m.group("kw"),
            line=bisect.bisect_right(line_starts, s), start=s, end=end,
            public=tpl and pub and "private" not in mods
            and "protected" not in mods,
            override="override" in mods,
            declared=scope_declared or declares(doc_above(src, s)),
            params=param_lists(text, m.end()) if m.group("kw") == "def" else []))
    return text, defs


def calls(text, name):
    """The argument lists at each mention of `name` in a code text: per
    call, a list of argument lists. A mention without arguments (a value
    passed along, eta-expansion) yields None."""
    res = []
    for m in re.finditer(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])", text):
        if re.search(r"\b(def|class|object|trait|val|var|type)\s+$",
                     text[max(0, m.start() - 12):m.start()]):
            continue
        argls, j = [], m.end()
        while True:
            k = j
            while k < len(text) and text[k] in " \t":
                k += 1
            if k < len(text) and text[k] == "[" and not argls:
                k = match_paren(text, k)
            if k < len(text) and text[k] == "(":
                end = match_paren(text, k)
                argls.append(split_args(text[k + 1:end - 1]))
                j = end
            elif k < len(text) and text[k] == "{":
                j = match_paren(text, k)
                argls.append(["{}"])
            else:
                break
        res.append(argls or None)
    return res


def passes(argl, idx, pname):
    """Whether one argument list passes parameter `pname` at `idx`: by
    name anywhere, or positionally at its own index (Scala allows a
    positional argument after named ones only in its own position)."""
    for i, a in enumerate(argl):
        eq = top_level_eq(a)
        if eq >= 0 and IDENT.fullmatch(a[:eq].strip()):
            if a[:eq].strip() == pname:
                return True
        elif i == idx or (i < idx and a.endswith(": _*")):
            return True
    return False


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    texts, defs = {}, []
    for d in ALL_DIRS:
        for dp, _, fs in os.walk(os.path.join(root, d)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    p = os.path.join(dp, f)
                    rel = os.path.relpath(p, root)
                    texts[rel], ds = scan_file(p, rel)
                    if rel.startswith(MAIN):
                        defs.extend(ds)

    # ---- 1. spec-only public defs, to a fixed point ----
    uses = {}  # name -> [(path, offset)] in caller dirs
    for rel, t in texts.items():
        if rel.startswith(CALLER_DIRS):
            for m in WORD.finditer(t):
                uses.setdefault(m.group(0), []).append((rel, m.start()))
    # declared capabilities are roots: kept, and what they call is reached
    cands = [d for d in defs if d.public and not d.override
             and not d.declared and d.name not in ENTRY_NAMES]
    def fixed_point(cands, dead, ignored):
        """Grow `dead` by every candidate whose uses all fall in its own
        body, in a dead def, or in a caller path `ignored` accepts."""
        def inside_dead(rel, off):
            return any(d.path == rel and d.start <= off < d.end for d in dead)

        changed = True
        while changed:
            changed = False
            for d in cands:
                if d in dead:
                    continue
                if all((rel == d.path and d.start <= off < d.end)
                       or ignored(rel) or inside_dead(rel, off)
                       for rel, off in uses.get(d.name, [])):
                    dead.add(d)
                    changed = True
        return dead

    dead = fixed_point(cands, set(), lambda rel: False)
    spec_only = sorted(dead, key=lambda d: (d.path, d.line))
    print("spec-only public defs: %d" % len(spec_only))
    for d in spec_only:
        print("  %s:%d  %s %s" % (d.path, d.line, d.kw, d.name))
    # the declared public surface nothing in src/main calls: kept because
    # its own or its enclosing template's Scaladoc names the declaring row
    kept = [d for d in defs if d.declared and d.public and not d.override
            and d.name not in ENTRY_NAMES
            and all(rel == d.path and d.start <= off < d.end
                    for rel, off in uses.get(d.name, []))]
    print("declared keeps (Scaladoc names a SURVEY or README row): %d"
          % len(kept))
    for d in kept:
        print("  %s:%d  %s %s" % (d.path, d.line, d.kw, d.name))

    # ---- 2. never-passed defaulted parameters ----
    sigs = [(d.path, d.line, d.name, d.params) for d in defs
            if any(h for ps in d.params for _, h in ps)]
    for rel, t in texts.items():
        if rel.startswith(MAIN):
            for m in re.finditer(r"\bclass\s+([A-Za-z_]\w*)", t):
                lists = param_lists(t, m.end())
                if any(h for ps in lists for _, h in ps):
                    sigs.append((rel, t.count("\n", 0, m.start()) + 1,
                                 m.group(1), lists))
    copy_named = set()
    for t in texts.values():
        for argls in calls(t, "copy"):
            for argl in argls or []:
                for a in argl:
                    if top_level_eq(a) >= 0:
                        copy_named.add(a[:top_level_eq(a)].strip())
    cache, never = {}, []
    for path, line, owner, lists in sigs:
        if owner not in cache:
            cache[owner] = [c for t in texts.values() for c in calls(t, owner)]
        cs = cache[owner]
        for li, ps in enumerate(lists):
            for pi, (pname, has_default) in enumerate(ps):
                if not has_default:
                    continue
                if owner[:1].isupper() and pname in copy_named:
                    continue
                if not any(c is None or (li < len(c) and passes(c[li], pi, pname))
                           for c in cs):
                    never.append((path, line, owner, pname))
    print("never-passed defaulted parameters: %d" % len(never))
    for path, line, owner, pname in sorted(set(never)):
        print("  %s:%d  %s(%s)" % (path, line, owner, pname))

    # ---- 3. tool-only public defs: list 1 with graft/tools discounted ----
    non_tool = [d for d in cands if not d.path.startswith(TOOLS)]
    unreached = fixed_point(non_tool, set(dead),
                            lambda rel: rel.startswith(TOOLS))
    tool_only = sorted((d for d in unreached if d not in dead),
                       key=lambda d: (d.path, d.line))
    print("tool-only public defs (reached only from graft/tools mains): %d"
          % len(tool_only))
    for d in tool_only:
        print("  %s:%d  %s %s" % (d.path, d.line, d.kw, d.name))


if __name__ == "__main__":
    main()
