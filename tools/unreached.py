#!/usr/bin/env python3
"""List the src/main members that no entry point reaches.

Usage: python3 tools/unreached.py [srcDir]      (default: src/main/scala)

A name-level reachability pass over the Scala sources. Every member (a
`def`, `val`, `var`, `object`, `class`, `trait` or `type` declared at the
top level or directly inside an object, class or trait) gets a body: its
source text up to the next member at the same or an outer level. The walk
starts from the entry points below and follows names: a reached body that
mentions `foo` reaches every member named `foo` that is visible there (a
plain `private` member only from inside its own top-level template), and
reaching a member reaches the templates that enclose it. Comments do not
count as mentions. String literals count only through their
interpolations (`${...}` and `$Name`), which is how the oracle SQL strings
name shared constants.

A reached template also reaches its `override`, `implicit`, `apply` and
`unapply` members, which the framework or the compiler call without
naming them; `override` members are never reported.

Prints one `path:line  Owner.member` per unreached member that is not in
ALLOW, then one line per stale list entry (an ENTRY that names nothing, an
ALLOW that names nothing or a member the walk reaches), and exits 1 when
it printed any. Name-level means the pass is conservative: two members
that share a name are reached together, so a dead member can hide behind
a live namesake, but a printed member is mentioned nowhere it is visible.
"""
import re
import sys
from pathlib import Path

# Qualified members the walk starts from; `X.*` is every member of X.
ENTRY = {
    "SparkEntry.*",  # the query registry and its contract
    "Bench.*",
    "Verify.*",
    "Tool.*",
    # the export job (main.py's path) and what its callers drive directly
    "Export.runFromEnv",
    "Export.exportAll",
    "Export.writeManifest",
    "PgWire.scan",
    "PgWire.bounds",
    "Jdbc.scan",
    "Schemas.byName",
    # loaded by class name from the session config (Engine.session)
    "GraftExtensions",
}

# Unreached on purpose, one reason each.
ALLOW = {
    "Export.exportStream":
        "the export's Structured Streaming bridge: commit-protocol code on "
        "the paper's path",
    "Export.forceReleaseClaim":
        "operator release of a wedged commit claim: the export's fault "
        "recovery",
}

MEMBER = re.compile(
    r"^(?P<ind>[ \t]*)"
    r"(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+"
    r"|implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(?P<kind>def|val|var|object|class|trait|type)\s+"
    r"(?P<name>[A-Za-z_]\w*)")
TEMPLATE = {"object", "class", "trait"}
IDENT = re.compile(r"[A-Za-z_]\w*")
PRIVATE = re.compile(r"(?:\w+\s+)*private\s")


def strip(src):
    """Blank comments and string literals, keeping line breaks and the
    text of string interpolations (`${...}` bodies and `$Name`)."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            j = i + (3 if triple else 1)
            while j < n:
                if triple and src.startswith('"""', j):
                    while src.startswith('""""', j):
                        j += 1
                    j += 3
                    break
                if not triple and src[j] == "\\":
                    j += 2
                    continue
                if not triple and src[j] == '"':
                    j += 1
                    break
                if interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    out.append(" " + strip(src[j + 1:k]))
                    j = k
                    continue
                if interp and src.startswith("$$", j):
                    j += 2
                    continue
                if interp and src[j] == "$":
                    m = IDENT.match(src, j + 1)
                    if m:
                        out.append(" " + m.group(0) + " ")
                        j = m.end()
                        continue
                out.append("\n" if src[j] == "\n" else "")
                j += 1
            out.append(" ")
            i = j
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            out.append(" " * (j - i))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def members(path):
    """The members of one file, outermost first, each a dict with its
    qualified name, kind, modifiers, line, body and enclosing template."""
    text = strip(path.read_text())
    lines = text.split("\n")
    found = []  # (indent, lineno, kind, name, mods)
    for no, line in enumerate(lines):
        m = MEMBER.match(line)
        if m:
            found.append((len(m.group("ind").expandtabs()), no, m.group("kind"),
                          m.group("name"), m.group("mods")))
    # keep a declaration only when it sits directly in a template: the
    # nearest enclosing declaration is an object/class/trait, or none
    result = []
    stack = []  # (indent, kind, member dict or None)
    for k, (ind, no, kind, name, mods) in enumerate(found):
        while stack and stack[-1][0] >= ind:
            stack.pop()
        d = None
        if not stack or (stack[-1][1] in TEMPLATE and stack[-1][2]):
            end = next((f[1] for f in found[k + 1:] if f[0] <= ind),
                       len(lines))
            if kind in TEMPLATE and k + 1 < len(found) and found[k + 1][1] < end:
                # a template's own body is its header; its members are
                # reached one by one, by name
                end = found[k + 1][1]
            parent = stack[-1][2] if stack else None
            d = dict(path=path, name=name, kind=kind, mods=mods, line=no + 1,
                     body="\n".join(lines[no:end]), parent=parent,
                     qual=f"{parent['qual']}.{name}" if parent else name)
            result.append(d)
        stack.append((ind, kind, d))
    return result


def top(d):
    """The name of the top-level template that encloses member `d`."""
    return d["qual"].split(".", 1)[0]


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
    decls = [d for path in sorted(root.rglob("*.scala"))
             for d in members(path)]
    by_name, implied = {}, {}
    for d in decls:
        # an override is reached with its owner, never by its (shared) name
        if "override" not in d["mods"]:
            by_name.setdefault(d["name"], []).append(d)
        # members the compiler or the framework calls without naming them
        if d["parent"] and (d["name"] in ("apply", "unapply") or any(
                m in d["mods"] for m in ("override", "implicit"))):
            implied.setdefault(id(d["parent"]), []).append(d)

    reached, todo = set(), []

    def reach(d):
        while d and id(d) not in reached:
            reached.add(id(d))
            todo.append(d)
            todo.extend(implied.get(id(d), ()))
            d = d["parent"]  # a member is reached through its owner

    for d in decls:
        owner = d["qual"].rsplit(".", 1)[0]
        if d["qual"] in ENTRY or f"{owner}.*" in ENTRY:
            reach(d)
    while todo:
        d = todo.pop()
        reach(d)
        for name in set(IDENT.findall(d["body"])):
            for t in by_name.get(name, ()):
                # a plain `private` member is visible only inside its own
                # top-level template and that template's companion
                if not PRIVATE.match(t["mods"]) or (
                        t["path"], top(t)) == (d["path"], top(d)):
                    reach(t)

    missing = [d for d in decls
               if id(d) not in reached and "override" not in d["mods"]
               and d["qual"] not in ALLOW]
    for d in missing:
        print(f"{d['path']}:{d['line']}  {d['qual']}")
    # a list entry that no longer means anything hides the next real
    # finding behind it, so stale entries fail the run too
    quals = {d["qual"] for d in decls}
    owners = {q.rsplit(".", 1)[0] for q in quals if "." in q}
    stale = [f"ENTRY {e}: names no declared member" for e in sorted(ENTRY)
             if e not in quals and not (e.endswith(".*") and e[:-2] in owners)]
    unreached = {d["qual"] for d in decls if id(d) not in reached}
    for a in sorted(ALLOW):
        if a not in quals:
            stale.append(f"ALLOW {a}: names no declared member")
        elif a not in unreached:
            stale.append(f"ALLOW {a}: reached, so the entry is stale")
    for line in stale:
        print(line)
    return 1 if missing or stale else 0


if __name__ == "__main__":
    sys.exit(main())
