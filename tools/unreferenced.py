#!/usr/bin/env python3
"""List public engine API that nothing but its own specs calls.

Usage: python3 tools/unreferenced.py

Scans every top-level `object` and `class` under src/main/scala outside
the gate battery (graft/ops/) for its public term members: `def`, `val`,
`var` and `lazy val` declared directly in its body. A member is in use
when another file under src/main/scala or perfbench/src names it:

  - an object member qualified by its object or an import alias of it
    (`Obj.member`, or `Obj(...)` for `apply`), or through an import
    (`import ...Obj.member`, `import ...Obj.{member, ...}`, or
    `import ...Obj._` followed by a bare `member` in that file);
  - a class member after any `.` (the receiver's type is not resolved).

It is also in use when code of its own file that is in use names it
(string literals count here, for kernels a `StaticInvoke` calls by
name): code outside any member, `override`s and `main`s, allowlisted
members, and members in use, to a fixpoint. Otherwise comments and
string literals are ignored. Specs under src/test do not count: a
member that only its own spec calls is what this scan finds.

Prints one `Owner.member  path:line` line per member not in use, then
each allowlisted member that no other file names, with its reason.
Exits 1 when a member not in use is not on the allowlist.
"""
import os
import re
import sys

ROOTS = ["src/main/scala", "perfbench/src"]
SCANNED = "src/main/scala"
SKIP_DIR = os.path.join("graft", "ops") + os.sep

# Members kept although no other file calls them, one reason each.
TWIN = "composed reference twin that {} checks the native kernel against"
ALLOW = {
    "SparkEntry.entry":
        "the driver contract: the external runner calls it by name",
    "Functions.isoDurationSeconds": TWIN.format("NativeDurationSpec"),
    "Dedup.baseShingleHashes": TWIN.format("NativeMinHashSpec"),
    "Dedup.minhashSignatureComposed": TWIN.format("NativeMinHashSpec"),
    "Similarity.cosineComposed": TWIN.format("NativeVectorSpec"),
    "JdbcSink.keyClearSql":
        "the reference's child-table DELETE, run against Derby and DuckDB by the sink specs",
    "SubjectPivot.unrouted":
        "the reference's unrouted-subject check, run by SubjectPivotSpec",
}

DECL = re.compile(
    r"^\s*((?:(?:final|implicit|lazy|override|private(?:\[\w+\])?|"
    r"protected(?:\[\w+\])?|inline)\s+)*)(def|val|var)\s+([A-Za-z_]\w*)")
OWNER = re.compile(
    r"^((?:(?:final|sealed|abstract|private(?:\[\w+\])?)\s+)*)"
    r"(object|class)\s+([A-Za-z_]\w*)")


def strip(src: str, keep_strings: bool = False) -> str:
    """Blank out comments and (unless `keep_strings`) string and char
    literals, keeping line breaks."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * src.count("\n", i, j))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j] if keep_strings
                       else '""' + "\n" * src.count("\n", i, j))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1] if keep_strings else '""')
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4]):
            j = src.find("'", i + 1 + (src[i + 1] == "\\"))
            out.append("' '")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def sources():
    for root in ROOTS:
        for d, dirs, files in os.walk(root):
            dirs.sort()
            if "target" in dirs:
                dirs.remove("target")
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        yield p, fh.read()


class Member:
    def __init__(self, owner, kind, name, mods, first):
        self.owner, self.kind, self.name = owner, kind, name
        self.public = not re.search(r"private|protected", mods)
        self.override = "override" in mods
        self.first, self.last = first, first


def members(text):
    """Every term member declared directly in a top-level object or
    class, with the line span of its declaration and body."""
    out, depth, owner = [], 0, None
    lines = text.split("\n")
    for no, line in enumerate(lines):
        if owner is None and depth == 0:
            m = OWNER.match(line)
            if m and "private" not in m.group(1):
                owner, kind = m.group(3), m.group(2)
        elif owner is not None and depth == 1:
            m = DECL.match(line)
            if m:
                out.append(Member(owner, kind, m.group(3), m.group(1), no))
        if out and out[-1].owner == owner and owner is not None:
            out[-1].last = no
        depth += line.count("{") - line.count("}")
        if owner is not None and depth == 0 and ("}" in line or not line.strip()):
            owner = None
    return out


def used(owner, kind, member, others):
    w = re.escape(member)
    o = re.escape(owner)
    for text in others:
        if kind == "class":
            if re.search(r"\.\s*" + w + r"\b", text):
                return True
            continue
        # `import a.{Obj => Alias}` qualifies members by the alias too
        quals = "|".join([o] + re.findall(
            r"^\s*import\s[^\n]*\b" + o + r"\s*=>\s*(\w+)", text, re.M))
        if re.search(r"\b(?:" + quals + r")\s*\.\s*" + w + r"\b", text):
            return True
        if member == "apply" and re.search(
                r"(?<!new )\b(?:" + quals + r")\s*[\(\[]", text):
            return True
        for imp in re.finditer(r"^\s*import\s+([^\n]*)", text, re.M):
            sel = re.search(r"\b" + o + r"\.(\{[^}]*\}|\w+|_|\*)", imp.group(1))
            if not sel:
                continue
            names = re.findall(r"\w+|\*", sel.group(1))
            if member in names:
                return True
            if ("_" in names or "*" in names) and re.search(
                    r"\b" + w + r"\b", text.replace(imp.group(0), "")):
                return True
    return False


def main():
    files = dict(sources())
    bare = {p: strip(t) for p, t in files.items()}
    unlisted, kept = [], []
    for path in files:
        if not path.startswith(SCANNED) or SKIP_DIR in path:
            continue
        others = [t for p, t in bare.items() if p != path]
        lines = strip(files[path], keep_strings=True).split("\n")
        ms = members(strip(files[path]))
        spans = {i for m in ms for i in range(m.first, m.last + 1)}
        # Roots: code outside any member, overrides (called by the
        # framework), allowlisted members and members another file names.
        live_text = [l for i, l in enumerate(lines) if i not in spans]
        reason = {m: ALLOW.get(f"{m.owner}.{m.name}") for m in ms}
        live = {m for m in ms if m.override or reason[m] or m.name == "main"
                or (m.public and used(m.owner, m.kind, m.name, others))}
        # Within the file, a member is reached when live code names it.
        grew = True
        while grew:
            text = "\n".join(live_text + [
                l for m in live for l in lines[m.first:m.last + 1]])
            grew = False
            for m in ms:
                if m not in live and re.search(
                        r"\b" + re.escape(m.name) + r"\b", text):
                    live.add(m)
                    grew = True
        for m in ms:
            if not m.public or m.override or m.name == "main":
                continue
            where = f"{m.owner}.{m.name}  {path}:{m.first + 1}"
            if m not in live:
                unlisted.append(where)
            elif reason[m] and not used(m.owner, m.kind, m.name, others):
                kept.append(f"{where}  (kept: {reason[m]})")
    for line in unlisted + kept:
        print(line)
    print(f"{len(unlisted)} unreferenced, {len(kept)} allowlisted")
    sys.exit(1 if unlisted else 0)


if __name__ == "__main__":
    main()
