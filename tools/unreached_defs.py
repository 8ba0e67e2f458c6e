#!/usr/bin/env python3
"""Unreached-definition check for graft's main sources.

Lists every public member def, val and var of a top-level object, class
or trait in src/main/scala whose name no code outside comments mentions
except at its own definition. The names are searched in src/main,
graftbench/src and tools/ (the query map, the benchmark and the gates);
specs under src/test do not count, so a def that only its own spec
reaches is reported.

Every reported def must be in ALLOW below, with its group and a one-line
reason:
  (i)  a production entry point that mirrors the reference's job;
  (ii) a spec seam or reference witness that specs compare against.
A demo that only its own spec reaches belongs to neither group: delete
it together with its spec cases.

The scan is by name, not by type: a def whose name also appears
anywhere else in the searched code counts as reached. `main` methods,
overrides and private or protected members are not listed.

Exit status: 0 when every reported def is allowed and every ALLOW entry
is still reported; 1 otherwise (an unlisted def, or a stale entry).

Usage: python3 tools/unreached_defs.py
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(REPO, "src", "main", "scala")
SEARCH = [MAIN, os.path.join(REPO, "graftbench", "src"),
          os.path.join(REPO, "tools")]

# "<TopLevelName>.<member>" -> (group, reason)
ALLOW = {
    "Backfill.runIncremental": (
        "i", "the README's incremental backfill entry point "
             "(commit-after-sink high-water mark)"),
    "Quantize.opqTopKWith": (
        "ii", "parameter seam: the OPQ recall specs pass their own "
              "rotation and codebooks"),
    "Layout.zValueComposed": (
        "ii", "reference witness: LayoutSpec pins the native ZOrder64 "
              "expression equal to it"),
    "Vectors.dotHof": (
        "ii", "reference witness: the dot-product specs compare the "
              "native expression against it"),
    "StreamingBackfill.ingestDedupLoop": (
        "ii", "its spec pins exact dedup pairs and the replay "
              "self-pair guard, which the fullIngestLoop spec does not"),
    "StreamingBackfill.indexMaintenanceLoop": (
        "ii", "its spec pins postings replay idempotence, which the "
              "fullIngestLoop spec does not"),
    "Backfill.compactFeed": (
        "ii", "reference witness: PipelineSpec pins compactRun equal to "
              "compactFeed(run(...))"),
    "ConfigBootstrap.encrypt": (
        "ii", "spec seam: the fixture-side twin of LocalKms.decrypt that "
              "ConfigSpec builds its ciphertexts with"),
    "IndexChurn.rebucketIfNeeded": (
        "i", "the bucket-count evolution policy of the maintained "
             "indexes, the rebucket twin of compactIfNeeded"),
    "Quantize.opqLearnedRotation": (
        "ii", "parameter seam: the learned rotation the OPQ recall specs "
              "pass to opqTopKWith"),
    "Shim.optimized": (
        "ii", "spec seam: AsOfSpec reads the optimized plan through it"),
}


def strip_scala(src):
    """(code, bare): `code` is `src` without comments (string literals
    kept, they can name a def); `bare` also blanks string literals, for
    brace counting. Newlines survive in both, so line numbers agree."""
    code, bare = [], []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            nl = "\n" * src.count("\n", i, j)
            code.append(nl)
            bare.append(nl)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            code.append(src[i:j])
            bare.append("\n" * src.count("\n", i, j))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            code.append(src[i:j])
            bare.append(" ")
            i = j
        elif c == "'" and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
            code.append(src[i:j])
            bare.append(" ")
            i = j
        else:
            code.append(c)
            bare.append(c)
            i += 1
    return "".join(code), "".join(bare)


def strip_python(src):
    """Python source without `#` comments and without docstrings (a
    triple-quoted string that stands alone as a statement)."""
    src = re.sub(r'(?m)^\s*(?:[rbuRBU]?)("""|\'\'\')(?:.|\n)*?\1\s*$',
                 "", src)
    return re.sub(r"(?m)#.*$", "", src)


DEF = re.compile(r"^\s*((?:[a-z@][\w\[\].]*\s+)*?)(def|val|var)\s+"
                 r"([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(r"^\s*(?:(?:final|sealed|abstract|case|private|"
                      r"private\[\w+\]|implicit)\s+)*"
                      r"(?:object|class|trait)\s+([A-Za-z_]\w*)")


def definitions(path):
    """(top-level name, member, line) for each public member def, val
    or var declared directly in a top-level template of `path`."""
    with open(path, encoding="utf-8") as fh:
        _, bare = strip_scala(fh.read())
    out, depth, top = [], 0, None
    for ln, line in enumerate(bare.split("\n"), 1):
        if depth == 0:
            m = TEMPLATE.match(line)
            if m:
                top = m.group(1)
        elif depth == 1 and top:
            m = DEF.match(line)
            if m:
                mods = m.group(1).split()
                hidden = any(t.startswith(("private", "protected"))
                             or t == "override" for t in mods)
                if not hidden and m.group(3) != "main":
                    out.append((top, m.group(3), ln))
        depth += line.count("{") - line.count("}")
        if depth == 0:
            top = None if not TEMPLATE.match(line) else top
    return out


def searched_code():
    texts = []
    for root in SEARCH:
        for d, _, files in os.walk(root):
            for f in sorted(files):
                p = os.path.join(d, f)
                if p == os.path.abspath(__file__):
                    continue  # ALLOW names every def it lists
                if f.endswith(".scala"):
                    with open(p, encoding="utf-8") as fh:
                        texts.append(strip_scala(fh.read())[0])
                elif f.endswith(".py"):
                    with open(p, encoding="utf-8") as fh:
                        texts.append(strip_python(fh.read()))
    return "\n".join(texts)


def main():
    defs = []
    for d, _, files in os.walk(MAIN):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                defs += [(os.path.relpath(p, REPO), *t)
                         for t in definitions(p)]
    code = searched_code()
    tokens = {}
    for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", code):
        tokens[t] = tokens.get(t, 0) + 1
    defined = {}
    for _, _, name, _ in defs:
        defined[name] = defined.get(name, 0) + 1
    unreached = sorted((f"{top}.{name}", path, ln)
                       for path, top, name, ln in defs
                       if tokens.get(name, 0) <= defined[name])
    bad = [u for u in unreached if u[0] not in ALLOW]
    seen = {u[0] for u in unreached}
    stale = sorted(k for k in ALLOW if k not in seen)
    for key, path, ln in unreached:
        if key in ALLOW:
            group, reason = ALLOW[key]
            print(f"allowed ({group}) {key}  {path}:{ln}  {reason}")
    for key, path, ln in bad:
        print(f"UNREACHED {key}  {path}:{ln}")
    for key in stale:
        print(f"STALE allowlist entry {key}: reached, renamed or gone")
    print(f"== {len(defs)} public defs, {len(unreached)} unreached, "
          f"{len(bad)} not allowed, {len(stale)} stale ==")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main())
