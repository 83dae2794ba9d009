#!/usr/bin/env python3
"""Reach census of the engine's defs.

For every public or `private[graft]` member def in `src/main` (overrides
excluded) it reports which entry points reach it, through a call graph
resolved by name:

  query       a `SparkEntry` query (SparkEntry.scala, Queries*.scala)
  job         the job-document dispatch (PipelineJson, Job, Dag, Run)
  harness     a harness main (Bench, Verify, Explain, ScaleUp, Run)
  graftbench  `graftbench/src`, which compiles against `src/main`
  specs       `src/test` only
  nothing     none of the above

Resolution: `Obj.name` goes to the members named `name` of the object,
class or trait `Obj`; a bare `name` goes to the members of the
enclosing templates first; anything else (`expr.name`, imported names)
goes to every member with that name. Reaching a member reaches its
template, and reaching a template reaches its strict vals, its
overrides and its `apply`/`unapply`. The graph only
over-approximates: a def named nowhere on a path from an entry point
is unreached for certain, but one of two overloads is never told apart
from the other. A def reached only through the last, name-only rule
while its name is defined in more than one template is listed as
name-ambiguous.

Usage: python3 tools/reach.py [--all] [--check]

Default output: the count per category, then every def reached by
specs only or by nothing, and the name-ambiguous ones. `--all` prints
one line per def with every category that reaches it. `--check` exits
1 when a def is reached by nothing (name-ambiguous defs are reported,
never failed); otherwise the exit code is 0.
"""
import argparse
import os
import re
import sys
from collections import defaultdict, deque

GROUPS = ["query", "job", "harness", "graftbench", "specs"]
JOB_FILES = {"PipelineJson.scala", "Job.scala", "Dag.scala", "Run.scala"}
HARNESS_OBJECTS = {"Bench", "Verify", "Explain", "ScaleUp", "Run"}

MODIFIERS = {"private", "protected", "override", "final", "implicit",
             "abstract", "sealed", "lazy"}
TEMPLATE_KW = {"object", "class", "trait"}
SELECT = "."                  # qualifier of `expr.name`
MEMBER_KW = {"def", "val", "var", "type"} | TEMPLATE_KW

IDENT = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")
NUMBER = re.compile(r"0[xX][0-9a-fA-F_]+[lL]?|\d[\d_]*(\.\d[\d_]*)?([eE][+-]?\d+)?[lLfFdD]?")
OPCHARS = set("!#%&*+-/:<=>?@\\^|~")
CHAR_LIT = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def tokenize(src, line=1):
    """(kind, text, line) tokens of Scala source: 'id' or 'op'.
    Comments, literals and string text vanish; the code inside a
    `${...}` interpolation and `$name` references are kept."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "\n":
            line += 1; i += 1
        elif c.isspace():
            i += 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth += 1; j += 2
                elif src.startswith("*/", j):
                    depth -= 1; j += 2
                else:
                    j += 1
            line += src.count("\n", i, j); i = j
        elif c == '"':
            interp = bool(out) and out[-1][0] == "id" and i > 0 and \
                (src[i - 1].isalnum() or src[i - 1] == "_")
            if interp:
                out.pop()  # the interpolator (s, f, raw) is no reference
            triple = src.startswith('"""', i)
            j = i + (3 if triple else 1)
            while j < n:
                if triple and src.startswith('"""', j):
                    j += 3
                    while j < n and src[j] == '"':
                        j += 1
                    break
                if not triple and src[j] == '"':
                    j += 1; break
                if not triple and src[j] == "\\":
                    j += 2; continue
                if interp and src[j] == "$":
                    if src.startswith("$$", j):
                        j += 2; continue
                    if j + 1 < n and src[j + 1] == "{":
                        depth, k = 1, j + 2
                        while k < n and depth:
                            depth += {"{": 1, "}": -1}.get(src[k], 0); k += 1
                        out.extend(tokenize(src[j + 2:k - 1],
                                            line + src.count("\n", i, j)))
                        j = k; continue
                    m = IDENT.match(src, j + 1)
                    if m:
                        out.append(("id", m.group(0), line + src.count("\n", i, j)))
                        j = m.end(); continue
                j += 1
            line += src.count("\n", i, j); i = j
        elif c == "'":
            m = CHAR_LIT.match(src, i)
            i = m.end() if m else i + 1
        elif c == "`":
            j = src.find("`", i + 1)
            out.append(("id", src[i + 1:j], line)); i = j + 1
        elif c.isdigit():
            m = NUMBER.match(src, i)
            i = m.end()
        elif c.isalpha() or c in "_$":
            m = IDENT.match(src, i)
            out.append(("id", m.group(0), line)); i = m.end()
        elif c in OPCHARS:
            j = i
            while j < n and src[j] in OPCHARS:
                j += 1
            out.append(("op", src[i:j], line)); i = j
        else:
            out.append(("op", c, line)); i += 1
    return out


class Node:
    def __init__(self, kind, name, owner, path, line, mods, imports):
        self.kind, self.name, self.owner = kind, name, owner
        self.path, self.line, self.mods = path, line, mods
        self.imports = imports
        self.refs = []        # (qualifier or None, name)
        self.members = []     # for templates

    @property
    def qname(self):
        chain, o = [self.name], self.owner
        while o is not None:
            chain.append(o.name); o = o.owner
        return ".".join(reversed(chain))

    @property
    def census(self):
        if self.kind != "def" or "override" in self.mods:
            return False
        access = [m for m in self.mods if m.startswith(("private", "protected"))]
        return not access or access == ["private[graft]"]


def qualifier(tokens, k):
    """`Q` when token k is the `name` of `Q.name`, SELECT when it is
    selected from another expression, None when it stands bare."""
    if k >= 1 and tokens[k - 1][1] == ".":
        return tokens[k - 2][1] if k >= 2 and tokens[k - 2][0] == "id" else SELECT
    return None


def refs_of(tokens):
    """(qualifier, name) for every identifier token that does not name
    a definition."""
    return [(qualifier(tokens, k), t[1]) for k, t in enumerate(tokens)
            if t[0] == "id" and not (k and tokens[k - 1][1] in MEMBER_KW)]


def read_import(toks, i):
    """Index past the import (or package) clause at toks[i], and the
    (template, member) pairs it imports; member "*" for a wildcard."""
    pairs = []
    while True:
        i += 1                    # the keyword, or a comma
        path = []
        while i < len(toks):
            if toks[i][1] == "{":
                i += 1
                while toks[i][1] != "}":
                    if toks[i][0] == "id" and toks[i - 1][1] != "=>":
                        pairs.append((path[-1], "*" if toks[i][1] == "_" else toks[i][1]))
                    i += 1
                i += 1
                break
            path.append(toks[i][1]); i += 1
            if i < len(toks) and toks[i][1] == ".":
                i += 1
            else:
                if len(path) > 1:
                    pairs.append((path[-2], "*" if path[-1] == "_" else path[-1]))
                break
        if i >= len(toks) or toks[i][1] != ",":
            return i, pairs


def parse_file(path, nodes):
    """Member nodes of one src/main file; references attributed to the
    innermost member whose span holds them."""
    toks = tokenize(open(path, encoding="utf-8").read())
    # frame: [kind, template node or None, current member or None]
    stack = [["template", None, None]]
    pending = None            # template node waiting for its body brace
    imports = set()           # file-wide: an import anywhere counts everywhere
    mods, i = [], 0

    def target():
        for f in reversed(stack):
            if f[0] == "template":
                return f[2] or f[1]
        return None

    while i < len(toks):
        kind, text, line = toks[i]
        top = stack[-1]
        member_level = top[0] == "template"
        if kind == "id" and (text == "import" or member_level and text == "package"):
            i, pairs = read_import(toks, i)
            if text == "import":
                imports.update(pairs)
            continue
        if member_level and kind == "id" and text in MODIFIERS:
            mod = text
            if i + 1 < len(toks) and toks[i + 1][1] == "[":
                mod += "[" + toks[i + 2][1] + "]"; i += 3
            mods.append(mod); i += 1
            continue
        if member_level and kind == "op" and text == "@":
            i += 2                # annotation, with optional arguments
            if i < len(toks) and toks[i][1] == "(":
                depth = 0
                while True:
                    depth += {"(": 1, ")": -1}.get(toks[i][1], 0); i += 1
                    if depth == 0:
                        break
            continue
        if member_level and kind == "id" and text == "case" and i + 1 < len(toks) \
                and toks[i + 1][1] in TEMPLATE_KW:
            mods.append("case"); i += 1
            continue
        if member_level and kind == "id" and text in MEMBER_KW:
            names = []
            j = i + 1
            if j < len(toks) and toks[j][1] == "(":     # val (a, b) = ...
                depth = 0
                while True:
                    depth += {"(": 1, ")": -1}.get(toks[j][1], 0)
                    if toks[j][0] == "id":
                        names.append(toks[j][1])
                    j += 1
                    if depth == 0:
                        break
            elif j < len(toks):
                names.append(toks[j][1]); j += 1
            owner = top[1]
            pending = None
            for nm in names:
                nd = Node(text, nm, owner, path, line, mods, imports)
                nodes.append(nd)
                if owner is not None:
                    owner.members.append(nd)
                top[2] = nd
                if text in TEMPLATE_KW:
                    pending = nd
            mods = []
            i = j
            continue
        mods = []
        if kind == "op" and text in "([{" and len(text) == 1:
            if text == "{" and member_level and pending is not None:
                stack.append(["template", pending, None])
                pending = None
            else:
                stack.append(["block" if text == "{" else "paren", None, None])
        elif kind == "op" and text in ")]}" and len(text) == 1:
            if len(stack) > 1:
                stack.pop()
        elif kind == "op" and text == "=" and member_level:
            pending = None
        t = target()
        if t is not None and kind == "id":
            t.refs.append((qualifier(toks, i), text))
        i += 1


def seed_refs(paths):
    """(qualifier, name, imports) for every reference in the files."""
    refs = []
    for p in paths:
        toks = tokenize(open(p, encoding="utf-8").read())
        imports, keep, i = set(), [], 0
        while i < len(toks):
            if toks[i][1] in ("import", "package"):
                keyword = toks[i][1]
                i, pairs = read_import(toks, i)
                if keyword == "import":
                    imports.update(pairs)
                keep.append(("op", ";", 0))
                continue
            keep.append(toks[i]); i += 1
        refs.extend((q, name, imports) for q, name in refs_of(keep))
    return refs


def scala_files(root):
    out = []
    for d, _, fs in os.walk(root):
        out.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(out)


class Graph:
    def __init__(self, nodes):
        self.by_name = defaultdict(list)
        self.templates = defaultdict(list)
        for nd in nodes:
            self.by_name[nd.name].append(nd)
            if nd.kind in TEMPLATE_KW:
                self.templates[nd.name].append(nd)

    def resolve(self, q, name, ctx, imports):
        """(targets, by_name_only) for one reference made in `ctx`."""
        if q is None:
            o = ctx
            while o is not None:
                owner = o if o.kind in TEMPLATE_KW else o.owner
                if owner is None:
                    break
                hit = [m for m in owner.members if m.name == name]
                if hit:
                    return hit, False
                o = owner.owner
            hit = [m for t, sel in imports if sel in ("*", name)
                   for tn in self.templates.get(t, []) for m in tn.members if m.name == name]
            if hit:
                return hit, False
            if name in self.templates:
                return self.templates[name], False
        elif q in self.templates:
            hit = [m for t in self.templates[q] for m in t.members if m.name == name]
            if hit:
                return hit, False
        # a selection from a value, or an inherited member: an instance
        # member of some class or trait
        cands = [m for m in self.by_name.get(name, [])
                 if m.owner is not None and m.owner.kind != "object"]
        return cands, len({id(m.owner) for m in cands}) > 1

    def edges(self, nd):
        out = []
        for q, name in nd.refs:
            targets, amb = self.resolve(q, name, nd, nd.imports)
            out.extend((t, amb) for t in targets)
        if nd.owner is not None:
            out.append((nd.owner, False))
        if nd.kind in TEMPLATE_KW:
            for m in nd.members:
                if "override" in m.mods or m.name in ("apply", "unapply") or \
                        (m.kind in ("val", "var") and "lazy" not in m.mods):
                    out.append((m, False))
        return out

    def reach(self, seeds):
        """node id -> True when reached through a precise edge somewhere,
        False when only through name-only edges of an ambiguous name."""
        seen = {}
        work = deque(seeds)
        while work:
            nd, amb = work.popleft()
            prev = seen.get(id(nd))
            if prev is not None and (prev or amb):
                continue
            seen[id(nd)] = not amb
            for t, a in self.edges(nd):
                work.append((t, amb or a))
        return seen


def census(repo):
    """(def node, categories reaching it, reached precisely) per census def."""
    main = os.path.join(repo, "src", "main")
    nodes = []
    for p in scala_files(main):
        parse_file(p, nodes)
    g = Graph(nodes)

    def resolved(refs):
        out = []
        for q, name, imports in refs:
            targets, amb = g.resolve(q, name, None, imports)
            out.extend((t, amb) for t in targets)
        return out

    def own(pred):
        return [(n, False) for n in nodes if pred(n)]

    base = lambda n: os.path.basename(n.path)
    seeds = {
        "query": own(lambda n: base(n) == "SparkEntry.scala" or base(n).startswith("Queries")),
        "job": own(lambda n: base(n) in JOB_FILES),
        "harness": own(lambda n: n.qname.split(".")[0] in HARNESS_OBJECTS),
        "graftbench": resolved(seed_refs(scala_files(os.path.join(repo, "graftbench", "src")))),
        "specs": resolved(seed_refs(scala_files(os.path.join(repo, "src", "test")))),
    }
    reached = {grp: g.reach(s) for grp, s in seeds.items()}
    rows = []
    for nd in nodes:
        if not nd.census:
            continue
        hits = [grp for grp in GROUPS if id(nd) in reached[grp]]
        precise = any(reached[grp][id(nd)] for grp in hits)
        rows.append((nd, hits, precise))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = census(repo)
    where = lambda nd: f"{os.path.relpath(nd.path, repo)}:{nd.line}"
    counts = defaultdict(int)
    for nd, hits, _ in rows:
        counts[hits[0] if hits else "nothing"] += 1
    if a.all:
        for nd, hits, precise in rows:
            tag = ",".join(hits) or "nothing"
            print(f"{nd.qname:60s} {tag}{'' if precise or not hits else ' (by name)'}  {where(nd)}")
    print(f"{len(rows)} defs: " + ", ".join(
        f"{grp} {counts[grp]}" for grp in GROUPS + ["nothing"]) +
        "  (each counted under the first category that reaches it)")
    specs_only = [r for r in rows if r[1] == ["specs"]]
    nothing = [r for r in rows if not r[1]]
    by_name = [r for r in rows if r[1] and not r[2]]
    if not a.all:
        for title, sel in (("reached by specs only", specs_only),
                           ("reached by nothing", nothing)):
            print(f"-- {title}: {len(sel)}")
            for nd, _, _ in sel:
                print(f"   {nd.qname}  {where(nd)}")
    print(f"-- name-ambiguous (reached only through a name defined in several templates): {len(by_name)}")
    for nd, hits, _ in by_name:
        print(f"   {nd.qname}  {','.join(hits)}  {where(nd)}")
    if a.check and nothing:
        print(f"reach check FAILED: {len(nothing)} def(s) reached by nothing", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
