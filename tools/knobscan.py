#!/usr/bin/env python3
"""Report `src/main` code that only tests exercise.

Usage: python3 tools/knobscan.py [REPO_ROOT]

Scans the Scala sources of src/main and perfbench/src (the code that runs:
the engine and the benchmark harness) with comments and string contents
removed, and prints two lists:

  (a) src/main definitions (def, val, var, object, class, trait, type)
      whose name no other place in that code mentions;
  (b) src/main default parameters that no call site in that code sets,
      positionally or by name.

A name is matched as a whole identifier, so an overloaded or common name
("count", "apply") reads as referenced wherever any of its namesakes is:
the lists can miss dead code but do not name live code, apart from what
only reflection or a string reaches. `override`s, `apply` and the objects
that hold a `main` are not listed. A report, not a gate: it always exits 0.
"""
import collections
import os
import re
import sys

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
DEF_RE = re.compile(
    r"\b((?:(?:override|private|protected|final|lazy|implicit|case|sealed|abstract)(?:\[\w+\])?\s+)*)"
    r"(def|val|var|object|class|trait|type)\s+(" + IDENT + r")")
SKIP_NAMES = {"main", "apply", "unapply", "toString", "equals", "hashCode"}


def strip(src):
    """`src` with comments and string contents blanked (newlines kept, so
    line numbers hold). An interpolated string keeps its `${...}` and
    `$name` parts: they are code."""
    out, i, n = [], 0, len(src)

    def blank(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j])); i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append(blank(src[i:j])); i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            q = '"""' if triple else '"'
            j = i + len(q)
            body = []
            while j < n and not src.startswith(q, j):
                if not triple and src[j] == "\\":
                    body.append("  "); j += 2
                elif interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0); k += 1
                    body.append(" " + src[j + 1:k]); j = k
                elif interp and src[j] == "$" and j + 1 < n and (src[j + 1].isalpha() or src[j + 1] == "_"):
                    m = re.match(IDENT, src[j + 1:])
                    body.append(" " + m.group(0)); j += 1 + m.end()
                else:
                    body.append("\n" if src[j] == "\n" else " "); j += 1
            if triple:  # a closing run of quotes ends with the last three
                while src.startswith('""""', j): body.append(" "); j += 1
            out.append(q + "".join(body) + q); i = j + len(q)
        elif c == "'" and re.match(r"'(\\.|\\u[0-9a-fA-F]{4}|[^\\\n])'", src[i:i + 8]):
            m = re.match(r"'(\\.|\\u[0-9a-fA-F]{4}|[^\\\n])'", src[i:i + 8])
            out.append("' '" + " " * (m.end() - 3)); i += m.end()
        else:
            out.append(c); i += 1
    return "".join(out)


def scala_files(root, rel):
    top = os.path.join(root, rel)
    for dp, _, fs in os.walk(top):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(dp, f)


def matching(text, i, open_c, close_c):
    """Index just past the bracket closing the one at text[i]."""
    depth = 0
    for j in range(i, len(text)):
        if text[j] == open_c: depth += 1
        elif text[j] == close_c:
            depth -= 1
            if depth == 0: return j + 1
    return len(text)


def split_top(s, base=0):
    """The (offset, text) of each top-level comma-separated part of an
    argument or parameter list; offsets count from `base`."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s + ","):
        if ch in "([{": depth += 1
        elif ch in ")]}": depth -= 1
        elif ch == "," and depth == 0:
            part = s[start:i]
            if part.strip():
                parts.append((base + start + len(part) - len(part.lstrip()), part.strip()))
            start = i + 1
    return parts


def param_lists(text, j):
    """The (start, body) of each parenthesized list from text[j] on, type
    parameters and whitespace between lists skipped."""
    out = []
    while True:
        k = j
        while k < len(text) and text[k] in " \t\n": k += 1
        if k < len(text) and text[k] == "[":
            k = matching(text, k, "[", "]")
            while k < len(text) and text[k] in " \t\n": k += 1
        if k < len(text) and text[k] == "(":
            e = matching(text, k, "(", ")")
            out.append((k + 1, text[k + 1:e - 1])); j = e
        else:
            return out


def line_of(text, i):
    return text.count("\n", 0, i) + 1


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_files = list(scala_files(root, "src/main"))
    run_files = main_files + list(scala_files(root, "perfbench/src"))
    raw = {p: open(p, encoding="utf-8").read() for p in run_files}
    code = {p: strip(raw[p]) for p in run_files}  # same offsets as raw
    rel = lambda p: os.path.relpath(p, root)

    uses = collections.Counter()
    for t in code.values():
        uses.update(re.findall(IDENT, t))

    defs = []  # (path, offset, modifier, kind, name)
    for p in main_files:
        for m in DEF_RE.finditer(code[p]):
            defs.append((p, m.start(), m.group(1), m.group(2), m.group(3)))
    n_defs = collections.Counter(d[4] for d in defs)

    print("(a) src/main definitions that no src/main or perfbench/src code references")
    a = [(p, o, kind, name) for p, o, mod, kind, name in defs
         if "override" not in mod and name not in SKIP_NAMES and uses[name] <= n_defs[name]
         and not (kind == "object" and re.search(r"\bdef\s+main\s*\(", code[p]))]
    for p, o, kind, name in a:
        print(f"  {rel(p)}:{line_of(code[p], o)}  {kind} {name}")
    print(f"  -- {len(a)} definitions")

    print("(b) src/main default parameters that no src/main or perfbench/src call site sets")
    knobs = []
    for p, o, mod, kind, name in defs:
        if "override" in mod or kind not in ("def", "class"):
            continue
        text = code[p]
        for li, (start, body) in enumerate(param_lists(text, o + len(DEF_RE.match(text, o).group(0)))):
            for pi, (at, prm) in enumerate(split_top(body, start)):
                m = re.match(r"(?:implicit\s+)?(?:val\s+|var\s+)?(" + IDENT + r")\s*:[^=]*?=(?![=>])\s*", prm)
                if m:
                    default = raw[p][at + m.end():at + len(prm)]
                    knobs.append((p, at, name, li, pi, m.group(1), " ".join(default.split())))
    named_arg = re.compile(r"(" + IDENT + r")\s*=(?![=>])")

    def sets(t, m, li, pi, prm):
        """Whether the mention of a name at `m` is a call setting parameter
        `pi` (named `prm`) of its parameter list `li`."""
        if re.search(r"\b(def|class|object|trait|val|var)\s+$", t[max(0, m.start() - 12):m.start()]):
            return False
        lists = param_lists(t, m.end())
        if len(lists) <= li:
            return False
        args = [x for _, x in split_top(lists[li][1])]
        named = {named_arg.match(x).group(1) for x in args if named_arg.match(x)}
        return prm in named or sum(1 for x in args if not named_arg.match(x)) > pi

    b = []
    for p, at, name, li, pi, prm, default in knobs:
        mention = re.compile(r"(?<![\w$])" + re.escape(name) + r"\b")
        if not any(sets(t, m, li, pi, prm) for t in code.values() for m in mention.finditer(t)):
            b.append((p, at, name, prm, default))
    for p, start, name, prm, default in b:
        print(f"  {rel(p)}:{line_of(code[p], start)}  {name}({prm} = {default})")
    print(f"  -- {len(b)} default parameters")


if __name__ == "__main__":
    main()
