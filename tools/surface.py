#!/usr/bin/env python3
"""Measure the library's source surface.

  python3 tools/surface.py --lines   code lines per file under src/main/scala, and the total
  python3 tools/surface.py --dead    public defs in src/main that nothing outside their own
                                     specs calls, minus the allowlist below

A code line is a non-blank line once `//` and (nested) `/* */` comments are
stripped; comment markers inside string and character literals are kept.

A def is dead when its name, as a whole word, appears nowhere in the
comment-stripped src/main code except on its own definition lines, nor in the
perfbench sources, nor in README.md. Test code does not count as a caller. The
match is by name only, so a def that shares its name with any other word in
the code is never reported.
"""
import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
PERFBENCH = os.path.join(ROOT, "perfbench")
README = os.path.join(ROOT, "README.md")

# Kept although only their specs call them, one reason each.
ALLOW = {
    "tailAnalysis": "SURVEY 2.4 lists tail analysis among the harness kernels the repo provides",
    "rboStability": "SURVEY 2.4 lists RBO-S among the harness kernels the repo provides",
    "minhashIndexAppend": "oracle of StreamingSpec's stream-vs-batch-fold parity and maintenance laws",
    "runToMemory": "harness of the kept stream tests; moving it into test code saves nothing",
    "dirichletGini": "the G(x) seam that KernelLawsSpec and KernelPropertiesSpec check",
    "rotateQuery": "query half of the kept rotateEmbeddings, used by PqSpec's rotation law",
    "batchesSeen": "IvfIngestMonitor getter: stream observability",
    "rowsAppended": "IvfIngestMonitor getter: stream observability",
    "compactionsRun": "IvfIngestMonitor getter: stream observability",
    "rebuildsRun": "IvfIngestMonitor getter: stream observability",
    "render": "report text of EpsSuggest, printed by spark-shell drives",
}
# Builder.with* are ports of the reference's fluent builder API.
ALLOW_PREFIX = {"with": "Builder.with* ports of the reference's builder API"}

# Reached by the JVM or Spark rather than by a call site: entry points, and
# abstract members implemented without `override`.
LANGUAGE = {"main", "numPartitions", "getPartition"}

DEF_RE = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|inline|@\w+(?:\([^)]*\))?)\s+)*def\s+([A-Za-z_]\w*)")


def strip_comments(text):
    """Return `text` with comments blanked; newlines survive so line numbers hold."""
    out = []
    i, n, depth = 0, len(text), 0
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if c == "\n":
                    out.append(c)
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", text[i:i + 8]):
            m = re.match(r"'(\\.[^']*|[^'\\\n])'", text[i:i + 8])
            out.append(m.group(0))
            i += len(m.group(0))
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def code_lines(path):
    with open(path, encoding="utf-8") as fh:
        return sum(1 for l in strip_comments(fh.read()).splitlines() if l.strip())


def lines():
    rows = sorted((os.path.relpath(p, ROOT), code_lines(p)) for p in scala_files(MAIN))
    for name, n in rows:
        print(f"{n:7d}  {name}")
    print(f"{sum(n for _, n in rows):7d}  total ({len(rows)} files)")


def allowed(name):
    if name in ALLOW:
        return True
    return any(name.startswith(p) and name[len(p):][:1].isupper() for p in ALLOW_PREFIX)


def dead():
    defs = {}  # name -> [(file, line)]
    words = {}  # name -> count of word occurrences in the callers' corpus
    corpus = []
    for p in scala_files(MAIN):
        with open(p, encoding="utf-8") as fh:
            code = strip_comments(fh.read())
        corpus.append(code)
        for ln, line in enumerate(code.splitlines(), 1):
            m = DEF_RE.match(line)
            if m and not re.search(r"\b(private|protected|override)\b", m.group(1) or ""):
                defs.setdefault(m.group(2), []).append((os.path.relpath(p, ROOT), ln))
    for d, _, fs in os.walk(PERFBENCH):
        for f in fs:
            if f.endswith((".scala", ".py")):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    corpus.append(fh.read())
    with open(README, encoding="utf-8") as fh:
        corpus.append(fh.read())
    for text in corpus:
        for w in re.findall(r"[A-Za-z_]\w*", text):
            if w in defs:
                words[w] = words.get(w, 0) + 1
    for name in sorted(defs):
        if name in LANGUAGE or allowed(name):
            continue
        if words.get(name, 0) <= len(defs[name]):
            for f, ln in defs[name]:
                print(f"{f}:{ln}: {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--lines", action="store_true", help="code lines per file and in total")
    g.add_argument("--dead", action="store_true", help="public defs only their own specs call")
    a = ap.parse_args()
    lines() if a.lines else dead()


if __name__ == "__main__":
    sys.exit(main())
