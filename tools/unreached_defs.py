#!/usr/bin/env python3
"""Public `def`s in src/main whose name appears nowhere else.

A def is public when its line carries no `private` or `protected`
modifier and no `override` (an override is reached through its parent),
and is not in FRAMEWORK: Spark members that graft implements without
`override` because they are abstract there.
Its name is unreached when, as a whole word, it occurs exactly once in
the Scala and Python sources under src/main, src/test, perfbench/src and
tools/: at the def itself. Such a def has no catalog key, test, caller or
scaladoc link, and is a candidate for deletion; reference surface that
only the source paper's service reaches is not, and is judged by hand.

With --tests-only it lists instead the public defs whose name occurs
outside its def only under src/test: surface that specs pin but no
catalog key, benchmark or tool reaches.

Usage (from the repository root):
  python3 tools/unreached_defs.py               # one `path:line name` per def
  python3 tools/unreached_defs.py --tests-only

Exit status: 0 when nothing is found, 1 otherwise.
"""
import os
import re
import sys
from collections import Counter

ROOTS = ["src/main", "src/test", "perfbench/src", "tools"]
SUFFIXES = (".scala", ".py")
DEF = re.compile(r"^\s*((?:\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)")
HIDDEN = {"private", "protected", "override"}
FRAMEWORK = {"getPartition"}


def sources():
    for root in ROOTS:
        for dirpath, _, files in os.walk(root):
            for name in sorted(files):
                if name.endswith(SUFFIXES):
                    yield os.path.join(dirpath, name)


def count_words(texts):
    return Counter(w for t in texts for w in re.findall(r"[A-Za-z_]\w*", t))


def main():
    tests_only = "--tests-only" in sys.argv[1:]
    texts = {}
    for path in sources():
        with open(path, encoding="utf-8") as f:
            texts[path] = f.read()
    words = count_words(texts.values())
    # occurrences outside src/test: the def itself is always one of them
    outside = count_words(t for p, t in texts.items()
                          if not p.startswith("src/test"))
    found = []
    for path, text in texts.items():
        if not (path.startswith("src/main") and path.endswith(".scala")):
            continue
        for n, line in enumerate(text.splitlines(), 1):
            m = DEF.match(line)
            if not m:
                continue
            mods = {w.split("[")[0] for w in m.group(1).split()}
            name = m.group(2)
            if mods & HIDDEN or name in FRAMEWORK:
                continue
            if (outside[name] == 1 < words[name]
                    if tests_only else words[name] == 1):
                found.append(f"{path}:{n} {name}")
    for f in found:
        print(f)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
