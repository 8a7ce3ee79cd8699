#!/usr/bin/env python3
"""Which `## <key>` sections of two PLANS.md files differ in plan shape.

Two regenerations of the same catalog differ in run-local noise that says
nothing about a plan: expression ids (`#12`, `#12L`, `obj#7`),
`plan_id=`, `RDD[n]`, process-private `/tmp/...` paths, lambda class
names, object identity hashes (`[B@24cac005`) and the 16-hex tags of
per-corpus artifacts. This masks all of them and prints, per differing
section, its key and a unified diff of the masked text.

Usage:
  python3 tools/plan_diff.py A.md B.md            # keys + diffs
  python3 tools/plan_diff.py --keys A.md B.md     # keys only

Exit status: 0 when no section differs, 1 otherwise.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/_"),
    (re.compile(r"\$\$Lambda[^\s,\)\]]*"), "$$Lambda_"),
    (re.compile(r"(?<=[\w$\[])@[0-9a-f]{1,8}\b"), "@_"),
    (re.compile(r"(?<![0-9a-f])[0-9a-f]{16}(?![0-9a-f])"), "<tag>"),
]


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def sections(path):
    """`{key: [masked lines]}` for every `## <key>` section of `path`."""
    out, key = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                key = line[3:].strip()
                out[key] = []
            elif key is not None:
                out[key].append(mask(line.rstrip("\n")))
    return out


def main(argv):
    keys_only = "--keys" in argv
    files = [a for a in argv if a != "--keys"]
    if len(files) != 2:
        sys.exit(__doc__)
    a, b = (sections(p) for p in files)
    differing = 0
    for key in sorted(a.keys() | b.keys()):
        if key not in b or key not in a:
            differing += 1
            print(f"## {key}: only in {files[0] if key in a else files[1]}")
        elif a[key] != b[key]:
            differing += 1
            print(f"## {key}")
            if not keys_only:
                for line in difflib.unified_diff(a[key], b[key], files[0],
                                                 files[1], n=1, lineterm=""):
                    print(line)
    print(f"{differing} of {len(a.keys() | b.keys())} sections differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
