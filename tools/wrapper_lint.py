#!/usr/bin/env python3
"""Wrapper lint: every public def of the `graft.api.Pipelines` API must be
reached by the declared queries.

The oracle gate, the vacuity lint and PlanLint see only what the declared
queries run. A public `Pipelines` def that no other `src/main` file calls
is a second copy of some capability that none of those checks covers, so
fixes reach one copy and not the other. The lint lists every public def
of `graft/api/Pipelines.scala` that no other file under `src/main/scala`
names as `Pipelines.<name>` (a qualified call or a single import) or in
an `import graft.api.Pipelines.{...}` list, and exits 1 if there is any.
Comments are stripped first, and a bare name is not enough: `hits`,
`pack` or `psi` also occur as local identifiers.

Usage:
  python3 tools/wrapper_lint.py [--src src/main/scala]
"""
import argparse
import os
import re
import sys

PIPELINES = os.path.join("graft", "api", "Pipelines.scala")
DEF = re.compile(r"^  def (\w+)", re.M)
IMPORT_LIST = re.compile(r"import graft\.api\.Pipelines\.\{([^}]*)\}")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="src/main/scala")
    args = ap.parse_args()

    pipelines = os.path.join(args.src, PIPELINES)
    names = sorted(set(DEF.findall(open(pipelines).read())))

    others = []
    for root, _, files in os.walk(args.src):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".scala") and os.path.normpath(path) != os.path.normpath(pipelines):
                others.append(COMMENT.sub("", open(path).read()))
    corpus = "\n".join(others)
    reached = set(re.findall(r"\bPipelines\.(\w+)", corpus))
    for group in IMPORT_LIST.findall(corpus):
        reached.update(name.strip().split(" ")[0] for name in group.split(","))

    unused = [n for n in names if n not in reached]
    for n in unused:
        print(f"UNUSED Pipelines.{n}: referenced from no other file under {args.src}")
    print(f"wrapper lint: {len(names)} public defs, {len(names) - len(unused)} reached, "
          f"{len(unused)} unused")
    return 1 if unused else 0


if __name__ == "__main__":
    sys.exit(main())
