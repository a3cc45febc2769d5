#!/usr/bin/env python3
"""Class-load census: which compiled engine classes each run loaded.

    python3 tools/class_census.py LOGDIR CLASSDIR

LOGDIR holds the `-Xlog:class+load=info:file=LOGDIR/<run>_%p.log` files
of one or more JVM runs; every file whose name is `<run>_<pid>.log`
counts for the run `<run>`, so a run may span several JVMs. CLASSDIR is
the compiled class tree (`target/scala-2.13/classes`). A class is
counted under its top-level name: `graft.Foo$`, `graft.Foo$Bar` and the
lambda classes `graft.Foo$$Lambda/0x...` all count as `graft.Foo`.

In a run whose name starts with `tier1` the ScalaTest suites run one
after another in one JVM. A suite is a `*Spec` class loaded from a
`test-classes` directory. Its lambda classes are made when the suite is
built, just before its tests run, so each class is put down to the
suite whose lambdas were made last before it loaded. A JVM loads
a class once, so that suite is the FIRST one to use the class, not the
only one.

Prints a markdown table (class -> the runs that loaded it, and for
Tier-1 the first suite), then the classes that no run loaded.
"""
import re
import sys
from collections import defaultdict
from pathlib import Path

LINE = re.compile(r"\]\s*([\w.$/]+) source: (.*)$")
LAMBDA = re.compile(r"^([\w.$]*Spec)\$\$Lambda")


def top(name):
    return name.split("/")[0].split("$")[0]


def compiled(classdir):
    root = Path(classdir)
    return {top(str(p.relative_to(root))[: -len(".class")].replace("/", "."))
            for p in root.rglob("*.class")}


def census(logdir, units):
    """run -> set of units it loaded; unit -> first Tier-1 suite."""
    loaded, first_suite = defaultdict(set), {}
    for log in sorted(Path(logdir).glob("*.log")):
        run = re.sub(r"_\d+$", "", log.stem)
        suites, suite = set(), None
        for line in log.read_text(errors="replace").splitlines():
            m = LINE.search(line)
            if not m:
                continue
            name = m.group(1)
            if "test-classes" in m.group(2) and name.endswith("Spec"):
                suites.add(name)
            s = LAMBDA.match(name)
            if s and s.group(1) in suites:
                suite = s.group(1).rsplit(".", 1)[-1]
            unit = top(name)
            if unit in units:
                loaded[run].add(unit)
                if run.startswith("tier1") and suite:
                    first_suite.setdefault(unit, suite)
    return loaded, first_suite


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    units = compiled(sys.argv[2])
    loaded, first_suite = census(sys.argv[1], units)
    runs = sorted(loaded)
    print("| class | " + " | ".join(runs) + " | first Tier-1 suite |")
    print("|---|" + "---|" * len(runs) + "---|")
    for u in sorted(units):
        marks = " | ".join("x" if u in loaded[r] else "" for r in runs)
        print(f"| `{u}` | {marks} | {first_suite.get(u, '')} |")
    never = sorted(u for u in units if not any(u in loaded[r] for r in runs))
    print()
    print(f"{len(units)} classes, {len(never)} loaded by no run:")
    for u in never:
        print(f"- `{u}`")


if __name__ == "__main__":
    main()
