"""Compare two sets of ``tools/qbench.py`` plan dumps after normalizing
the parts of ``explain("formatted")`` text that change from run to run.

Usage:
    python tools/qbench.py --all-explain A_DIR     # e.g. on the parent
    python tools/qbench.py --all-explain B_DIR     # on the change
    python tools/plan_diff.py [--diff] A_DIR B_DIR

Normalized before comparing:
  - expression ids (``#1234`` -> ``#N``)
  - exchange ids (``plan_id=1234`` -> ``plan_id=N``)
  - ``_common_expr_1234`` -> ``_common_expr_N``
  - RDD ids (``MapPartitionsRDD[2280]`` -> ``MapPartitionsRDD[N]``)
  - the random 8-character suffix ``tempfile.mkdtemp`` appends to a
    scratch directory under the temp root.
  - the column list of each distinct-aggregate ``Expand``: Spark's
    distinct rewrite orders and numbers its distinct groups differently
    from run to run, and that order shows in every line that carries
    its ``gid`` column (the Expand's projections, then the Input, Keys,
    Results, sort and partitioning lists and the ``gid = k`` filters
    above it). Such a line compares as a multiset of its tokens, so the
    same columns in another order count as identical.

Prints the name of every plan that differs or exists on one side only
(with ``--diff``, also the unified diff of the normalized text). Exit
status 0 means every plan is identical, 1 that some differ.
"""

from __future__ import annotations

import difflib
import os
import re
import sys
import tempfile

_TMP = re.escape(tempfile.gettempdir())
_RULES = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(_TMP + r"(/[^/\s\],]*?)[a-z0-9_]{8}(?=[/\s\],]|$)",
                re.M), tempfile.gettempdir() + r"\1XXXXXXXX"),
)


_GID = re.compile(r"\bgid#N\b")
_TOKEN_SEP = re.compile(r"[\s,\[\]()]+")


def normalize(text: str) -> str:
    for pattern, repl in _RULES:
        text = pattern.sub(repl, text)
    return "\n".join(
        " ".join(sorted(filter(None, _TOKEN_SEP.split(line))))
        if _GID.search(line) else line
        for line in text.split("\n"))


def _read(path: str) -> str:
    with open(path) as f:
        return normalize(f.read())


def main(argv) -> int:
    show = "--diff" in argv
    dirs = [a for a in argv if a != "--diff"]
    if len(dirs) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a_dir, b_dir = dirs
    a_names, b_names = set(os.listdir(a_dir)), set(os.listdir(b_dir))
    differ = 0
    for name in sorted(a_names | b_names):
        if name not in b_names or name not in a_names:
            side = a_dir if name in a_names else b_dir
            print(f"{name}: only in {side}")
            differ += 1
            continue
        a = _read(os.path.join(a_dir, name))
        b = _read(os.path.join(b_dir, name))
        if a != b:
            print(name)
            differ += 1
            if show:
                sys.stdout.writelines(difflib.unified_diff(
                    a.splitlines(True), b.splitlines(True),
                    os.path.join(a_dir, name), os.path.join(b_dir, name)))
    print(f"{len(a_names | b_names)} plans, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
