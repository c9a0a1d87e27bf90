"""Emit the next 50-slot grading window (VERDICT r10 item 7).

The driver grades the FIRST 50 entries of ``queries()`` each round.
Once every registered query has been driver-graded at least once (the
coverage axis closed in round 10), the window becomes a RE-GRADE
rotation with this priority (``PRIORITY_ORDER`` in
``queries/registry.py`` is this tool's output):

  1. never-graded queries (new registrations — same-round discipline);
  2. queries whose last driver row was NON-GREEN (post-fix re-entry);
  3. changed-code-first: queries whose registration span (decorator +
     builder function) or any operator module the builder references
     was touched by a commit AFTER the round that last graded them;
  4. oldest-green fill, round-robin across name-prefix families so
     every §2 family keeps periodic representation.

"Round N's boundary" = the commit that added ``CORRECTNESS_r{N}.json``
(the driver grades round N's final head; the artifact lands at the
start of N+1, so any code commit after that artifact is by
construction newer than the graded code).

Usage: python tools/next_window.py [--json]
Prints one line per slot (rank, reason, query) and a ready-to-paste
PRIORITY_ORDER literal.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERY_DIR = os.path.join(REPO, "hadoop_formats_spark", "queries")
WINDOW = 50

# package modules a builder can reference; module-level change granularity
OP_PACKAGES = ("operators", "functions", "streaming", "seqfile", "plans")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()


def registration_spans() -> dict[str, tuple[str, int, int, set[str]]]:
    """name -> (relpath, start_line, end_line, referenced_module_files).

    The span covers the @register decorator (oracle SQL included)
    through the builder's last line.  Referenced modules = any
    ``from hadoop_formats_spark.X import Y``/``import ... as A`` whose
    alias appears in the builder body (attribute roots + bare names).
    """
    out: dict[str, tuple[str, int, int, set[str]]] = {}
    for path in sorted(glob.glob(os.path.join(QUERY_DIR, "*.py"))):
        rel = os.path.relpath(path, REPO)
        src = open(path).read()
        tree = ast.parse(src)
        # module-level alias -> source module file (only our package)
        alias_file: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                parts = mod.split(".") if mod else []
                # absolute: from hadoop_formats_spark.operators import X
                if node.level == 0 and parts[:1] == ["hadoop_formats_spark"]:
                    pkg_parts = parts[1:]
                # relative from queries/*.py: from ..operators import X
                # (this is the form ext.py/stats.py actually use — the
                # old resolver skipped it, so operator-module changes
                # never re-entered their consumer queries, r14 fix)
                elif node.level == 2:
                    pkg_parts = parts
                else:
                    pkg_parts = None
                if not pkg_parts or pkg_parts[0] not in OP_PACKAGES:
                    continue
                base = os.path.join("hadoop_formats_spark", *pkg_parts)
                for a in node.names:
                    for cand in (
                        base + ".py",                          # module file
                        os.path.join(base, a.name + ".py"),    # submodule
                        os.path.join(base, "__init__.py"),     # package attr
                    ):
                        if os.path.exists(os.path.join(REPO, cand)):
                            alias_file[a.asname or a.name] = cand
                            break
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("hadoop_formats_spark."):
                        parts = a.name.split(".")
                        if len(parts) >= 2 and parts[1] in OP_PACKAGES:
                            f = os.path.join(
                                "hadoop_formats_spark", *parts[1:]
                            ) + ".py"
                            alias_file[a.asname or a.name.split(".")[-1]] = f
        # walk the whole tree: a few registrations are nested inside a
        # deferred-import wrapper (e.g. sample_weighted_quality)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if not node.decorator_list:
                continue
            for dec in node.decorator_list:
                if not (
                    isinstance(dec, ast.Call)
                    and getattr(dec.func, "id", "") == "register"
                    and dec.args
                    and isinstance(dec.args[0], ast.Constant)
                ):
                    continue
                name = dec.args[0].value
                start = min(d.lineno for d in node.decorator_list)
                end = node.end_lineno
                refs: set[str] = set()
                for sub in ast.walk(node):
                    if isinstance(sub, ast.Name) and sub.id in alias_file:
                        refs.add(alias_file[sub.id])
                    elif isinstance(sub, ast.Attribute):
                        root = sub
                        while isinstance(root, ast.Attribute):
                            root = root.value
                        if (
                            isinstance(root, ast.Name)
                            and root.id in alias_file
                        ):
                            refs.add(alias_file[root.id])
                refs = {f for f in refs if os.path.exists(os.path.join(REPO, f))}
                out[name] = (rel, start, end, refs)
    return out


def grade_history() -> dict[str, tuple[int, bool]]:
    """name -> (last_graded_round, last_grade_green)."""
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json", path)
        rnd = int(m.group(1))
        data = json.load(open(path))
        for name, row in data.items():
            green = bool(
                row.get("rows_match")
                and (row.get("schema_match") is not False)
                and (row.get("hash_match") is not False)
            )
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, green)
    return hist


def round_boundary_commits() -> dict[int, str]:
    out: dict[int, str] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rel = os.path.basename(path)
        rnd = int(re.search(r"r(\d+)", rel).group(1))
        h = _git("log", "--diff-filter=A", "--format=%H", "-1", "--", rel)
        if h:
            out[rnd] = h
    return out


def changed_since(
    boundary: str, rel: str, start: int, end: int, refs: set[str]
) -> str | None:
    """Reason string if the query's code changed after ``boundary``."""
    # builder/oracle span (git -L traces the range through history)
    log = _git(
        "log", "--format=%h", "-1", f"-L{start},{end}:{rel}",
        f"{boundary}..HEAD",
    )
    if log:
        return f"span {rel}:{start}-{end} @ {log.splitlines()[0]}"
    for f in sorted(refs):
        log = _git("log", "--format=%h", "-1", f"{boundary}..HEAD", "--", f)
        if log:
            return f"module {f} @ {log}"
    return None


def family(name: str) -> str:
    if re.match(r"q\d+_", name):
        return "tpch"
    return name.split("_")[0]


def main() -> int:
    from hadoop_formats_spark.queries.registry import QUERIES  # noqa: PLC0415

    spans = registration_spans()
    hist = grade_history()
    boundaries = round_boundary_commits()

    missing_span = [n for n in QUERIES if n not in spans]
    if missing_span:
        print(f"WARN: no registration span found for {missing_span}")

    never, nongreen, changed, green = [], [], [], []
    for name in QUERIES:
        if name not in hist:
            never.append((name, "never-graded"))
            continue
        rnd, was_green = hist[name]
        if not was_green:
            nongreen.append((name, f"non-green r{rnd:02d}"))
            continue
        boundary = boundaries.get(rnd)
        reason = None
        if boundary and name in spans:
            rel, s, e, refs = spans[name]
            reason = changed_since(boundary, rel, s, e, refs)
        if reason:
            changed.append((name, f"changed since r{rnd:02d}: {reason}"))
        else:
            green.append((name, rnd))

    # oldest-green fill, round-robin across families for representation
    green.sort(key=lambda t: (t[1], t[0]))
    filled: list[tuple[str, str]] = []
    by_fam: dict[str, list[tuple[str, int]]] = {}
    for name, rnd in green:
        by_fam.setdefault(family(name), []).append((name, rnd))
    fams = sorted(by_fam, key=lambda f: (by_fam[f][0][1], f))
    while any(by_fam.values()):
        for f in fams:
            if by_fam.get(f):
                name, rnd = by_fam[f].pop(0)
                filled.append((name, f"oldest-green r{rnd:02d} [{f}]"))

    window = (never + nongreen + changed + filled)[:WINDOW]
    rest_plan = (never + nongreen + changed + filled)[WINDOW:]

    if "--json" in sys.argv:
        print(json.dumps({"window": [n for n, _ in window]}))
        return 0
    for i, (name, why) in enumerate(window, 1):
        print(f"{i:3d}  {why:55s}  {name}")
    print(f"\n# next-in-line after the boundary: "
          f"{[n for n, _ in rest_plan[:10]]}")
    print("\nPRIORITY_ORDER = [")
    for name, why in window:
        print(f'    "{name}",  # {why.split(" @ ")[0]}')
    print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
