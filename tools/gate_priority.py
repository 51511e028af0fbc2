"""Mechanical gate-priority: map files changed since the last round
snapshot onto catalog entries, so anything touched in-round re-enters the
driver's 50-slot verification window (the r6 verdict's process ask: commit
6ab9415 reshaped label_centroids after its last driver row and nothing
forced re-verification).

Dependency tracking is FUNCTION-granular, because the package routes most
cross-module use through function-local imports (hub modules like
sources/cache.py lazily import half the package — module-granular closure
would touch all 200+ entries on any edit):

  - the walk starts at the entry's catalog function and follows, to a
    fixpoint: referenced same-module top-level functions, and
    `from msgvault_spark.x import f` edges where f is a top-level
    function of x;
  - a visited function marks (module, span); the entry is TOUCHED if a
    changed line hits any visited span, or the GLOBAL area (top-level
    imports/constants/helpers outside all top-level function bodies) of
    any visited module;
  - coarse edges stay conservative: `import msgvault_spark.x` or a
    from-import of a non-function (class, constant, submodule) marks the
    whole module x — any change in it touches the entry.

Usage:
    python tools/gate_priority.py            # base = last clean boundary
    python tools/gate_priority.py --base REV

Prints touched entries (the suggested _PRIORITY front) and flags touched
oracle-backed entries missing from the current front 50.
`tests/test_gate_priority.py` enforces the same invariant in CI.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "msgvault_spark"
WINDOW = 50  # the driver verifies the first 50 queries() entries


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


class _ModInfo:
    """Parsed facts about one package module."""

    def __init__(self, module: str, path: pathlib.Path):
        self.module = module
        self.path = path
        tree = ast.parse(path.read_text())
        self.funcs: dict[str, ast.FunctionDef] = {
            n.name: n
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        # module-level from-imports: local name -> (source module, name) —
        # entry functions reference these bare (get_archive, oracle, ...)
        self.top_from: dict[str, tuple[str, str]] = {}
        for n in tree.body:
            if isinstance(n, ast.ImportFrom) and n.module and n.module.startswith(
                "msgvault_spark"
            ):
                for a in n.names:
                    self.top_from[a.asname or a.name] = (n.module, a.name)
        self.spans: dict[str, tuple[int, int]] = {}
        for name, node in self.funcs.items():
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            self.spans[name] = (start, node.end_lineno)
        n_lines = path.read_text().count("\n") + 1
        inside = set()
        for s, e in self.spans.values():
            inside |= set(range(s, e + 1))
        self.global_lines = set(range(1, n_lines + 1)) - inside


def _load_package() -> dict[str, _ModInfo]:
    return {
        _module_name(p): _ModInfo(_module_name(p), p)
        for p in PKG.rglob("*.py")
    }


def _edges(node: ast.AST, pkg: dict[str, _ModInfo]):
    """(func_edges, module_edges) referenced by ``node``: func_edges are
    (module, func) pairs for from-imports of top-level functions;
    module_edges are whole-module dependencies (plain imports, or
    from-imports of classes/constants/submodules)."""
    fedges: set[tuple[str, str]] = set()
    medges: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.name in pkg:
                    medges.add(a.name)
        elif isinstance(n, ast.ImportFrom) and n.module:
            if not n.module.startswith("msgvault_spark"):
                continue
            for a in n.names:
                sub = f"{n.module}.{a.name}"
                if sub in pkg:
                    medges.add(sub)
                elif n.module in pkg:
                    if a.name in pkg[n.module].funcs:
                        fedges.add((n.module, a.name))
                    else:
                        medges.add(n.module)
    return fedges, medges


def _entry_footprint(
    mod: str, fn_name: str, pkg: dict[str, _ModInfo]
) -> tuple[set[tuple[str, str]], set[str]]:
    """Fixpoint walk from one catalog function: returns (visited
    (module, func) set, coarse whole-module dep set). Same-module
    references by bare name follow sibling top-level functions."""
    visited: set[tuple[str, str]] = set()
    coarse: set[str] = set()
    work = [(mod, fn_name)]
    while work:
        m, f = work.pop()
        if (m, f) in visited or m not in pkg or f not in pkg[m].funcs:
            continue
        visited.add((m, f))
        node = pkg[m].funcs[f]
        fed, med = _edges(node, pkg)
        coarse |= med
        work += list(fed)
        for n in ast.walk(node):
            if not isinstance(n, ast.Name):
                continue
            if n.id in pkg[m].funcs:
                work.append((m, n.id))
            elif n.id in pkg[m].top_from:
                src_mod, src_name = pkg[m].top_from[n.id]
                sub = f"{src_mod}.{src_name}"
                if sub in pkg:
                    coarse.add(sub)
                elif src_mod in pkg and src_name in pkg[src_mod].funcs:
                    work.append((src_mod, src_name))
                elif src_mod in pkg:
                    coarse.add(src_mod)  # class/constant: whole module
    # catalog-family coarse deps are registration plumbing, not semantics
    coarse = {
        c for c in coarse if not c.startswith("msgvault_spark.catalog")
    }
    return visited, coarse


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def last_round_rev() -> str | None:
    """Base revision for the touched-entry diff: the newest round
    boundary that can actually serve as one.

    A round boundary is the GROUP of commits sharing a round label
    ("round N: end-of-round snapshot" + "round N: verdict/..."); a
    pipeline boundary ("PR N: ..." or "re-anchor @ ...") is a group of
    its own under the same rule. The r8
    loophole: the driver's snapshot commit can itself carry leftover
    msgvault_spark/ changes (997f7b8 shipped the adapter ID-space fix),
    and diffing against that very commit makes the change invisible —
    the gate test trivially passes while 29 touched entries sit outside
    the window. So a round group is a valid base only if NO commit in it
    touches msgvault_spark/; a dirty group is skipped entirely (its
    changes then land in the diff against the previous clean group and
    re-enter the window)."""
    out = _git(
        "log", "-E",
        "--grep", "^round [0-9]+:",
        "--grep", "^PR [0-9]+:",
        "--grep", "^re-anchor @ ",
        "--format=%H %s",
    ).strip()
    if not out:
        return None
    groups: dict[str, list[str]] = {}
    order: list[str] = []
    for line in out.splitlines():  # newest first
        rev, subject = line.split(" ", 1)
        # "round N", "PR N" or "re-anchor @ ..." (one commit each)
        rnd = subject.split(":", 1)[0]
        if rnd not in groups:
            groups[rnd] = []
            order.append(rnd)
        groups[rnd].append(rev)
    for rnd in order:
        dirty = any(
            _git(
                "diff", "--name-only", f"{rev}^", rev, "--", "msgvault_spark"
            ).strip()
            for rev in groups[rnd]
        )
        if not dirty:
            return groups[rnd][0]  # newest commit of the clean group
    return None


def changed_lines(base: str) -> dict[str, set[int]]:
    """{repo-relative path: changed line numbers (new side)} for
    base..working-tree, msgvault_spark only. Untracked files count whole
    (marker line 0 plus every real line).

    Whitespace-only ADDED lines are dropped: appending a new top-level
    function to a module necessarily adds two blank separator lines in
    the global area, which would flag every entry depending on that
    module even though blank lines cannot change behavior. Deletions
    (n=0 hunks) keep a position marker — removing a global line is a
    real change."""
    diff = _git("diff", "-U0", base, "--", "msgvault_spark")
    out: dict[str, set[int]] = {}
    file_lines: list[str] = []
    cur = None
    for line in diff.splitlines():
        if line.startswith("+++ b/"):
            cur = line[6:]
            out.setdefault(cur, set())
            p = ROOT / cur
            file_lines = p.read_text().splitlines() if p.exists() else []
        elif line.startswith("@@") and cur:
            hunk = line.split("+")[1].split(" ")[0]
            if "," in hunk:
                s, n = (int(x) for x in hunk.split(","))
            else:
                s, n = int(hunk), 1
            if n == 0:  # pure deletion: keep the position marker
                out[cur].add(s)
                continue
            out[cur] |= {
                ln
                for ln in range(s, s + n)
                if ln > len(file_lines) or file_lines[ln - 1].strip()
            }
    for path in _git(
        "ls-files", "--others", "--exclude-standard", "msgvault_spark"
    ).splitlines():
        text = (ROOT / path).read_text()
        out[path] = set(range(0, text.count("\n") + 2))
    return out


def touch_map(base: str | None = None) -> dict[str, set[str]]:
    """{catalog entry: changed modules that touch it} since ``base``
    (default: the last round-snapshot commit). Per-module attribution is
    what lets the gate tell a NARROW change (a leaf operator rewrite
    touching a handful of entries — must re-verify in-round) from a
    BROAD one (a hub/serving-path rewrite touching most of the catalog —
    physically can't fit the window, overflow re-verified out-of-band)."""
    sys.path.insert(0, str(ROOT))
    from msgvault_spark.catalog import CATALOG

    base = base or last_round_rev()
    if base is None:
        return {}
    changed = changed_lines(base)
    if not changed:
        return {}
    pkg = _load_package()
    path_of = {m: str(i.path.relative_to(ROOT)) for m, i in pkg.items()}
    changed_mods = {
        m for m, p in path_of.items() if changed.get(p)
    }

    out: dict[str, set[str]] = {}
    for name, e in CATALOG.items():
        fn = e.fn
        mod = fn.__module__
        if mod not in pkg:
            continue
        visited, coarse = _entry_footprint(mod, fn.__name__, pkg)
        causes = set(coarse & changed_mods)
        mods_seen = {m for m, _ in visited} | {mod}
        for m in mods_seen:
            if m in causes:
                continue
            lines = changed.get(path_of[m], set())
            if not lines:
                continue
            if lines & pkg[m].global_lines:
                causes.add(m)  # imports/constants/oracle builders
                continue
            spans = [
                pkg[m].spans[f] for mm, f in visited if mm == m
            ]
            if any(
                s <= ln <= en for s, en in spans for ln in lines
            ):
                causes.add(m)
        if causes:
            out[name] = causes
    return out


def touched_entries(base: str | None = None) -> list[str]:
    """Catalog entries (registration order) whose implementation changed
    since ``base`` (default: the last round-snapshot commit)."""
    return list(touch_map(base))


def must_verify_entries(base: str | None = None) -> list[str]:
    """Entries touched by at least one NARROW change — a changed module
    whose own blast radius fits the gate window. These are non-evictable:
    a leaf rewrite (the r10 semantic-decontamination flip) must get an
    in-round driver row no matter how large the total touched set is,
    because the out-of-band full-oracle sweep is the only other evidence
    and the driver gate is the contract. Broad hub changes may overflow;
    narrow ones may not."""
    tm = touch_map(base)
    per_module: dict[str, list[str]] = {}
    for entry, mods in tm.items():
        for m in mods:
            per_module.setdefault(m, []).append(entry)
    return [
        entry
        for entry, mods in tm.items()
        if any(len(per_module[m]) <= WINDOW for m in mods)
    ]


def main() -> int:
    base = None
    if "--base" in sys.argv:
        base = sys.argv[sys.argv.index("--base") + 1]
    base = base or last_round_rev()
    if base is None:
        print("no round-snapshot commit found; pass --base")
        return 1
    sys.path.insert(0, str(ROOT))
    touched = touched_entries(base)
    must = must_verify_entries(base)
    print(f"# base {base[:12]} — {len(touched)} touched entries "
          f"({len(must)} by narrow changes)")
    for t in touched:
        tag = "  # narrow" if t in must else ""
        print(f'    "{t}",{tag}')
    import __spark_entry__ as se

    front = list(se.queries())[:WINDOW]
    from msgvault_spark.catalog import CATALOG

    oracle_touched = [
        t for t in touched if CATALOG[t].oracle_sql is not None
    ]
    # structural rule (r10 verdict #1): an entry touched by a NARROW
    # change must hold a window slot REGARDLESS of how big the broad
    # touched set is — overflow tolerance never applies to it
    missing_must = [
        t
        for t in must
        if CATALOG[t].oracle_sql is not None and t not in front
    ]
    if missing_must:
        print(f"\n# NARROW-CHANGE entries MISSING from front {WINDOW}: "
              f"{missing_must}")
        return 2
    missing = [t for t in oracle_touched if t not in front]
    if len(oracle_touched) > WINDOW:
        extra = [f for f in front if f not in touched]
        print(
            f"\n# {len(oracle_touched)} touched > window {WINDOW}: "
            f"front must be ALL touched; interlopers: {extra or 'none'}"
        )
        return 2 if extra else 0
    if missing:
        print(f"\n# MISSING from front {WINDOW}: {missing}")
        return 2
    print(f"\n# all touched oracle-backed entries are in the front {WINDOW}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
