"""Which registered queries does an edit reach? A static call graph.

`compute_hits(base)` maps every registered query reached by package
edits since the git revision `base` (working-tree edits included) to
the changed defs that reach it:

  1. git diff -U0 base, package sources only, NEW-side line ranges;
  2. changed defs: ast spans INCLUDING decorators (a hunk inside a
     @query(oracle=...) block belongs to the decorated function, not
     the previous def); a module-level hunk flags the defs that
     REFERENCE a name it (re)assigns;
  3. changed defs -> queries: a static intra-package call graph —
     Name loads resolved through module symbols/from-imports, plus
     called-attribute names matched against package defs (so shared
     helpers, fixtures and kernels count as "on the result path").
     Attribute names that collide with builtin/pandas/numpy/pyspark
     methods (`append`, `update`, `encode`, ...) only create an edge
     when the calling module actually imports the target's module —
     without that guard every list.append reached
     SnapshotTable.append and the report flooded.

A newly registered query is a hit through its own changed def. The
slow parity gate (tests/test_parity_gate.py) samples
`compute_hits("HEAD~1")`.
"""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "lakehouse_homeserver_spark"
sys.path.insert(0, REPO)


# --------------------------------------------------------------------------
# git diff -> changed NEW-side line ranges
# --------------------------------------------------------------------------

def changed_ranges(base: str) -> dict[str, list[tuple[int, int]]]:
    out = subprocess.run(
        ["git", "diff", "-U0", base, "--", f"{PKG}/"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    ranges: dict[str, list[tuple[int, int]]] = defaultdict(list)
    cur: str | None = None
    for line in out.splitlines():
        if line.startswith("+++ b/"):
            cur = line[6:]
            if not cur.endswith(".py"):
                cur = None
        elif line.startswith("@@") and cur:
            m = re.search(r"\+(\d+)(?:,(\d+))?", line)
            start, n = int(m.group(1)), (
                int(m.group(2)) if m.group(2) is not None else 1
            )
            if n == 0:
                # pure deletion: flag the adjacent NEW-side line so the
                # enclosing def still registers as edited
                ranges[cur].append((max(start, 1), max(start, 1)))
            else:
                ranges[cur].append((start, start + n - 1))
    return dict(ranges)


# --------------------------------------------------------------------------
# ast index: def spans (decorator-inclusive), refs, imports
# --------------------------------------------------------------------------

def _ambiguous_attr_names() -> set[str]:
    """Attribute names owned by builtin/common-library types — an
    attr-call on one of these is usually NOT a package call (e.g.
    list.append vs SnapshotTable.append), so such edges need the
    import-guard in build_edges."""
    names: set[str] = set()
    for t in (str, bytes, dict, list, set, tuple, int, float):
        names.update(n for n in dir(t) if not n.startswith("_"))
    try:
        import numpy as np
        import pandas as pd

        names.update(n for n in dir(np.ndarray) if not n.startswith("_"))
        names.update(n for n in dir(pd.DataFrame) if not n.startswith("_"))
        names.update(n for n in dir(pd.Series) if not n.startswith("_"))
    except ImportError:  # pragma: no cover
        pass
    try:
        from pyspark.sql import Column, DataFrame, SparkSession
        from pyspark.sql import GroupedData

        for t in (DataFrame, Column, SparkSession, GroupedData):
            names.update(n for n in dir(t) if not n.startswith("_"))
    except ImportError:  # pragma: no cover
        pass
    return names


class _ModuleIndex(ast.NodeVisitor):
    def __init__(self, module: str):
        self.module = module
        self.defs: dict[str, tuple[int, int]] = {}
        self.refs: dict[str, set[str]] = {}
        self.imports: dict[str, str] = {}  # local name -> pkg target
        self.toplevel_assigns: list[tuple[int, int, set[str]]] = []
        self.stack: list[str] = []

    def visit_Import(self, node):
        for a in node.names:
            if a.name.startswith(PKG):
                self.imports[a.asname or a.name.split(".")[0]] = a.name

    def visit_ImportFrom(self, node):
        mod = node.module or ""
        if node.level:
            base = self.module.split(".")[: -node.level]
            mod = ".".join(base + ([mod] if mod else []))
        if mod.startswith(PKG):
            for a in node.names:
                self.imports[a.asname or a.name] = f"{mod}::{a.name}"

    def _assign_targets(self, node) -> set[str]:
        names: set[str] = set()
        targets = getattr(node, "targets", None) or (
            [node.target] if getattr(node, "target", None) else []
        )
        for t in targets:
            for sub in ast.walk(t):
                if isinstance(sub, ast.Name):
                    names.add(sub.id)
        return names

    def visit_Assign(self, node):
        if not self.stack:
            self.toplevel_assigns.append(
                (node.lineno, node.end_lineno, self._assign_targets(node))
            )
        self.generic_visit(node)

    visit_AnnAssign = visit_Assign
    visit_AugAssign = visit_Assign

    def _visit_def(self, node):
        qual = "::".join([self.module] + self.stack + [node.name])
        start = min([node.lineno] + [d.lineno for d in node.decorator_list])
        self.defs[qual] = (start, node.end_lineno)
        refs: set[str] = set()
        deco_funcs = set()
        for d in node.decorator_list:
            f = d.func if isinstance(d, ast.Call) else d
            if isinstance(f, ast.Name):
                deco_funcs.add(f.id)
        for sub in ast.walk(node):
            if isinstance(sub, ast.Call):
                f = sub.func
                if isinstance(f, ast.Attribute):
                    refs.add(f"@{f.attr}")
            if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                refs.add(sub.id)
        # Registration machinery is result-neutral: the decorator's own
        # callable (`query`) re-binds every round the registry factory
        # is touched — don't let that flag every query in the module.
        # Its ARGUMENTS (oracle f-strings etc.) stay in refs via walk.
        refs -= deco_funcs
        self.refs[qual] = refs
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_FunctionDef = _visit_def
    visit_AsyncFunctionDef = _visit_def

    def visit_ClassDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()


def build_index():
    defs: dict[str, tuple[str, int, int]] = {}
    refs: dict[str, set[str]] = {}
    idx_of_file: dict[str, _ModuleIndex] = {}
    for path in glob.glob(
        os.path.join(REPO, PKG, "**", "*.py"), recursive=True
    ):
        rel = os.path.relpath(path, REPO)
        module = rel[:-3].replace(os.sep, ".")
        if module.endswith(".__init__"):
            module = module[: -len(".__init__")]
        with open(path) as fh:
            tree = ast.parse(fh.read())
        idx = _ModuleIndex(module)
        idx.visit(tree)
        idx_of_file[rel] = idx
        for q, (s, e) in idx.defs.items():
            defs[q] = (rel, s, e)
        refs.update(idx.refs)
    terminal: dict[str, set[str]] = defaultdict(set)
    for q in defs:
        terminal[q.split("::")[-1]].add(q)
    return defs, refs, idx_of_file, terminal


def build_edges(defs, refs, idx_of_file, terminal):
    ambiguous = _ambiguous_attr_names()
    module_syms: dict[str, dict[str, str]] = defaultdict(dict)
    idx_of_module: dict[str, _ModuleIndex] = {}
    for rel, idx in idx_of_file.items():
        idx_of_module[idx.module] = idx
    for q in defs:
        parts = q.split("::")
        module_syms[parts[0]][parts[-1]] = q
    # modules (transitively one hop) visible to each module via imports
    visible_modules: dict[str, set[str]] = {}
    for module, idx in idx_of_module.items():
        vis = {module}
        for tgt in idx.imports.values():
            vis.add(tgt.split("::")[0])
        visible_modules[module] = vis

    edges: dict[str, set[str]] = {}
    for q, names in refs.items():
        module = q.split("::")[0]
        idx = idx_of_module.get(module)
        vis = visible_modules.get(module, {module})
        out: set[str] = set()
        for n in names:
            if n.startswith("@"):
                attr = n[1:]
                cands = terminal.get(attr, set())
                if not cands:
                    continue
                if attr in ambiguous:
                    # only believe the edge when the calling module
                    # imports the candidate's module (receiver proxy)
                    cands = {
                        c for c in cands if c.split("::")[0] in vis
                    }
                out |= cands
                continue
            if n in module_syms.get(module, {}):
                out.add(module_syms[module][n])
            elif idx is not None and n in idx.imports:
                tgt = idx.imports[n]
                if "::" in tgt:
                    tmod, tname = tgt.split("::", 1)
                    if tname in module_syms.get(tmod, {}):
                        out.add(module_syms[tmod][tname])
        out.discard(q)
        edges[q] = out
    return edges


def reachable(start: str, edges) -> set[str]:
    seen, work = {start}, [start]
    while work:
        cur = work.pop()
        for nxt in edges.get(cur, ()):
            if nxt not in seen:
                seen.add(nxt)
                work.append(nxt)
    return seen


def changed_defs_for(base, defs, idx_of_file, refs) -> set[str]:
    changed: set[str] = set()
    for rel, ranges in changed_ranges(base).items():
        idx = idx_of_file.get(rel)
        file_defs = [(q, s, e) for q, (f, s, e) in defs.items() if f == rel]
        for lo, hi in ranges:
            in_def = False
            for q, s, e in file_defs:
                if s <= hi and lo <= e:
                    changed.add(q)
                    in_def = True
            if in_def or idx is None:
                continue
            # module-level hunk: flag defs that reference a name this
            # hunk (re)assigns — a changed constant reaches its users,
            # import reshuffles/registration lines flag nothing
            assigned: set[str] = set()
            for s, e, names in idx.toplevel_assigns:
                if s <= hi and lo <= e:
                    assigned |= names
            if assigned:
                for q in idx.refs:
                    if idx.refs[q] & assigned:
                        changed.add(q)
    return changed


# --------------------------------------------------------------------------
# main analysis
# --------------------------------------------------------------------------

def _query_defs(qfns, defs):
    """query name -> smallest def span containing its code object (the
    decorator registers the raw fn; factory-made closures map to the
    inner def inside their factory)."""
    q2def: dict[str, str] = {}
    for name, fn in qfns.items():
        code = getattr(fn, "__code__", None)
        while code is None and hasattr(fn, "__wrapped__"):  # pragma: no cover
            fn = fn.__wrapped__
            code = getattr(fn, "__code__", None)
        if code is None:  # pragma: no cover
            continue
        rel = os.path.relpath(code.co_filename, REPO)
        best, best_size = None, None
        for q, (f, s, e) in defs.items():
            if f == rel and s <= code.co_firstlineno <= e:
                if best is None or (e - s) < best_size:
                    best, best_size = q, e - s
        if best is not None:
            q2def[name] = best
    return q2def


def compute_hits(base: str) -> dict[str, list[str]]:
    """Queries reached by edits since `base`, with triggering defs."""
    from lakehouse_homeserver_spark.registry import all_queries

    qfns = all_queries()
    defs, refs, idx_of_file, terminal = build_index()
    edges = build_edges(defs, refs, idx_of_file, terminal)
    changed = changed_defs_for(base, defs, idx_of_file, refs)
    q2def = _query_defs(qfns, defs)
    hits: dict[str, list[str]] = {}
    for name in qfns:
        qdef = q2def.get(name)
        if qdef is None:
            hits[name] = ["<unmapped-def>"]
            continue
        trig = reachable(qdef, edges) & changed
        if trig:
            hits[name] = sorted(trig)
    return hits

