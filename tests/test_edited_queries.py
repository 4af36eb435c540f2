"""Unit tests for the static call graph in scripts/edited_queries.py,
which picks the edited-query axis of the slow parity gate
(tests/test_parity_gate.py): git diff -> decorator-inclusive ast spans
-> intra-package call graph.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))


def test_decorator_hunks_attribute_to_the_decorated_def():
    """A hunk inside a @query(oracle=...) block sits BELOW the
    previous def in raw git hunk-context terms, but belongs to the
    DECORATED function. Spans must include decorator lines."""
    import ast

    from edited_queries import _ModuleIndex

    src = '''\
def previous_query(spark, sf):
    return 1


@query(
    "next_query",
    oracle="""
    SELECT changed_line_here
    """,
)
def next_query(spark, sf):
    return 2
'''
    idx = _ModuleIndex("m")
    idx.visit(ast.parse(src))
    prev = idx.defs["m::previous_query"]
    nxt = idx.defs["m::next_query"]
    oracle_line = src.splitlines().index("    SELECT changed_line_here") + 1
    assert nxt[0] <= oracle_line <= nxt[1], "oracle hunk outside next span"
    assert not (prev[0] <= oracle_line <= prev[1]), (
        "oracle hunk wrongly inside the previous def's span"
    )


def test_module_level_assign_flags_only_referencing_defs():
    """A changed module-level constant flags the defs that READ it,
    not the whole module; decorator registration machinery (`query`)
    is excluded from refs so registry-factory churn can't flood."""
    import ast

    from edited_queries import _ModuleIndex

    src = '''\
THRESHOLD = 5
OTHER = 7


@query("uses_threshold")
def uses_threshold(spark, sf):
    return THRESHOLD


@query("ignores_threshold")
def ignores_threshold(spark, sf):
    return OTHER
'''
    idx = _ModuleIndex("m")
    idx.visit(ast.parse(src))
    assert "THRESHOLD" in idx.refs["m::uses_threshold"]
    assert "THRESHOLD" not in idx.refs["m::ignores_threshold"]
    assert "query" not in idx.refs["m::uses_threshold"]
    # the assignment span is recorded for the module-level-hunk rule
    assert any("THRESHOLD" in names for _, _, names in idx.toplevel_assigns)


def test_ambiguous_attr_edges_need_an_import():
    """`list.append` in a module that never imports the snapshot
    layer must NOT create an edge to SnapshotTable.append — the
    precision guard that keeps the hit set small."""
    from edited_queries import build_edges, build_index

    defs, refs, idx_of_file, terminal = build_index()
    edges = build_edges(defs, refs, idx_of_file, terminal)
    snap_append = (
        "lakehouse_homeserver_spark.sources.snapshot::"
        "SnapshotTable::append"
    )
    assert snap_append in defs
    # text.py uses list.append but does not import the snapshot layer
    text_fns = [q for q in edges if q.startswith(
        "lakehouse_homeserver_spark.operators.text::")]
    assert text_fns
    offenders = [q for q in text_fns if snap_append in edges[q]]
    assert not offenders, offenders
    # acid.py DOES import SnapshotTable: its WAP cert keeps the edge
    wap = "lakehouse_homeserver_spark.operators.acid::a22_wap_publish"
    assert snap_append in edges[wap]
