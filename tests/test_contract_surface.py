"""Guards on the driver-contract surface in __spark_entry__.py:
the oracle map stays aligned with queries(), the rotating 50-entry
driver window keeps pointing at queries with no driver-side green row
yet (the round-4 rotation contract — a careless reorder would quietly
burn the round's 50 hard checks on already-verified entries), and
every query outside an explicit baseline list runs deepee_spark code,
so its green oracle row certifies the engine rather than a copy.
"""

from __future__ import annotations

import ast
import glob
import json
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_key_has_a_query_and_vice_versa():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q, f"oracle keys without a query: {sorted(o - q)}"
    # every query is oracle-backed in this repo (no weaker rows-only
    # checks left); if a future non-SQL-expressible op relaxes this,
    # list it here explicitly
    assert q <= o, f"queries without an oracle: {sorted(q - o)}"
    assert len(q) >= 190


def test_driver_window_holds_only_never_green_entries():
    seen: set[str] = set()
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r0*.json"))):
        with open(p) as fh:
            seen |= set(json.load(fh))
    if not seen:  # fresh checkout without driver artifacts
        return
    names = list(entry.queries())
    window = names[:50]
    never_green = [q for q in names if q not in seen]
    outside = [q for q in never_green if q not in window]
    assert not outside, (
        "never-driver-green queries outside the 50-entry driver window: "
        f"{outside}"
    )
    if len(never_green) >= 50:  # enough to fill the window on their own
        stale = [q for q in window if q in seen]
        assert not stale, (
            "driver window wastes hard checks on already-green queries: "
            f"{stale}"
        )


# Queries that run no deepee_spark code on purpose: plain relational
# SQL or contract-local fixtures with no engine operator to route
# through. Everything else must reach the engine.
BASELINE = {
    "q1_pricing_summary": "TPC-H Q1 aggregate over lineitem",
    "q5_nation_revenue": "TPC-H Q5 six-table join",
    "q_top_orders": "TPC-H top-k orders by revenue",
    "j9_interval_join": "TPC-H orders x lineitem date-interval join",
    "u2_confidence_transfer": "orders-table threshold filter and union",
    "sc6_digit_normalize": "customer-name regexp_replace, no engine twin",
    "a2_bag_argmax": "events max_by per user",
    "a3_prf_counters": "events-table P/R/F1 counters (tuple_set_prf is pytest-covered)",
    "a7_sample_weight": "lexicon-hit weight column, one expression",
    "a8_max_length": "max token count + 12, one aggregate",
    "f3_keep_events": "events per-user count filter",
    "f4_negative_cap": "events two-level window negative cap",
    "j10_eval_intersection": "events click/purchase bucket intersection",
    "j11_event_transitions": "events lag() transition counts",
    "json_props_stats": "events get_json_object histogram",
    "sc4_label_pretty": "event_type label string rewrite",
    "u1_union_posneg": "events positive/negative union",
    "u3_intersect_users": "events DataFrame.intersect",
    "w3_topk_per_type": "events per-type top-k window",
    "w4_fold_slice": "events pmod fold counts",
    "kg_fact_latest": "events latest-wins window, no engine twin",
    "kg_functional_conflicts": "events distinct-object count per subject",
    "bag_truncate_pad": "DMCNN bag top-K + pad as expressions, no engine twin",
    "j5_template_fanout": "ontology lexicon x role-rule cross join",
    "qa_question_templates": "ontology question-string fan-out",
    "s7_embedding_scan": "embedding-to-text formatting scan",
    "sc9_pad_truncate": "slice/concat padding (featurize.pad_to was deleted)",
    "sc10_relative_positions": "relative-position transform (featurize twin deleted)",
    "sc12_lexical_window": "anchor window (featurize.lexical_window deleted)",
    "sc13_dep_edges": "synthetic edge-string parse, no engine twin",
}


def _engine_import(node: ast.AST) -> bool:
    if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
        mods = (
            [f"deepee_spark.{a.name}" for a in node.names]
            if node.module == "deepee_spark"
            else [node.module]
        )
    elif isinstance(node, ast.Import):
        mods = [a.name for a in node.names]
    else:
        return False
    return any(
        m.split(".")[0] == "deepee_spark"
        and not m.startswith("deepee_spark.ontology")
        for m in mods
    )


def test_non_baseline_queries_reach_engine():
    """Walk each queries() function's AST, following calls to other
    module-level names, and require a deepee_spark import other than
    the ontology constants — either inside a reached function or as a
    module-level import that a reached function uses."""
    with open(os.path.join(REPO, "__spark_entry__.py")) as fh:
        tree = ast.parse(fh.read())
    defs: dict[str, ast.AST] = {}
    engine_names: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node
        elif _engine_import(node):
            engine_names |= {(a.asname or a.name).split(".")[0] for a in node.names}

    memo: dict[str, bool] = {}

    def reaches(name: str, path: frozenset = frozenset()) -> bool:
        if name in memo:
            return memo[name]
        hit = False
        for sub in ast.walk(defs[name]):
            if _engine_import(sub) or (
                isinstance(sub, ast.Name)
                and (
                    sub.id in engine_names
                    or (
                        sub.id in defs
                        and sub.id not in path
                        and sub.id != name
                        and reaches(sub.id, path | {name})
                    )
                )
            ):
                hit = True
                break
        memo[name] = hit
        return hit

    ret = next(n for n in ast.walk(defs["queries"]) if isinstance(n, ast.Return))
    fns = {k.value: v.id for k, v in zip(ret.value.keys, ret.value.values)}
    assert set(fns) == set(entry.queries())
    inline = {q for q, fn in fns.items() if not reaches(fn)}
    assert not inline - set(BASELINE), (
        "queries that run no deepee_spark code: route them through the "
        f"engine operator they re-implement: {sorted(inline - set(BASELINE))}"
    )
    assert not set(BASELINE) - inline, (
        f"baseline entries that now reach the engine: {sorted(set(BASELINE) - inline)}"
    )
