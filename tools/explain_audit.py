"""Physical-plan audit: summarize every headline query's executed plan.

For each bench headline query (plus any names given as CLI args), build the
DataFrame at the audit SF and count the plan features that decide 100 TB
behavior: shuffle Exchanges, broadcast vs sort-merge joins, whole-stage
codegen spans, and parquet pushed filters. Writes PLANS.md (a committed
artifact — diffs in review catch plan regressions the timing noise hides).

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT_SF = "/root/testdata/sf0.01"

# Names whose GWin > 0 is INTENTIONAL, each with the reason it is benign.
# Contract: a no-partition window is acceptable only when its input is
# provably small — a demoted oracle-baseline twin (the sharded/production
# shape is the headline), or a readout over an already-reduced frame the
# optimizer can't see through (e.g. below a localCheckpoint's LogicalRDD,
# which erases the Aggregate evidence `_global_windows` looks for).
# Anything NOT in this dict with GWin > 0 counts as a violation.
GWIN_EXCEPTIONS: dict[str, str] = {
    "q_encoding_stats": (
        "intentional global-window ORACLE BASELINE kept only to prove the "
        "sharded production form (q_encoding_stats_sharded, the bench "
        "headline) computes the same values; demoted from headlines by "
        "design — see the bench.py comment at its exclusion site"
    ),
    "ml_grid_search": (
        "window ranks the 2-row hyperparameter-grid readout built with "
        "spark.createDataFrame (Python path → LogicalRDD, structurally "
        "opaque to the reduced-input check); the frame is one row per "
        "grid cell by construction, never fact-scale"
    ),
}

# Same contract for the NLJoin column: cartesian shapes that are
# intentional, each with the reason it cannot hit fact×fact scale.
NLJOIN_EXCEPTIONS: dict[str, str] = {
    "dedup_embedding_cosine": (
        "GUARDED all-pairs ORACLE BASELINE: raises above ALLPAIRS_MAX_ROWS "
        "(operators/dedup.py) so the O(n²) plan cannot run at corpus "
        "scale; the production path is dedup_embedding_lsh (SRP-bucketed "
        "equi-join). Kept registered so the LSH variant has an exact "
        "baseline to verify against"
    ),
}


def _global_windows(df) -> int:
    """Count Window nodes with an EMPTY partition spec whose input is NOT
    already reduced (no Aggregate / GlobalLimit / Deduplicate below them in
    the optimized logical plan). An unpartitioned window over a fact-sized
    scan funnels everything through ONE task ("Moving all data to a single
    partition") — the audit flags exactly that shape; windows over tiny
    post-aggregate frames are fine and not counted."""

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    def reduced_below(node) -> bool:
        ch = node.children()
        for i in range(ch.size()):
            for d in walk(ch.apply(i)):
                # LocalRelation/OneRowRelation: a window over a
                # driver-literal frame (e.g. a ranked 2-row grid-search
                # readout) is bounded by construction, same as the NLJoin
                # check's _BOUNDED_NODES.
                if d.getClass().getSimpleName() in (
                    "Aggregate",
                    "GlobalLimit",
                    "Deduplicate",
                    "LocalRelation",
                    "OneRowRelation",
                ):
                    return True
        return False

    plan = df._jdf.queryExecution().optimizedPlan()
    hits = 0
    for node in walk(plan):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
            and not reduced_below(node)
        ):
            hits += 1
    return hits


_BOUNDED_NODES = (
    "Aggregate",
    "GlobalLimit",
    "Deduplicate",
    "LocalRelation",
    "OneRowRelation",
)


def _unbounded_nl_joins(df) -> int:
    """Count Join nodes with NO equi-conjunct (the shapes Spark must plan
    as CartesianProduct / BroadcastNestedLoopJoin) where NEITHER side is
    bounded. A side counts as bounded if (a) structurally reduced — an
    Aggregate / GlobalLimit / Deduplicate / LocalRelation /
    OneRowRelation below it — or (b) carrying an EXPLICIT broadcast()
    hint: the hint is an author-signed size contract (it also survives
    ``localCheckpoint``, which erases the structural evidence by
    rewriting the subtree to a LogicalRDD). A cross join against a 1-row
    aggregate or a hinted centroid table is the engine's standard
    scalar-broadcast idiom and fine at any scale; an UNHINTED,
    unreduced fact × fact with no equality is the accidental O(n·m)
    hazard this column must keep at 0."""

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    def expr_walk(e):
        yield e
        ch = e.children()
        for i in range(ch.size()):
            yield from expr_walk(ch.apply(i))

    def bounded(side) -> bool:
        return any(
            d.getClass().getSimpleName() in _BOUNDED_NODES for d in walk(side)
        )

    def hinted_broadcast(opt_hint) -> bool:
        if not opt_hint.isDefined():
            return False
        strategy = opt_hint.get().strategy()
        return strategy.isDefined() and "broadcast" in str(
            strategy.get().toString()
        ).lower()

    plan = df._jdf.queryExecution().optimizedPlan()
    hits = 0
    for node in walk(plan):
        if node.getClass().getSimpleName() != "Join":
            continue
        cond = node.condition()
        has_equi = bool(cond.isDefined()) and any(
            x.getClass().getSimpleName() in ("EqualTo", "EqualNullSafe")
            for x in expr_walk(cond.get())
        )
        if has_equi:
            continue
        jh = node.hint()
        left_ok = bounded(node.left()) or hinted_broadcast(jh.leftHint())
        right_ok = bounded(node.right()) or hinted_broadcast(jh.rightHint())
        if not left_ok and not right_ok:
            hits += 1
    return hits


def plan_stats(df) -> dict:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    # formatted mode: the tree lists each operator once as "(id) OpName",
    # annotated with "[codegen id : n]"; details repeat names, so count
    # operators from the numbered tree only.
    ops = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
    return {
        "exchanges": ops.count("Exchange"),
        "bcast_joins": ops.count("BroadcastHashJoin")
        + ops.count("BroadcastNestedLoopJoin"),
        "smj": ops.count("SortMergeJoin"),
        "wscg": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "python_rows": ops.count("BatchEvalPython"),
        "arrow": ops.count("ArrowEvalPython") + ops.count("MapInPandas"),
        "global_win": _global_windows(df),
        "nl_join": _unbounded_nl_joins(df),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else AUDIT_SF
    names = [a for a in sys.argv[1:] if not os.path.isdir(a)]

    import bench

    spark, qs = bench.bench_session("explain-audit")
    # Audit the STATIC plan: with AQE on, explain shows an unexecuted
    # AdaptiveSparkPlan wrapper without codegen annotations. The engine
    # runs with AQE enabled (session.py); this switch affects only this
    # audit's view of the plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    full_registry = not names
    if not names:
        # the bench sentinel + headline lists, in bench order
        names = [n for n in dict.fromkeys(bench.SENTINEL + bench.HEADLINE) if n in qs]

    lines = [
        "# Physical-plan audit (generated by tools/explain_audit.py)",
        "",
        f"SF: `{sf_dir}` — counts from `executedPlan` (AQE initial plan).",
        "",
        "Columns: Exchanges (shuffles), BHJ (broadcast joins), SMJ",
        "(sort-merge joins), WSCG (whole-stage-codegen spans), Pushed",
        "(scans with pushed filters), PyRow (row-at-a-time Python — must",
        "be 0), Arrow (vectorized pandas exchanges — intentional only),",
        "GWin (no-partition windows over un-reduced input — single-task",
        "sorts; must be 0 except flagged oracle baselines), NLJoin",
        "(cartesian/nested-loop joins where NEITHER side is bounded by an",
        "aggregate/limit/literal — fact×fact O(n·m) shapes; must be 0).",
        "",
        "| query | Exchanges | BHJ | SMJ | WSCG | Pushed | PyRow | Arrow | GWin | NLJoin |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    def audit_block(block_names: list[str]) -> tuple[list[str], dict[str, int], list[str]]:
        rows: list[str] = []
        totals: dict[str, int] = {}
        violations: list[str] = []
        for name in block_names:
            try:
                s = plan_stats(qs[name](spark, sf_dir))
            except Exception as exc:  # noqa: BLE001
                rows.append(f"| {name} | ERROR: {type(exc).__name__} | | | | | | | | |")
                continue
            for k, v in s.items():
                totals[k] = totals.get(k, 0) + v
            mark = ""
            if s["global_win"] > 0:
                if name in GWIN_EXCEPTIONS:
                    mark += " †"
                else:
                    violations.append(name)
                    mark = " **!**"
            if s["nl_join"] > 0:
                if name in NLJOIN_EXCEPTIONS:
                    mark += " ‡"
                    # accumulate the ACTUAL NLJoin count of excepted queries so
                    # the registry-wide "un-excepted NLJoin" figure subtracts
                    # real plan nodes, not the exception-list length
                    totals["excepted_nl_join"] = (
                        totals.get("excepted_nl_join", 0) + s["nl_join"]
                    )
                elif " **!**" not in mark:
                    violations.append(name)
                    mark += " **!**"
            rows.append(
                f"| {name}{mark} | {s['exchanges']} | {s['bcast_joins']} | {s['smj']} |"
                f" {s['wscg']} | {s['pushed']} | {s['python_rows']} | {s['arrow']} |"
                f" {s['global_win']} | {s['nl_join']} |"
            )
        rows.append(
            f"| **total ({len(block_names)})** | {totals.get('exchanges', 0)} |"
            f" {totals.get('bcast_joins', 0)} | {totals.get('smj', 0)} |"
            f" {totals.get('wscg', 0)} | {totals.get('pushed', 0)} |"
            f" {totals.get('python_rows', 0)} | {totals.get('arrow', 0)} |"
            f" {totals.get('global_win', 0)} | {totals.get('nl_join', 0)} |"
        )
        return rows, totals, violations

    head_rows, head_totals, head_viol = audit_block(names)
    lines.extend(head_rows)
    lines.append("")

    rest_viol: list[str] = []
    if full_registry:
        rest = [n for n in qs if n not in set(names)]
        lines.extend(
            [
                "## Full-registry audit (non-headline entries)",
                "",
                "Every remaining `queries()` name — oracle baselines, streaming,",
                "ml_*, and roundtrip shapes the bench does not time. Same columns.",
                "Flags: **!** = violation (GWin or NLJoin hit outside the",
                "committed exception lists), † = GWIN_EXCEPTIONS entry, ‡ =",
                "NLJOIN_EXCEPTIONS entry (`tools/explain_audit.py`); reasons",
                "below.",
                "",
                "| query | Exchanges | BHJ | SMJ | WSCG | Pushed | PyRow | Arrow | GWin | NLJoin |",
                "|---|---|---|---|---|---|---|---|---|---|",
            ]
        )
        rest_rows, rest_totals, rest_viol = audit_block(rest)
        lines.extend(rest_rows)
        lines.append("")
        if GWIN_EXCEPTIONS or NLJOIN_EXCEPTIONS:
            lines.append("### Named exceptions (intentional, with reasons)")
            lines.append("")
            for n, why in sorted(GWIN_EXCEPTIONS.items()):
                lines.append(f"- † `{n}` — {why}")
            for n, why in sorted(NLJOIN_EXCEPTIONS.items()):
                lines.append(f"- ‡ `{n}` — {why}")
            lines.append("")
        viol = head_viol + rest_viol
        lines.append(
            f"**GWin/NLJoin violations (un-excepted): {len(viol)}**"
            + (f" — {', '.join(viol)}" if viol else "")
        )
        lines.append(
            f"**Registry-wide PyRow: "
            f"{head_totals.get('python_rows', 0) + rest_totals.get('python_rows', 0)}, "
            f"un-excepted NLJoin: "
            f"{head_totals.get('nl_join', 0) + rest_totals.get('nl_join', 0) - head_totals.get('excepted_nl_join', 0) - rest_totals.get('excepted_nl_join', 0)}**"
        )
        lines.append("")

    out = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    n_audited = len(names) + (len(rest) if full_registry else 0)
    print(f"wrote {os.path.abspath(out)} ({n_audited} queries)")
    if full_registry and (head_viol or rest_viol):
        print(f"GWIN VIOLATIONS: {head_viol + rest_viol}")


if __name__ == "__main__":
    main()
