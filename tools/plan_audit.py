"""Generate PLANS.md: a physical-plan audit of every graded batch
query — the scale-readiness evidence behind SURVEY.md §2.3's "100 TB
shape" claims.

For each batch query in the graded window, the tool builds the
DataFrame, executes it (collect at tiny SF — this finalizes AQE in
place; streaming queries run their own jobs and are listed, not
planned), and extracts from the executed physical plan the
properties that decide whether it survives a 1000-executor scale-up:

* join strategies (broadcast hash / sort-merge / shuffled hash —
  and the red-flag nested-loop / cartesian shapes),
* exchange (shuffle) count and partitioning,
* per-scan pushed filters and read-schema width (column pruning),
* whole-stage-codegen coverage.

Run: ``python tools/plan_audit.py [sf_dir]`` (default sf0.001 — plan
shapes are data-independent; AQE may pick broadcast where runtime
stats at larger SFs choose shuffle, which the table notes).
"""

from __future__ import annotations

import re
import sys

JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
    r"CartesianProduct|StreamingSymmetricHashJoin)"
)
RED_FLAGS = ("BroadcastNestedLoopJoin", "CartesianProduct")
SCAN_RE = re.compile(r"FileScan parquet \S*?\[([^\]]*)\][^\n]*")
PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")


def audit_one(plan: str) -> dict:
    joins: dict[str, int] = {}
    for m in JOIN_RE.finditer(plan):
        joins[m.group(1)] = joins.get(m.group(1), 0) + 1
    scans = []
    for m in SCAN_RE.finditer(plan):
        cols = [c.split("#")[0] for c in m.group(1).split(",") if c.strip()]
        pf = PUSHED_RE.search(m.group(0))
        pushed = pf.group(1) if pf else ""
        scans.append((len(cols), pushed))
    return {
        "joins": joins,
        "exchanges": len(re.findall(r"\bExchange ", plan)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", plan)),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": scans,
        "red_flags": [f for f in RED_FLAGS if f in plan],
        "python_eval": len(
            re.findall(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
                r"|MapInArrow|FlatMapGroupsInArrow)",
                plan,
            )
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from protarrow_spark.queries import all_queries
    from protarrow_spark.session import get_spark

    spark = get_spark("plan-audit")
    queries = all_queries()

    # Audit EVERY registered batch query (r8: previously the graded
    # window + a hand-maintained extra list, which went stale each
    # rotation; auditing all of them at sf0.001 costs ~10 min once per
    # round and keeps the table complete by construction). Streaming
    # queries run their own jobs and are listed, not planned.
    audit_names = list(queries)
    rows = []
    stream_rows = []
    flagged = []
    for name in audit_names:
        if name.startswith("stream_"):
            stream_rows.append(_audit_streaming(spark, queries, name, sf_dir))
            continue
        df = queries[name](spark, sf_dir)
        # Execute df's OWN query execution (collect, tiny SF) so AQE
        # finalizes it in place: what we audit is the plan that
        # actually ran — runtime join upgrades, coalesced shuffles,
        # and codegen annotations included. A noop-sink write would
        # finalize a separate QueryExecution and leave this one
        # un-annotated.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit_one(plan)
        if a["red_flags"]:
            flagged.append((name, a["red_flags"]))
        joins = (
            ", ".join(f"{k.replace('Join','')}x{v}" if v > 1 else k.replace("Join", "")
                      for k, v in sorted(a["joins"].items()))
            or "—"
        )
        widest = max((c for c, _ in a["scans"]), default=0)
        pushed = "yes" if any(p for _, p in a["scans"]) else "—"
        py = str(a["python_eval"]) if a["python_eval"] else "—"
        rows.append(
            f"| `{name}` | {joins} | {a['exchanges']}"
            f"{' (+' + str(a['reused_exchanges']) + ' reused)' if a['reused_exchanges'] else ''}"
            f" | {pushed} | {widest} | {a['codegen_spans']} | {py} |"
        )

    out = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        "Batch queries are audited from their AQE-finalized EXPLAIN;",
        "streaming queries (which plan at run time) from their executed",
        "run's StreamingQueryProgress — see the streaming section below.",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Each query is",
        "EXECUTED and the AQE-finalized physical plan audited — runtime join",
        "upgrades, coalesced shuffles, and reused exchanges included (at",
        "larger SFs AQE may demote a broadcast back to shuffle from observed",
        "sizes; the shuffle keys and operator structure are SF-independent).",
        "",
        "Columns: **joins** = physical join operators in the executed plan;",
        "**xchg** = shuffle exchanges (ReusedExchange noted); **pushed** =",
        "parquet scans carry PushedFilters; **scan w** = widest scan's read-",
        "schema column count (column pruning evidence); **wsc** = distinct",
        "whole-stage-codegen spans; **py** = Python/Arrow eval operators",
        "(multimodal + conversion batch paths only, by design).",
        "",
        "| query | joins | xchg | pushed | scan w | wsc | py |",
        "|---|---|---|---|---|---|---|",
        *rows,
        "",
        "**Red-flag scan** (BroadcastNestedLoopJoin / CartesianProduct over",
        "data-sized inputs):",
        "",
    ]
    if flagged:
        out += [f"- `{n}`: {', '.join(fl)}" for n, fl in flagged]
        out += [
            "",
            "(All flags are pinned bounded-broadcast designs — see",
            "tests/test_plan_shapes.py BNLJ_BY_DESIGN: `ann_cosine_topk`",
            "broadcasts a fixed-size query set over a linear corpus scan,",
            "`sketch_kmv_set_ops` combines three SINGLE-ROW scalar",
            "aggregates, `join_bloom_prefilter` rides its <=64 KiB bloom",
            "word array along as a ONE-ROW broadcast, `text_bpe_train`",
            "broadcasts its ONE-ROW merge rule into the fold rewrite,",
            "`dedup_lsh_recall_report`/`_sampled` combine three ONE-ROW",
            "count frames into the report row, `sample_token_budget_mix`",
            "rides two ONE-ROW totals into the quota dimension,",
            "`window_funnel_stages` broadcasts its ONE-ROW stage grid, and",
            "`pairgen_contrastive_negatives` fans out a k-row (k=2) index",
            "frame. Everything else must stay flag-free, enforced by the",
            "same test.)",
        ]
    else:
        out.append("none — every graded batch plan is free of all-pairs operators.")
    out += [
        "",
        "## Streaming queries — stateful-operator audit",
        "",
        "Streaming plans are built by the streaming engine at run time, so",
        "they are audited from the EXECUTED run's StreamingQueryProgress",
        "instead of EXPLAIN: each query runs to completion here and reports",
        "its state operators and final state-row counts. **state ops** =",
        "operator names; **state rows** = total rows held in the state",
        "store at the last micro-batch (the bounded-state evidence: rows",
        "proportional to live KEYS/WINDOWS, never to input volume); **in**",
        "= input rows processed. Stateless ingest queries hold 0 state",
        "rows by construction. Values correctness is gated by the same",
        "DuckDB oracles as batch queries.",
        "",
        "| query | state ops | state rows | in | note |",
        "|---|---|---|---|---|",
        *stream_rows,
        "",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(
        f"PLANS.md written: {len(rows)} batch plans, "
        f"{len(stream_rows)} streaming audits, {len(flagged)} flagged"
    )
    spark.stop()


def _audit_streaming(spark, queries, name: str, sf_dir: str) -> str:
    """Execute one streaming query and summarize its state-operator
    shape from the recorded StreamingQueryProgress."""
    from protarrow_spark.queries import streaming as stream_mod

    try:
        n_out = queries[name](spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001 - report, don't abort the audit
        return f"| `{name}` | ERROR | — | — | {type(exc).__name__}: {exc} |"
    progs = stream_mod.STREAM_PROGRESS.get(name, [])
    # Key by (name, positional index) — a plan can hold two same-named
    # state operators (e.g. chained dedups) and collapsing by name
    # would under-report total state rows. Per instance, the LAST
    # progress wins (final state size after the run).
    ops: dict[tuple[str, int], int] = {}
    n_in = 0
    for p in progs:
        n_in += int(p.get("numInputRows", 0) or 0)
        for idx, so in enumerate(p.get("stateOperators", []) or []):
            op = so.get("operatorName", "state")
            ops[(op, idx)] = int(so.get("numRowsTotal", 0) or 0)
    state_rows = sum(ops.values())
    op_str = ", ".join(sorted({op for op, _ in ops})) if ops else "stateless"
    if not ops:
        note = "zero state — pass-through ingest"
    elif n_in and state_rows < n_in:
        note = "state ∝ keys/windows"
    else:
        # tiny-SF artifact: constant-size sketch grids (CMS width x
        # depth) or overlapping-window expansion exceed the toy input;
        # both are bounded by construction, not by volume
        note = "state constant-size / window-expanded — bounded by construction"
    return (
        f"| `{name}` | {op_str} | {state_rows} | {n_in} | "
        f"{note}; {n_out} output rows |"
    )


if __name__ == "__main__":
    main()
