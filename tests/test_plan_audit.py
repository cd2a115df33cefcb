"""Unit pins for tools/plan_audit.py summarization logic (ADVICE r9:
same-named state operators must not collapse to one entry)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import plan_audit  # noqa: E402

from protarrow_spark.queries import streaming as stream_mod  # noqa: E402


class _FakeDF:
    def count(self) -> int:
        return 3


def test_audit_streaming_sums_same_named_state_operators(monkeypatch) -> None:
    name = "fake_two_dedups"
    monkeypatch.setitem(
        stream_mod.STREAM_PROGRESS,
        name,
        [
            {
                "numInputRows": 10,
                "stateOperators": [
                    {"operatorName": "dedupe", "numRowsTotal": 4},
                    {"operatorName": "dedupe", "numRowsTotal": 6},
                ],
            },
            {
                # later progress: per-instance last-wins
                "numInputRows": 90,
                "stateOperators": [
                    {"operatorName": "dedupe", "numRowsTotal": 5},
                    {"operatorName": "dedupe", "numRowsTotal": 7},
                ],
            },
        ],
    )
    row = plan_audit._audit_streaming(
        None, {name: lambda spark, sf: _FakeDF()}, name, "/nonexistent"
    )
    # 5 + 7 = 12 state rows, NOT 7 (name-collapsed last-wins)
    assert "| 12 |" in row
    assert "| 100 |" in row
    assert "dedupe" in row


def test_audit_one_counts_arrow_python_stages() -> None:
    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=true",
            "+- FlatMapGroupsInArrow [bucket#3], bucket_pairs(id#0L, v#1)#4, [id_a#5L]",
            "   +- MapInArrow score(id#0L, v#1)#6, [query_id#7L], false",
            "      +- ArrowEvalPython [keys(v#1)#8], [pythonUDF0#9], 200",
            "         +- MapInPandas legacy(id#0L)#10, [id#11L], false",
            "            +- FileScan parquet [id#0L,v#1] PushedFilters: []",
        ]
    )
    assert plan_audit.audit_one(plan)["python_eval"] == 4
