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


#: Python stages (``audit_one``'s ``python_eval``) in the executed plan
#: of every ``mm_*`` batch query at sf0.001, measured while the media
#: stages still ran ``mapInPandas``: the Arrow boundary replaces each
#: stage one for one. AQE's plan string lists the final and the initial
#: plan, so most stages count twice.
MM_PYTHON_STAGES = {
    "mm_audio_fingerprint_match": 5,
    "mm_audio_windows": 1,
    "mm_audio_windows_ulaw": 2,
    "mm_audio_windows_wav": 2,
    "mm_blob_metadata": 0,
    "mm_frame_dedup": 0,
    "mm_frame_sample": 0,
    "mm_image_features": 1,
    "mm_image_features_bmp": 2,
    "mm_image_features_gif": 4,
    "mm_image_features_jpeg": 4,
    "mm_image_features_jpeg_color": 4,
    "mm_image_features_jpeg_progressive": 1,
    "mm_image_features_pgm": 2,
    "mm_image_features_png": 4,
    "mm_image_features_png_adam7": 4,
    "mm_phash_dedup": 2,
    "mm_resize_nearest": 1,
    "mm_scene_cuts": 0,
    "mm_thumbnail_jpeg": 2,
}


def test_media_queries_plan_no_pandas_stage(spark, sf_dir) -> None:
    from protarrow_spark.queries import all_queries

    stages = {}
    for name, fn in sorted(all_queries().items()):
        if not name.startswith("mm_"):
            continue
        df = fn(spark, sf_dir)
        df.collect()  # finalize AQE in place, as plan_audit.main does
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, name
        stages[name] = plan_audit.audit_one(plan)["python_eval"]
    assert stages == MM_PYTHON_STAGES
