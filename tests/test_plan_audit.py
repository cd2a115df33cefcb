"""Unit pins for tools/plan_audit.py summarization logic (ADVICE r9:
same-named state operators must not collapse to one entry), and pins
on the plan shape the queries build: Python stages per media query and
eager barriers (``materialize``) per query."""

from __future__ import annotations

import inspect
import re
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


PACKAGE = Path(__file__).resolve().parent.parent / "protarrow_spark"


def test_no_checkpoint_call_outside_materialize() -> None:
    from protarrow_spark.sources import tables

    lines, start = inspect.getsourcelines(tables.materialize)
    allowed = {(Path(tables.__file__).resolve(), n) for n in range(start, start + len(lines))}
    stray = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.(localCheckpoint|checkpoint)\(", line)
        and (path.resolve(), n) not in allowed
    ]
    assert stray == []


#: Eager barriers (``materialize`` calls) each query runs while its
#: DataFrame is built at sf0.001, for every query that reached one
#: before the barrier audit. Adding or dropping a barrier must update
#: this table.
QUERY_BARRIERS = {
    "ann_mmr_select": 1,
    "ann_pq_recall_report": 1,
    "cluster_kmeans_assign_counts": 1,
    "cluster_kmeans_int8_exact": 1,
    "dedup_cluster_assign": 4,
    "dedup_incremental_lsh": 1,
    "dedup_lsh_recall_report": 4,
    "dedup_lsh_recall_sampled": 4,
    "dedup_lsh_verified": 3,
    "dedup_minhash_lsh": 1,
    "dedup_ngram_containment": 1,
    "dedup_ngram_jaccard": 1,
    "dedup_semdedup": 1,
    "dedup_semdedup_bounded": 1,
    "dedup_simhash_hamming": 1,
    "dedup_threshold_sweep": 1,
    "dedup_threshold_sweep_sampled": 1,
    "graph_bfs_hops": 4,
    "graph_common_neighbors": 1,
    "graph_jaccard_similarity": 1,
    "graph_kcore": 1,
    "graph_pagerank": 2,
    "graph_triangle_count": 2,
    "lm_bigram_generate": 7,
    "mine_association_rules": 1,
    "pipeline_ccnet": 1,
    "pipeline_training_corpus": 1,
    "q11_important_parts": 1,
    "q15_top_supplier": 1,
    "report_contamination_direction": 1,
    "report_split_leakage": 4,
    "sample_downweight_cluster_sizes": 4,
    "sample_downweight_duplicates": 4,
    "sketch_cms_heavy_hitters": 1,
    "stream_cms_topk": 0,
    "stream_drift_l1": 2,
    "stream_freshness_lag": 0,
    "text_bpe_encode": 1,
}


def test_barriers_per_query(spark, sf_dir, monkeypatch) -> None:
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from protarrow_spark.queries import all_queries

    assert spark.sparkContext.getCheckpointDir() is None
    calls = []
    local_checkpoint = ClassicDataFrame.localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counted)
    queries = all_queries()
    counts = {}
    for name in QUERY_BARRIERS:
        calls.clear()
        queries[name](spark, sf_dir)  # built, not executed
        counts[name] = len(calls)
    assert counts == QUERY_BARRIERS


def test_materialize_checkpoints_reliably_under_a_checkpoint_dir(spark, sf_dir, tmp_path) -> None:
    from protarrow_spark.queries import all_queries
    from tests.oracle_utils import canonical_rows

    sc = spark.sparkContext
    query = all_queries()["dedup_cluster_assign"]
    local = canonical_rows(query(spark, sf_dir).toPandas())
    sc.setCheckpointDir(str(tmp_path))
    try:
        reliable = canonical_rows(query(spark, sf_dir).toPandas())
        assert any(p.is_file() for p in tmp_path.rglob("*"))
    finally:
        # Later tests keep the local path: PySpark has no public unset.
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    assert reliable == local
