"""The NULL-regeneration gate: every round has fixed cross-engine NULL
divergences that the shipped fixtures (zero NULL rows) can never catch.
This suite rebuilds a small corpus WITH NULL text / NULL embeddings and
runs the full Spark-vs-DuckDB comparison for the queries whose round-8
review found latent NULLS-FIRST / dropped-row / contract divergences —
so the class stays dead under any future corpus regeneration."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from crystal_parquet_database_spark.testing import compare_query

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("null_sf"))
    for f in os.listdir(SRC):
        shutil.copy(os.path.join(SRC, f), dst)

    docs = pd.read_parquet(os.path.join(dst, "documents.parquet"))
    # one historical (doc_id < 250) and one new-batch doc lose their text
    docs.loc[docs["doc_id"] == 7, "text"] = None
    docs.loc[docs["doc_id"] == 301, "text"] = None
    extra = pd.DataFrame(
        {
            "doc_id": [10001, 10002],
            "text": [None, None],
            "lang": ["en", "de"],
            "source": ["src0", "src1"],
            "n_chars": [0, 0],
        }
    ).astype(docs.dtypes.to_dict())
    pd.concat([docs, extra], ignore_index=True).to_parquet(
        os.path.join(dst, "documents.parquet"), index=False
    )

    emb = pd.read_parquet(os.path.join(dst, "embeddings.parquet"))
    emb.loc[emb["vec_id"] == 50, "embedding"] = None
    emb.to_parquet(os.path.join(dst, "embeddings.parquet"), index=False)

    ev = pd.read_parquet(os.path.join(dst, "events.parquet"))
    ev.loc[ev.index[:3], "event_type"] = None  # failed-parse events
    ev.loc[ev.index[3:5], "ts"] = pd.NaT       # clockless events
    ev.to_parquet(os.path.join(dst, "events.parquet"), index=False)
    return dst


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact_text",             # NULL text pairs with nothing
        "dedup_incremental_new_vs_index",  # NULL docs stay in the audit
        "sample_source_cap",            # md5(text) window NULLS LAST both sides
        "multimodal_audio_pipeline",    # no content -> no chunk rows, both sides
        "multimodal_image_pipeline",    # no content -> excluded, both sides
        "text_language_id",             # NULL-text guard (r7) stays green
        "agg_mode_per_group",           # NULL event_type tie-break, both sides
        "join_asof_purchase_attribution",  # NULL-ts window frame, both sides
        "events_trending_types_hourly",  # windowless oracle rank (DuckDB 1.0
        # parallel-window flake on NULL input) + NULL tie-break
        "window_sessionize_events",     # NULL-ts sessionizer parity (r7)
        "sim_cosine_topk_bruteforce",   # NULL embedding sinks via _topk
        "sim_pq_recall_at_k",           # NULL embedding sinks in TRUTH ranking too
        "llm_corpus_pipeline",          # NULL text is never a dup, both sides
    ],
)
def test_null_corpus_matches_oracle(spark, null_sf_dir, name):
    ok, msg = compare_query(spark, name, null_sf_dir)
    assert ok, msg


def test_corpus_pipeline_null_text_is_not_dup(spark, null_sf_dir):
    """No content pairs with nothing (dedup_exact_text's contract): none of
    the four NULL-text documents is labeled 'dup' by the pipeline's exact
    dedup stage."""
    from crystal_parquet_database_spark.surface import QUERIES

    out = QUERIES["llm_corpus_pipeline"](spark, null_sf_dir)
    status = {
        r["doc_id"]: r["status"]
        for r in out.filter("doc_id IN (7, 301, 10001, 10002)").collect()
    }
    assert len(status) == 4
    assert "dup" not in status.values()
