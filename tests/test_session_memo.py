"""Session memo hygiene in ``sources/tables.py``: ``evict`` drops a
``session_cached`` entry, a failed loop-scoped build leaves no
unpersisted frame memoized, and ``session_memoized`` keys can never
collide with ``session_checkpointed``'s."""

from __future__ import annotations

import uuid

import pytest

from end2end_data_pipeline_spark.sources import tables
from end2end_data_pipeline_spark.sources.tables import (
    evict,
    frame_memo_tag,
    session_cached,
    session_checkpointed,
    session_memoized,
)


def _frame_key(spark, tag: str) -> tuple:
    return (spark.sparkContext.applicationId, tag)


def test_evict_unpersists_and_forgets_the_cached_frame(spark):
    tag = f"evict-{uuid.uuid4().hex}"
    cached = session_cached(spark, tag, spark.range(5))
    assert cached.count() == 5 and cached.is_cached
    evict(spark, tag)
    assert _frame_key(spark, tag) not in tables._FRAME_MEMO
    assert not cached.is_cached
    assert session_cached(spark, tag, spark.range(3)) is not cached
    evict(spark, tag)
    evict(spark, tag)  # a missing entry is a no-op


def test_failed_cluster_build_leaves_no_bidir_edges_memoized(spark, sf_dir, monkeypatch):
    from end2end_data_pipeline_spark.operators import dedup

    assert dedup._lsh_edges(spark, sf_dir).count() > 0  # round 1 relabels a node
    monkeypatch.setattr(dedup, "MAX_CC_ITERATIONS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup._cluster_labels_build(spark, sf_dir)
    key = _frame_key(spark, frame_memo_tag(sf_dir, "cc_bidir_edges"))
    assert key not in tables._FRAME_MEMO


def test_memoized_and_checkpointed_tags_are_disjoint(spark):
    tag = f"shared-{uuid.uuid4().hex}"
    checkpointed = session_checkpointed(spark, tag, spark.range(2))
    memoized = session_memoized(spark, tag, lambda: spark.range(7))
    assert memoized is not checkpointed
    assert (checkpointed.count(), memoized.count()) == (2, 7)
    assert session_checkpointed(spark, tag, spark.range(9)) is checkpointed
    assert session_memoized(spark, tag, lambda: spark.range(9)) is memoized
