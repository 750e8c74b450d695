"""State-dir checks of the streaming entity sink that need no Spark job."""

from __future__ import annotations

import os

import pytest

from graph_vulcan_assets_spark.sources.bucketstore import save_meta
from graph_vulcan_assets_spark.streaming.ingest import TemporalGraphStream


def test_state_without_parent_index_is_refused(tmp_path):
    # acknowledged batches with no parent_idx schema: the sink cannot find
    # parent-side edge buckets, so it must refuse the dir, not misread it
    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "_applied"))
    open(os.path.join(state, "_applied", "0"), "w").close()
    with pytest.raises(ValueError, match="parent_idx"):
        TemporalGraphStream(None, state)
    save_meta(state, {"n_buckets": 4, "schemas": {}})
    with pytest.raises(ValueError, match="parent_idx"):
        TemporalGraphStream(None, state)

