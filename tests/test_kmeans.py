"""k-means assignment kernel edge cases."""

from __future__ import annotations

from graph_vulcan_assets_spark.llm.kmeans import np_assign


def test_np_assign_with_no_seeds_is_typed_empty(spark):
    # an empty embeddings table yields no seed centroids; the assignment
    # must be an empty frame with the kernel's columns, not a numpy error
    vecs = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4, 5, 6])], "vec_id long, qarr array<bigint>"
    )
    out = np_assign(vecs, [])
    assert out.columns == ["vec_id", "cid", "d", "qarr"]
    assert out.count() == 0
    # same column types as the non-empty kernel's output
    seeded = np_assign(vecs, [(0, [0, 0, 0])])
    assert [f.dataType for f in out.schema] == [f.dataType for f in seeded.schema]
