"""Round-6 optimization parity tests: every plan change must produce
bit-identical output to the plan it replaced (the round's contract — no
query may change what it computes).

Covered here:
  * connected_components driver fast path vs the distributed star rounds
  * cosine_topk numpy kernel vs the Catalyst HOF formula (exact doubles)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _cc(spark, driver_max):
    from deduplicate_text_datasets_spark.operators.connected_components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7) % 95) for i in range(100) if i != (i * 7) % 95]
        + [(200, 201), (201, 202), (203, 202), (500, 7), (7, 500)],
        "src long, dst long",
    )
    nodes = spark.range(0, 600).select(F.col("id").alias("node"))
    return sorted(
        map(
            tuple,
            connected_components(
                edges, nodes=nodes, driver_max_edges=driver_max
            ).collect(),
        )
    )


def test_cc_driver_fastpath_matches_star_rounds(spark):
    fast = _cc(spark, 1 << 22)
    slow = _cc(spark, 0)
    assert fast == slow and len(fast) == 600


def test_cc_driver_fastpath_empty_edges(spark):
    from deduplicate_text_datasets_spark.operators.connected_components import (
        connected_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    nodes = spark.range(0, 10).select(F.col("id").alias("node"))
    out = connected_components(empty, nodes=nodes).collect()
    assert sorted((r["node"], r["component"]) for r in out) == [
        (i, i) for i in range(10)
    ]


def test_driver_components_numpy_kernel():
    from deduplicate_text_datasets_spark.operators.connected_components import (
        _driver_components,
    )

    # two chains + a cycle + an isolated pair, shuffled order
    pdf = pd.DataFrame(
        {
            "u": [5, 4, 3, 10, 11, 12, 20, 100, 101, 102],
            "v": [4, 3, 2, 11, 12, 10, 21, 101, 102, 100],
        }
    )
    out = _driver_components(pdf)
    got = dict(zip(out["node"], out["component"]))
    assert got == {
        2: 2, 3: 2, 4: 2, 5: 2,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        100: 100, 101: 100, 102: 100,
    }


def test_cosine_topk_matches_hof_formula(spark):
    """The round-6 numpy scoring kernel must reproduce the Catalyst
    zip_with/aggregate dot-product fold bit-for-bit (sequential cumsum —
    see ann._seq_dot), so ranks, ids AND the rounded cosine match."""
    from deduplicate_text_datasets_spark.operators.ann import (
        _dot,
        _norm,
        cosine_topk,
    )
    from pyspark.sql import Window

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16).astype(np.float32)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    q = queries.select("query_id", F.col("embedding").alias("q_vec"))
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            _dot(F.col("q_vec"), F.col("v"))
            / (_norm(F.col("q_vec")) * _norm(F.col("v"))),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    hof = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )
    got = sorted(map(tuple, cosine_topk(emb, queries, k=5).collect()))
    exp = sorted(map(tuple, hof.collect()))
    assert got == exp


def test_sa_index_int64_layout_backcompat(spark, tmp_path):
    """Round-6 stores int32 SA pointers; readers must still answer from a
    pre-round-6 int64 index (width inferred per row from len(sa)/len(buf))."""
    import numpy as np
    import pandas as pd

    from deduplicate_text_datasets_spark.operators.sa_index import (
        count_occurrences_indexed,
        read_suffix_index,
    )
    from deduplicate_text_datasets_spark.operators.suffix import suffix_array

    buf = np.frombuffer(b"abracadabra arcana abra", dtype=np.uint8)
    sa = suffix_array(buf.copy())
    row = {
        "shard_id": 0,
        "lo": 0,
        "own_hi": len(buf),
        "buf": buf.tobytes(),
        "sa": sa.astype("<i8").tobytes(),  # legacy width
        "shard_bytes": 1 << 20,
        "overlap_bytes": 1024,
        "with_separators": False,
    }
    path = str(tmp_path / "legacy_idx")
    spark.createDataFrame(pd.DataFrame([row])).write.parquet(path)
    idx = read_suffix_index(spark, path)
    out = {
        r["query_id"]: r["count"]
        for r in count_occurrences_indexed(
            idx, [(0, b"abra"), (1, b"zzz")]
        ).collect()
    }
    assert out == {0: 3, 1: 0}
