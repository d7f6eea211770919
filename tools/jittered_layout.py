"""The N× jittered embeddings layout the scale probes share.

Replica 0 is the source corpus; replica i > 0 shifts vec_id by
i·10,000,000 and adds a deterministic ±5 % jitter per (vec_id, dim),
so replicas are NEAR-dups of the base corpus, not bit-clones, and
bucket occupancy and neighbor structure scale like a real corpus.
Written once per (SRC, repl) to ``layout_dir(repl)`` and reused.
"""

from __future__ import annotations

import os

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def layout_dir(repl: int = 64) -> str:
    return f"/tmp/processor_spark-ann-bits-probe-{repl}x"


def build_layout(spark, repl: int = 64) -> str:
    """Write the repl× layout if it is missing; returns its directory."""
    from pyspark.sql import functions as F

    from processor_spark.sources.fixtures import load

    dst = layout_dir(repl)
    if os.path.isdir(dst):
        return dst
    os.makedirs(dst)
    df = load(spark, SRC, "embeddings")
    parts = []
    for i in range(repl):
        rep = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        if i > 0:
            rep = rep.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, d) -> CAST(x + "
                    f"(((vec_id * 2654435761 + d * 40503 + {i}) % 997) / 997.0"
                    f" - 0.5) * 0.1 AS FLOAT))"
                ),
            )
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    return dst
