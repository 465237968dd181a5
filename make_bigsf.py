"""Build an sf1.0-scale dataset for the oracle parity sweep at sf1.

No sf1.0 directory ships in /root/testdata (TESTDATA.md stops at 0.1),
so this derives one by REPLICATING the driver's sf0.1 tables 10× with
disjoint key spaces — zero invented distributions: every row is a
driver-generated row with its keys shifted by copy·(max_key+1). Dims
(region, nation) stay single-copy so foreign keys keep resolving; fact
keys (custkey/suppkey/partkey/orderkey, event_id/user_id, doc_id,
vec_id) offset per copy; document text gets a per-copy suffix token so
the LSH band buckets don't degenerate into 10-way identical-copy
cliques (which would quadratically inflate the candidate stage with
pairs that exist in no real corpus).

Output: .testdata_sf1/{table}.parquet next to this file (gitignored —
~170 MB, derived, reproducible). The differential sweep then runs both
engines on the SAME derived data, so the check stays a fair cross-engine
comparison at ~6M lineitem rows / ~100k events... ×10 of every fact.

Usage: python make_bigsf.py [n_copies]      (default 10), then
SPARK_GRAFT_SWEEP_SF_DIR=.testdata_sf1 python sweep_oracles.py [NAME ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from numalogic_prometheus_spark.session import get_session
from numalogic_prometheus_spark.sources.tables import load_table

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".testdata_sf1")

# table -> columns whose key space must be disjoint per copy
_OFFSET_KEYS = {
    "region": (),
    "nation": (),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    spark = get_session(app_name="make-bigsf")
    copies = spark.range(n_copies).select(F.col("id").alias("__copy"))
    for table, keys in _OFFSET_KEYS.items():
        df = load_table(spark, SRC, table)
        if not keys:  # dims replicate as a single copy
            out = df
        else:
            strides = {
                k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys
            }
            out = df.crossJoin(F.broadcast(copies))
            for k in keys:
                out = out.withColumn(
                    k, F.col(k) + F.col("__copy") * F.lit(strides[k])
                )
            if table == "documents":
                # Per-copy TOKEN PREFIX (c<k>_): a bijection on the token
                # space, so every within-copy Jaccard/shingle/minhash
                # relationship is exactly sf0.1's, while cross-copy token
                # sets are disjoint (zero similarity). The corpus becomes
                # 10 independent shards — "10× the data at the same
                # near-dup density". A weaker perturbation (suffix tag)
                # leaves copies as near-dups of each other and inflates
                # every cluster 10× — which super-linearly blows up the
                # recursive-CTE components ORACLE (observed: 25 GB and
                # unbounded runtime at the first attempt), measuring the
                # replication artifact, not the engine.
                out = out.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda t: F.concat(
                                F.lit("c"), F.col("__copy"), F.lit("_"), t
                            ),
                        ),
                        " ",
                    ),
                )
            out = out.drop("__copy")
        # events must land as ONE part file: the streaming entries read
        # it with maxFilesPerTrigger=1, and the driver's testdata ships
        # events as a single file (= one micro-batch, all data inside
        # the watermark). Eight time-scattered part files would arrive
        # as 8 unordered triggers and the 2h watermark would correctly
        # DROP most rows — Structured Streaming semantics, but not the
        # arrival contract the fixtures encode.
        n_parts = 1 if table == "events" else 8
        out.repartition(n_parts).write.mode("overwrite").parquet(
            os.path.join(DST, f"{table}.parquet")
        )
        print(f"{table}: {out.count()} rows", flush=True)


if __name__ == "__main__":
    main()
