"""VERDICT r10 ask #4: SemanticRelease append-drift study — the
24-append analog of the PostingIndex/BandIndex compact() study
(BENCH_SF1.md) for the semantic modality.

PostingIndex/BandIndex have the 24-append table and a wired
auto-compact; SemanticRelease's contract says "re-release when the
corpus doubles" (lifecycle.py class docstring) with no numeric
evidence. This sweep appends 24 monthly crawls against FROZEN
centroids until the corpus has roughly doubled, measuring at
checkpoints:

- probe wall (median of 3 on a fixed held-out crawl);
- mean/max cell occupancy (the per-cell GEMM is O(cell^2 * d), so
  occupancy is the mechanism by which append drift would degrade the
  probe);
- prune QUALITY vs a fresh release: pruned-vector count from the
  standing (frozen-centroid) release vs a release re-built on the
  full appended corpus (auto-k), plus the overlap of the two pruned
  sets — frozen centroids can mis-cell a crawl vector whose true
  nearest neighbor sits in a cell that only exists after re-fit.

Usage: python scripts/ab_semantic24.py [sf_dir]
Emits POINT lines (JSON) consumed into BENCH_SF1.md.
"""
import json
import sys
import time

import os as _os

sys.path.insert(
    0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.operators.lifecycle import (
    SemanticRelease,
    temp_name,
)
from overturelink_data_pipeline_spark.session import (
    ensure_parallelism,
    get_spark,
    read_table,
)

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata/sf1"
N_APPENDS = 24

spark = get_spark(app_name="semantic24", cpus="32")
spark.sparkContext.setLogLevel("ERROR")

emb = ensure_parallelism(read_table(spark, SF, "embeddings")).select(
    "vec_id",
    F.transform("embedding", lambda x: x.cast("double")).alias("v"),
)
base = emb.filter(F.col("vec_id") % 3 == 0)
# fixed held-out probe crawl: verbatim vectors under fresh ids — every
# vector has an exact (cos=1) partner in the release, so the pruned
# count is a stable quality signal
crawl = (
    emb.filter((F.col("vec_id") % 3 == 1) & (F.col("vec_id") % 11 == 0))
    .select((F.col("vec_id") + 90_000_000).alias("vec_id"), "v")
)

rel = SemanticRelease(spark, temp_name("sem24"))
t0 = time.time()
rel.build(base)
print(f"INFO build {time.time() - t0:.1f}s k={rel.k}", flush=True)

# the 24 monthly crawls: the %3==2 third, sliced 24 ways -> the corpus
# roughly doubles by append 24 (the contract's stated re-release point)
appends = [
    emb.filter(
        (F.col("vec_id") % 3 == 2)
        & (F.abs(F.xxhash64("vec_id")) % N_APPENDS == m)
    ).select((F.col("vec_id") + (m + 1) * 10_000_000).alias("vec_id"), "v")
    for m in range(N_APPENDS)
]


def occupancy():
    row = (
        spark.table(rel._assigned)
        .groupBy("cl")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.mean("n").alias("mean"),
            F.max("n").alias("mx"),
            F.count(F.lit(1)).alias("cells"),
        )
        .first()
    )
    return round(row["mean"], 1), row["mx"], row["cells"]


def point(tag):
    pruned = rel.probe(crawl)
    n_pruned = pruned.count()
    ts = []
    for _ in range(3):
        t0 = time.time()
        rel.probe(crawl).count()
        ts.append(time.time() - t0)
    ts.sort()
    mean_occ, max_occ, cells = occupancy()
    rec = {
        "tag": tag,
        "probe_s": round(ts[1], 2),
        "pruned": n_pruned,
        "mean_cell": mean_occ,
        "max_cell": max_occ,
        "cells": cells,
        "corpus_rows": spark.table(rel._assigned).count(),
    }
    print("POINT " + json.dumps(rec), flush=True)
    return rec


point("build")
for m in range(N_APPENDS):
    rel.append(appends[m])
    if m in (5, 11, 17, 23):
        point(f"after_{m + 1}_appends")

# quality vs a FRESH release on the doubled corpus (auto-k re-fit)
full = base
for a in appends:
    full = full.unionByName(a)
fresh = SemanticRelease(spark, temp_name("sem24_fresh"))
t0 = time.time()
fresh.build(full)
print(f"INFO fresh rebuild {time.time() - t0:.1f}s k={fresh.k}", flush=True)
stale_pruned = rel.probe(crawl).select("vec_id")
fresh_pruned = fresh.probe(crawl).select("vec_id")
n_stale = stale_pruned.count()
n_fresh = fresh_pruned.count()
n_both = stale_pruned.intersect(fresh_pruned).count()
print(
    "POINT "
    + json.dumps(
        {
            "tag": "quality_vs_fresh",
            "stale_pruned": n_stale,
            "fresh_pruned": n_fresh,
            "overlap": n_both,
            "stale_only": n_stale - n_both,
            "fresh_only": n_fresh - n_both,
        }
    ),
    flush=True,
)
rel.drop()
fresh.drop()
spark.stop()
