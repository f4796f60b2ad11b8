"""Measured-scaling probe: does each operator's runtime grow like its plan
says it should?

SCALE.md argues every shipped plan survives a 100× scale-up; this tool
MEASURES the claim at the scales this sandbox can hold.  It synthesizes a
key-consistent M× replica of sf0.1 (each copy's int64 keys offset by
i·10^10, so every join key still matches within its copy and dimension
tables stay shared), runs a probe list of scale-path queries at 1× and
M×, and prints the time ratio next to the data ratio.  A linear-path
query should scale ≲ M (per-task overheads amortize); anything
super-linear is a plan bug the small-SF suite cannot see.

Each time is end to end: from the query-function call (catalog, plan
construction, any eager jobs) to the last row in the noop sink, best of
two runs with the cache cleared between.  A query that raises is recorded
with its error and the rest of the list still runs.

Usage:  python tools/scale_probe.py [M] [--probe name,...] [--out FILE]
M defaults to 10 and the probe list to ``PROBE``.  Writes the replica
under .scratch/scale{M}x (~M × 16 MB) and one JSON line of results to
stdout, and to FILE when ``--out`` is given.  The per-wave 1000× rows
in SCALE.md are this tool with the wave's names, for example:

    python tools/scale_probe.py 1000 --out SCALEPROBE_R10OPS_r10.json \
        --probe mm_tiff_decode,mm_flac_decode,mm_jpeg_color_decode,mm_decode_router
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataframework_spark.catalog import TABLES, load_table, table_path
from dataframework_spark.registry import all_queries
from dataframework_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
OFFSET = 10_000_000_000  # per-copy key offset; M ≤ 10^8 stays inside int64

# key columns to offset per copy, per table (dimension tables region/nation
# are shared across copies — they stay constant-size like real dims)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# Scale-path probe list: one representative per family whose SCALE.md
# claim is "linear in data" (brute/exact eval tiers are intentionally
# excluded — their cost model is quadratic by design and documented).
PROBE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_running_sum",
    "events_sessionize",
    "agg_count_distinct",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_lsh_topk",
    "text_quality_score",
    "text_boilerplate_ngrams",
    "text_pii_redact",
    "corpus_mixture_sample",
    "mm_wav_decode",
    "ml_train_test_split",
]


def build_replica(spark, m: int, out_dir: str) -> None:
    """Materialize the M× replica.  Tiered: when a smaller replica K×
    (K | M) is already cached, build M× as M/K offset copies of IT instead
    of M copies of the base — 1000× becomes a 10-branch union over the
    cached 100× files rather than a 1000-branch plan.  Copy j's keys get
    ``+ j·K·OFFSET``: the K× source already occupies [0, K·OFFSET), so
    strides stay collision-free and max keys (M·OFFSET = 10^13 at 1000×)
    sit far inside int64."""
    os.makedirs(out_dir, exist_ok=True)
    scratch = os.path.dirname(out_dir)
    src_dir, k = BASE, 1
    for tier in (10, 100):
        tier_dir = os.path.join(scratch, f"scale{tier}x")
        if tier < m and m % tier == 0 and all(
            os.path.exists(os.path.join(tier_dir, f"{t}.parquet")) for t in TABLES
        ):
            src_dir, k = tier_dir, tier
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        df = load_table(spark, src_dir, name)
        keys = KEY_COLS.get(name)
        if not keys:  # shared dimension: copy through
            df.write.mode("overwrite").parquet(dst)
            continue
        copies = []
        for i in range(m // k):
            c = df
            for col in keys:
                c = c.withColumn(col, F.col(col) + F.lit(i * k * OFFSET))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(dst)


def time_query(spark, fn, sf_dir: str, reps: int = 2) -> float:
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser(description="time a probe list at 1x and Mx")
    ap.add_argument("m", nargs="?", type=int, default=10, help="replica factor M")
    ap.add_argument("--probe", default=",".join(PROBE), help="comma-separated query names")
    ap.add_argument("--out", help="also write the JSON line to this file")
    args = ap.parse_args()
    m = args.m
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".scratch", f"scale{m}x")
    specs = all_queries()
    probe = [n.strip() for n in args.probe.split(",") if n.strip()]
    unknown = [n for n in probe if n not in specs]
    if unknown:
        ap.error(f"unknown probe queries: {unknown}")
    spark = get_spark(app_name="scale-probe", cpus=os.cpu_count() or 8)
    build_replica(spark, m, out_dir)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).toDF("x").mapInPandas(lambda it: it, "x bigint").write.format(
        "noop"
    ).mode("overwrite").save()
    results = {}
    for name in probe:
        try:
            t1 = time_query(spark, specs[name].fn, BASE)
            tm = time_query(spark, specs[name].fn, out_dir)
            results[name] = {"t_1x": t1, f"t_{m}x": tm,
                             "ratio": round(tm / t1, 2) if t1 > 0 else None}
        except Exception as exc:  # record, keep probing the rest
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        print(f"# {name}: {results[name]}", file=sys.stderr)
    line = json.dumps({"m": m, "results": results})
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
