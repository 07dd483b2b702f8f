"""Measurement harness for r15: sweep the session shuffle width at a
FIXED core count to separate "8 cores beat 32" (driver r14 scaling
block) into its two candidate causes — core count vs exchange width.

Every pinned repartition in the engine (spread_scan, the self-join
expansion pins) currently derives its width from
spark.sql.shuffle.partitions, so setting that conf mid-session at
local[32] re-plans the whole family at width w while the executor pool
stays 32 — if the 8-core win was narrowness (per-task fixed overhead
on tiny partitions), width 8 at 32 cores should reproduce it; if it
was core count (GC/scheduler contention), it will not.

Usage: python scripts/width_sweep.py [w1 w2 ...] [-- q1 q2 ...]
Bench methodology otherwise (noop sink, min-of-3, clearCache).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.session import get_spark
from bench import timed_run

DEFAULT_WIDTHS = [32, 16, 8, 4]
DEFAULT_QUERIES = [
    # the driver-regressed / 8-core-faster family
    "minhash_recall_report",
    "lang_id_confusion",
    "dup_shingle_ratio",
    "semantic_dedup",
    "media_frame_dedup",
    "kmeans_clusters",
    "rare_token_ratio",
    "cross_source_overlap",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    # the driver-confirmed wins (must not regress at narrower widths)
    "doc_quality",
    "pii_scrub",
    "embedding_dedup",
    "ann_cosine_topk",
    "dedup_simhash",
    "dedup_edit_distance",
    "quality_top_decile",
    "cluster_keep_best",
    "band_bucket_stats",
    "media_frame_lsh_dedup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    widths = DEFAULT_WIDTHS
    names = DEFAULT_QUERIES
    if "--" in args:
        i = args.index("--")
        widths = [int(w) for w in args[:i]] or DEFAULT_WIDTHS
        names = args[i + 1 :] or DEFAULT_QUERIES
    elif args:
        widths = [int(w) for w in args]

    spark = get_spark("width-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    queries = E.queries()

    def run(name: str) -> tuple[float, float]:
        return timed_run(spark, lambda: queries[name](spark, sf_dir), name)

    run("q1_pricing_summary")  # warm-up

    out: dict[str, dict[str, float]] = {}
    for name in names:
        per_width: dict[str, float] = {}
        # width-major inner loop, repeated, so ambient drift hits all
        # widths equally
        runs: dict[int, list[float]] = {w: [] for w in widths}
        runs_full: dict[int, list[float]] = {w: [] for w in widths}
        for _rep in range(3):
            for w in widths:
                spark.conf.set("spark.sql.shuffle.partitions", str(w))
                b, e = run(name)
                runs[w].append(e)
                runs_full[w].append(b + e)
                spark.catalog.clearCache()
        for w in widths:
            per_width[str(w)] = round(min(runs[w]), 3)
            per_width[f"{w}_full"] = round(min(runs_full[w]), 3)
        out[name] = per_width
        print(json.dumps({name: per_width}), flush=True)
    print(json.dumps({"metric": "width_sweep", "sf_dir": sf_dir, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
