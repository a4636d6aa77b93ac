"""Tombstone-application A/B: broadcast bitmap masks vs the shuffling
anti-join in the above-ceiling delete regime (index/bitmaps.py).

Builds an N-doc index, deletes a large fraction, then times the same
query set under three delete-application strategies on fresh readers:

- ``rows_broadcast`` — the small-regime default (tombstone rows under
  the 5M ceiling broadcast as-is); ground truth + the floor.
- ``anti_join_shuffle`` — the path above both ceilings (row and
  bitmap ceilings patched to 0): every query shuffles the match set
  against the tombstone rows.
- ``bitmap_broadcast`` — the new above-ceiling path (ceiling 0,
  bitmaps on): a broadcast mask join, zero shuffle.

All three must return identical results; the point of the A/B is the
shuffle cost the bitmap path removes, which grows with both the
tombstone count and the match-set size.

Usage: python scripts/bitmap_bench.py [--docs N] [--frac F] [--out FILE]
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from noise_spark.corpus import generate_pages
from noise_spark.session import get_spark


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--frac", type=float, default=0.4)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(
        "bitmap_bench", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    import shutil

    from noise_spark.index.build import BuildConfig, build_index
    from noise_spark.index.incremental import delete_docs
    from noise_spark.query import plan as P
    from noise_spark.query.engine import IndexReader

    work = "/tmp/noise_spark_bitmap_bench"
    shutil.rmtree(work, ignore_errors=True)
    idx = os.path.join(work, "idx")
    build_index(
        spark,
        generate_pages(spark, args.docs, seed=11, partitions=args.cpus * 2),
        idx,
        BuildConfig(analyzer="whitespace", block_size=128),
    )
    reader = IndexReader(spark, idx)
    mod = max(2, round(1 / args.frac))
    victims = reader.docs.filter(F.col("doc_id") % mod == 0).select("url")
    t0 = time.time()
    info = delete_docs(spark, idx, victims)
    t_delete = time.time() - t0

    queries = {
        "survivor_count": lambda r: r.docs.count(),
        "q_or2": lambda r: tuple(
            (x["doc_id"], round(x["score"], 6))
            for x in r.search(P.Or((P.Term("w00050"), P.Term("w01500"))), k=10).collect()
        ),
        "q_and2": lambda r: tuple(
            (x["doc_id"], round(x["score"], 6))
            for x in r.search(P.And((P.Term("w00050"), P.Term("w00007"))), k=10).collect()
        ),
        "q_not": lambda r: tuple(
            (x["doc_id"], round(x["score"], 6))
            for x in r.search(P.Not(P.Term("w00050"), P.Term("w00002")), k=10).collect()
        ),
    }

    def run(tag, ceiling, bitmap_ceiling, force_shuffle=False):
        old = IndexReader.BROADCAST_TOMBSTONES_MAX, IndexReader.BROADCAST_BITMAP_MAX_WORDS
        IndexReader.BROADCAST_TOMBSTONES_MAX = ceiling
        IndexReader.BROADCAST_BITMAP_MAX_WORDS = bitmap_ceiling
        # force_shuffle models the TRUE above-ceiling regime: at >5M
        # tombstone rows the side can't broadcast, so neither may AQE
        # here (at this test size AQE would auto-broadcast the rows and
        # hide the shuffle being measured)
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        if force_shuffle:
            for k, v in confs.items():
                spark.conf.set(k, v)
        try:
            r = IndexReader(spark, idx)
            res, secs = {}, {}
            for name, fn in queries.items():
                best = None
                for _ in range(args.reps):
                    t0 = time.time()
                    res[name] = fn(r)
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                secs[name] = round(best, 4)
            return res, secs
        finally:
            IndexReader.BROADCAST_TOMBSTONES_MAX, IndexReader.BROADCAST_BITMAP_MAX_WORDS = old
            if force_shuffle:
                for k, v in prev.items():
                    spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    words = IndexReader.BROADCAST_BITMAP_MAX_WORDS
    res_rows, sec_rows = run("rows_broadcast", 5_000_000, words)
    res_anti, sec_anti = run("anti_join_shuffle", 0, 0, force_shuffle=True)
    res_bm, sec_bm = run("bitmap_broadcast", 0, words)
    assert res_anti == res_rows, "anti-join path diverged"
    assert res_bm == res_rows, "bitmap path diverged"

    out = {
        "metric": "tombstone_application_ab",
        "n_docs": args.docs,
        "n_tombstones": info["deleted"],
        "delete_commit_sec": round(t_delete, 3),
        "cpus": args.cpus,
        "reps_best_of": args.reps,
        "rows_broadcast_sec": sec_rows,
        "anti_join_shuffle_sec": sec_anti,
        "bitmap_broadcast_sec": sec_bm,
        "total_sec": {
            "rows_broadcast": round(sum(sec_rows.values()), 4),
            "anti_join_shuffle": round(sum(sec_anti.values()), 4),
            "bitmap_broadcast": round(sum(sec_bm.values()), 4),
        },
        "results_identical": True,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
