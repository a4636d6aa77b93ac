"""Benchmark harness — prints ONE JSON line for the driver.

Measures (at $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1, on
local[$SPARK_GRAFT_CPUS]):

1. index-build throughput (docs/sec) over a deterministic synthetic
   Common-Crawl-style corpus (seeded; generation excluded from timing;
   corpus parquet cached across runs),
2. top-k BM25 query latencies over the reference query-set shape
   (single-term / OR / AND / phrase / proximity / NOT), p50 + p95,
3. a sample of the driver-contract queries over the sf-dir tables.

Output: {"metric": ..., "value": <total_sec>, "unit": "sec",
         "queries": {...per-query sec...}, "sf": ...,
         "build_docs_per_sec": ..., "query_p95_sec": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from noise_spark.corpus import generate_pages
from noise_spark.index.build import BuildConfig, build_index
from noise_spark.query import IndexReader
from noise_spark.query import plan as P
from noise_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42

# sf encoded in the dir name scales the synthetic corpus: sf0.1 → 50k docs
def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


SF = _sf_of(SF_DIR)
N_DOCS = max(2000, int(500_000 * SF))

QUERY_SET = {
    "q_term_head": P.Or((P.Term("w00000"),)),
    "q_term_mid": P.Or((P.Term("w00100"),)),
    "q_term_tail": P.Or((P.Term("w03000"),)),
    "q_or2": P.Or((P.Term("w00050"), P.Term("w01500"))),
    "q_or4": P.Or((P.Term("w00011"), P.Term("w00222"), P.Term("w00333"), P.Term("w02000"))),
    "q_and2": P.And((P.Term("w00050"), P.Term("w00007"))),
    "q_and3": P.And((P.Term("w00000"), P.Term("w00002"), P.Term("w00010"))),
    "q_not": P.Not(P.Term("w00050"), P.Term("w00002")),
    "q_phrase": P.Phrase(("quick", "brown", "fox")),
    "q_prox": P.Proximity(("quick", "fox"), window=5),
}


def corpus_path(n_docs: int) -> str:
    return os.path.join(
        os.environ.get("NOISE_SPARK_BENCH_DIR", "/tmp/noise_spark_bench"),
        f"pages_{n_docs}_s{SEED}",
    )


def main():
    t_all = time.time()
    spark = get_spark("noise_spark_bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)

    # -- corpus (excluded from timing; cached) -----------------------------
    cpath = corpus_path(N_DOCS)
    if not os.path.exists(os.path.join(cpath, "_SUCCESS")):
        generate_pages(spark, N_DOCS, seed=SEED, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(cpath)
    pages = spark.read.parquet(cpath)

    # -- index build (fresh dir every run) ----------------------------------
    idx_dir = os.path.join("/tmp", f"noise_spark_benchidx_{os.getpid()}")
    shutil.rmtree(idx_dir, ignore_errors=True)
    t0 = time.time()
    build_metrics = build_index(spark, pages, idx_dir, BuildConfig(block_size=128))
    build_sec = time.time() - t0
    docs_per_sec = N_DOCS / build_sec

    # per-stage seconds/bytes/rows from the committed manifest lineage
    from noise_spark.index.catalog import IndexCatalog

    cat = IndexCatalog(idx_dir)
    stage_stats = {}
    index_bytes = 0
    for st in ("docs", "term_stats", "corpus_stats", "segments"):
        info = cat.stage_info(st) or {}
        stage_stats[st] = {
            "sec": round((build_metrics["stages"].get(st) or {}).get("seconds", 0.0), 3),
            "bytes": info.get("bytes", 0),
            "rows": info.get("rows", 0),
        }
        index_bytes += info.get("bytes", 0)

    # -- query latencies ------------------------------------------------------
    reader = IndexReader(spark, idx_dir)
    timings: dict[str, float] = {}
    # warm-up (JVM + parquet footers)
    reader.search(P.Or((P.Term("w00001"),)), k=10).collect()
    for name, node in QUERY_SET.items():
        t0 = time.time()
        reader.search(node, k=10).collect()
        timings[name] = round(time.time() - t0, 4)
    # WAND path on the scored queries (+ blocks actually decoded — the
    # skip-machinery effectiveness metric; seeding engages per query)
    wand_blocks: dict[str, int] = {}
    for name in ("q_term_head", "q_or2", "q_or4", "q_and2"):
        t0 = time.time()
        reader.search_wand(QUERY_SET[name], k=10).collect()
        timings[name + "_wand"] = round(time.time() - t0, 4)
        wand_blocks[name] = reader.last_blocks_decoded.value

    # whole query set as ONE action (driver round-trips amortized)
    t0 = time.time()
    reader.search_many(QUERY_SET, k=10).collect()
    queryset_batched_sec = round(time.time() - t0, 4)

    lat = sorted(v for k, v in timings.items())
    p50 = lat[len(lat) // 2]
    p95 = lat[min(len(lat) - 1, int(len(lat) * 0.95))]

    # -- driver-table queries (documents in the sf dir) ----------------------
    try:
        from noise_spark import entry_queries

        for name in (
            "ft_or_topk_wand",
            "ft_term_stats",
            "dp_minhash_lsh_buckets",
            "rel_group_agg",
        ):
            t0 = time.time()
            entry_queries.REGISTRY[name][0](spark, SF_DIR).collect()
            timings[name] = round(time.time() - t0, 4)
    except Exception:  # noqa: BLE001  (sf dir tables optional)
        pass

    # fold in the latest scaling evidence if scripts/scaling_bench.py ran
    scaling = {}
    try:
        runs = [
            json.loads(line)
            for line in open("BENCH/scaling_runs.jsonl")
            if line.strip()
        ]
        by_cpu: dict = {}
        for r in runs:
            cur = by_cpu.get(r["cpus"])
            if cur is None or r["build_sec"] < cur["build_sec"]:
                by_cpu[r["cpus"]] = r
        if len(by_cpu) >= 2:
            # prefer an N→4N pair (the north-rule shape); else min→max
            lo, hi = min(by_cpu), max(by_cpu)
            for a, b in ((1, 4), (2, 8), (4, 16), (8, 32)):
                if a in by_cpu and b in by_cpu:
                    lo, hi = a, b
                    break
            eff = (by_cpu[hi]["docs_per_sec"] / by_cpu[lo]["docs_per_sec"]) / (hi / lo)
            scaling = {
                "scaling_levels": [lo, hi],
                "scaling_efficiency": round(eff, 3),
                "scaling_rank_stable": by_cpu[lo]["top5_w00050"] == by_cpu[hi]["top5_w00050"],
            }
    except (OSError, json.JSONDecodeError):
        pass

    total = time.time() - t_all
    shutil.rmtree(idx_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                **scaling,
                "metric": "index_build_plus_topk_query_wall_sec",
                "value": round(build_sec + p95, 3),
                "unit": "sec",
                "queries": timings,
                "sf": SF,
                "n_docs": N_DOCS,
                "build_sec": round(build_sec, 3),
                "build_docs_per_sec": round(docs_per_sec, 1),
                "query_p50_sec": p50,
                "query_p95_sec": p95,
                "total_wall_sec": round(total, 3),
                "cpus": CPUS,
                "stage_stats": stage_stats,
                "index_bytes": index_bytes,
                "wand_blocks_decoded": wand_blocks,
                "queryset_batched_sec": queryset_batched_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
