"""Scale probe: builds a 50k-doc synthetic corpus, then times a fixed
query set with per-query repeats (min-of-N beats noisy shared hosts),
per-build-stage timing, and optional explain capture.

Usage: python scripts/probe_r06.py [--reps 3] [--tag label] [--skip-build]
Writes one JSON line to stdout and BENCH/probe_r06_<tag>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from noise_spark.corpus import generate_pages
from noise_spark.index.build import BuildConfig, build_index
from noise_spark.query import IndexReader
from noise_spark.query import plan as P
from noise_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42
N_DOCS = 50_000

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
# plans outside the kernel's top-k shapes: a term under a field
# predicate (match-set join, BM25 from one flat-OR kernel plan) and the
# unscored match set of a term-only tree (the kernel's weightless tree)
Q_FILTERED = P.And((P.Term("w00050"), P.FieldEq("lang", "fr")))
M_TREE = P.And((P.Or((P.Term("w00050"), P.Term("w01500"))), P.Not(P.Term("w00007"), P.Term("w00002"))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--builds", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    args = ap.parse_args()

    spark = get_spark("probe_r06", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    sc = spark.sparkContext

    cpath = os.path.join(
        os.environ.get("NOISE_SPARK_BENCH_DIR", "/tmp/noise_spark_bench"),
        f"pages_{N_DOCS}_s{SEED}",
    )
    if not os.path.exists(os.path.join(cpath, "_SUCCESS")):
        generate_pages(spark, N_DOCS, seed=SEED, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(cpath)
    pages = spark.read.parquet(cpath)

    out: dict = {"tag": args.tag, "builds": [], "stage_secs": []}
    idx_dir = os.path.join("/tmp", f"noise_probe_idx_{os.getpid()}")
    for i in range(args.builds):
        shutil.rmtree(idx_dir, ignore_errors=True)
        sc.setJobDescription(f"build #{i}")
        t0 = time.time()
        m = build_index(spark, pages, idx_dir, BuildConfig(block_size=128))
        out["builds"].append(round(time.time() - t0, 3))
        out["stage_secs"].append(
            {k: round(v.get("seconds", 0.0), 3) for k, v in m["stages"].items()}
        )
    out["build_min"] = min(out["builds"])

    reader = IndexReader(spark, idx_dir)
    sc.setJobDescription("warmup")
    reader.search(P.Or((P.Term("w00001"),)), k=10).collect()

    timings: dict[str, list[float]] = {}
    for rep in range(args.reps):
        for name, node in QUERY_SET.items():
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            reader.search(node, k=10).collect()
            timings.setdefault(name, []).append(round(time.time() - t0, 4))
        for name in ("q_term_head", "q_or2", "q_or4", "q_and2"):
            sc.setJobDescription(f"{name}_wand rep{rep}")
            t0 = time.time()
            reader.search(QUERY_SET[name], k=10).collect()
            timings.setdefault(name + "_wand", []).append(round(time.time() - t0, 4))
        for name, run in (
            ("q_filtered", lambda: reader.search(Q_FILTERED, k=10).collect()),
            ("m_tree", lambda: reader._match_set(M_TREE).collect()),
        ):
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            run()
            timings.setdefault(name, []).append(round(time.time() - t0, 4))
        sc.setJobDescription(f"search_many rep{rep}")
        t0 = time.time()
        reader.search_many(QUERY_SET, k=10).collect()
        timings.setdefault("queryset_batched", []).append(round(time.time() - t0, 4))

    try:
        from noise_spark import entry_queries

        for name in (
            "ft_or_topk_wand",
            "ft_term_stats",
            "dp_minhash_lsh_buckets",
            "rel_group_agg",
        ):
            for rep in range(args.reps):
                sc.setJobDescription(f"{name} rep{rep}")
                t0 = time.time()
                entry_queries.REGISTRY[name][0](spark, SF_DIR).collect()
                timings.setdefault(name, []).append(round(time.time() - t0, 4))
    except Exception as e:  # noqa: BLE001
        out["entry_err"] = str(e)

    out["queries_min"] = {k: min(v) for k, v in timings.items()}
    out["queries_all"] = timings
    mins = sorted(out["queries_min"][k] for k in out["queries_min"] if k != "queryset_batched")
    out["p50_min"] = mins[len(mins) // 2]
    out["p95_min"] = mins[min(len(mins) - 1, int(len(mins) * 0.95))]
    out["value_floor"] = round(out["build_min"] + out["p95_min"], 3)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        import contextlib
        import io

        def cap(df, fname):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain_dir, fname), "w") as f:
                f.write(buf.getvalue())

        for name, node in QUERY_SET.items():
            cap(reader.search(node, k=10), f"{name}.txt")
        for name in ("q_term_head", "q_or2", "q_or4", "q_and2"):
            cap(reader.search(QUERY_SET[name], k=10), f"{name}_wand.txt")
        cap(reader.search_many(QUERY_SET, k=10), "queryset_batched.txt")

    shutil.rmtree(idx_dir, ignore_errors=True)
    line = json.dumps(out)
    print(line)
    os.makedirs("BENCH", exist_ok=True)
    with open(f"BENCH/probe_r06_{args.tag}.json", "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
