"""Write the physical plan of every benchmark query shape, single and
batched, to ``plans/current/`` — plan artifacts generated from the code.

Builds the seeded benchmark corpus (``perfbench/inputs.py``: 500 pages,
read only) into a temporary index, then writes ``explain("formatted")``
of ``IndexReader.query`` for each plan shape of one query-stream block,
of ``run_query`` for the query-language phrase, of one
``search_many`` batch of every plan shape, and of two shapes the
benchmark stream does not hold: a term under a field predicate
(``filtered``) and a phrase inside an And (``phrase_in_and``), the
match-set lowerings scored by the kernel. Expression ids, plan ids and
the index path are normalised, so a rerun only differs where the plan
does.

Usage: python scripts/dump_plans.py [--out plans/current] [--seed 1]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def explain(df, index_dir: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue().replace(index_dir, "<index>")
    text = re.sub(r"#\d+L?", "", text)
    return re.sub(r"plan_id=\d+", "plan_id=_", text)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "current"))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    # Python workers import noise_spark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("NOISE_SPARK_WARM_SESSION", "0")
    from perfbench import inputs
    from perfbench.workloads import to_plan

    from noise_spark.index.build import BuildConfig, build_index
    from noise_spark.query import IndexReader
    from noise_spark.query import plan as P
    from noise_spark.query.parser import run_query
    from noise_spark.session import get_spark

    spark = get_spark("dump_plans", master="local[2]", shuffle_partitions=2)
    work = tempfile.mkdtemp(prefix="noise_spark_plans_")
    try:
        corpus = inputs.make_corpus(args.seed)
        pages = os.path.join(work, "pages")
        corpus.write(pages, 2)
        index_dir = os.path.join(work, "index")
        build_index(spark, spark.read.parquet(pages), index_dir, BuildConfig())
        reader = IndexReader(spark, index_dir)

        shutil.rmtree(args.out, ignore_errors=True)
        os.makedirs(args.out)
        items = inputs.pattern(args.seed, 0)
        plans = {}
        for shape, q in items:
            if shape.startswith("text_"):
                plans[shape] = run_query(reader, inputs.text_query(q))
            else:
                plans[shape] = reader.query(to_plan(q), k=10)
        batch = {shape: to_plan(q) for shape, q in items if not shape.startswith("text_")}
        plans["search_many"] = reader.search_many(batch, k=10)
        w = inputs.WORDS
        plans["filtered"] = reader.query(P.And((P.Term(w[3]), P.FieldEq("lang", "fr"))), k=10)
        plans["phrase_in_and"] = reader.query(P.And((P.Phrase((w[0], w[1])), P.Term(w[2]))), k=10)
        for name, df in plans.items():
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(explain(df, index_dir))
        print(f"wrote {len(plans)} plans to {args.out}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
