"""The BM25 tf-norm has one definition (``scoring.bm25_tf_norm``). The
engine evaluates it on Spark Columns; this pins that the Column
expression gives the same doubles, bit for bit, as the Python scalar
and numpy array forms the oracle and the WAND kernel use."""

import numpy as np

from noise_spark.scoring import BM25_B, BM25_K1, bm25_tf_norm


def test_bm25_tf_norm_on_columns_is_bitwise_python(spark):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n = 5000
    tf = rng.integers(1, 200, size=n)
    dl = rng.integers(1, 20000, size=n)
    avgdl = rng.uniform(0.5, 5000.0, size=n)
    w = rng.uniform(0.0, 12.0, size=n)
    rows = [
        (i, int(tf[i]), int(dl[i]), float(avgdl[i]), float(w[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "i int, tf int, dl int, avgdl double, w double")
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i",
            (
                F.col("w")
                * bm25_tf_norm(F.col("tf"), F.col("dl"), F.col("avgdl"), BM25_K1, BM25_B)
            ).alias("c"),
        ).collect()
    }
    vec = w * bm25_tf_norm(tf.astype(np.float64), dl.astype(np.float64), avgdl)
    for i, t, d, a, x in rows:
        want = x * bm25_tf_norm(float(t), float(d), a)
        assert got[i] == want, (t, d, a, x)
        assert vec[i] == want
