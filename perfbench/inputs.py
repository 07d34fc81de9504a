"""Build the sf1 benchmark inputs: a 10x decorrelated replica of sf0.1.

The transforms are those of ``tools/make_sf1.py``, so dedup-style
queries scale by corpus size rather than by cross-replica duplicates:

- documents: per-replica character rotation of ``text`` (lengths and
  counts kept, shingles differ across replicas);
- embeddings: per-replica md5-derived sign flips (norms kept, cross
  replica cosine near 0);
- events: id and user offsets;
- lineitem, orders, customer: order and customer key offsets;
- nation, region, part, supplier: copied unreplicated.

The tables are written to ``<dst>.tmp`` and renamed to ``<dst>`` only
after every row count checks out, so a half-written cache is never
used. ``check(src, dst)`` re-checks the counts from the parquet
footers without starting Spark.

Usage: python3 perfbench/inputs.py SRC_DIR DST_DIR
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys

REPLICAS = 10
OK_OFF, CK_OFF = 100_000_000, 10_000_000
REPLICATED = ("documents", "embeddings", "events", "lineitem", "orders", "customer")
COPIED = ("nation", "region", "part", "supplier")
ALPHA = "etaoinshrd"


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory, from its footers."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def expected_rows(src: str) -> dict[str, int]:
    return {
        t: parquet_rows(os.path.join(src, f"{t}.parquet"))
        * (REPLICAS if t in REPLICATED else 1)
        for t in REPLICATED + COPIED
    }


def check(src: str, dst: str) -> dict[str, int]:
    """Raise unless every table under ``dst`` has its expected row count."""
    want = expected_rows(src)
    got = {t: parquet_rows(os.path.join(dst, f"{t}.parquet")) for t in want}
    bad = {t: (got[t], want[t]) for t in want if got[t] != want[t]}
    if bad:
        raise RuntimeError(f"sf1 row counts (got, want) differ: {bad}")
    return got


def _replicas(df, transform):
    out = df
    for i in range(1, REPLICAS):
        out = out.unionByName(transform(df, i))
    return out


def build(spark, src: str, dst: str) -> None:
    from pyspark.sql import functions as F

    def documents(df, i):
        rot = ALPHA[i:] + ALPHA[:i]
        return df.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.translate("text", ALPHA, rot).alias("text"),
            "lang", "source", "n_chars",
        )

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])

    def embeddings(df, i):
        signs = [
            1.0 if int(hashlib.md5(f"s{i}:{j}".encode()).hexdigest()[:2], 16) % 2
            else -1.0
            for j in range(dim)
        ]
        flipped = F.zip_with(
            "embedding",
            F.array(*[F.lit(s) for s in signs]),
            lambda x, s: (x * s).cast("float"),
        )
        return df.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            flipped.alias("embedding"),
            "label",
        )

    def events(df, i):
        return df.select(
            (F.col("event_id") + F.lit(i * 100_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )

    def lineitem(df, i):
        return df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * OK_OFF))

    def orders(df, i):
        return df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * OK_OFF)
        ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * CK_OFF))

    def customer(df, i):
        return df.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * CK_OFF))

    transforms = {
        "documents": documents, "embeddings": embeddings, "events": events,
        "lineitem": lineitem, "orders": orders, "customer": customer,
    }
    for name in REPLICATED:
        df = spark.read.parquet(f"{src}/{name}.parquet")
        _replicas(df, transforms[name]).repartition(32).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{name}.parquet")
    for name in COPIED:
        spark.read.parquet(f"{src}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst}/{name}.parquet")


def main(src: str, dst: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from data_frame_spark.session import get_spark

    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = get_spark("perfbench-inputs")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        build(spark, src, tmp)
    finally:
        spark.stop()
    counts = check(src, tmp)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    print(f"sf1 inputs ready: {counts}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
