"""Sources (SURVEY §2.1 S1/S5/S6/S8, §2.2 P1/P2).

Every reader returns a plain DataFrame; formats the reference handled
with bespoke Python (CSV vector tables, document directories) map
onto Spark's native sources, which scale horizontally and
push projection/predicates into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_wide_vector_csv(spark: SparkSession, path: str,
                         dim_prefix: str = "dim_",
                         drop_nan_rows: bool = True) -> DataFrame:
    """S1/P1/P2: the day-2 CSV vector table
    (``vector_id, category, timestamp, dim_0..dim_N`` —
    day_2/noramalization.py:17-57): header CSV with schema inference,
    prefix-selected vector columns assembled into one array column,
    rows with any null vector component dropped.
    """
    df = spark.read.csv(path, header=True, inferSchema=True)
    dim_cols = sorted(
        (c for c in df.columns if c.startswith(dim_prefix)),
        key=lambda c: int(c[len(dim_prefix):]))
    if not dim_cols:
        raise ValueError(f"no columns with prefix {dim_prefix!r} in {path}")
    if drop_nan_rows:
        df = df.na.drop(subset=dim_cols)
    other = [c for c in df.columns if not c.startswith(dim_prefix)]
    return df.select(
        *other,
        F.array(*[F.col(c).cast("double") for c in dim_cols]).alias("vector"))


def read_documents_dir(spark: SparkSession, path: str,
                       pattern: str = "*.txt",
                       recursive: bool = True) -> DataFrame:
    """S6/S8 batch directory load (day_10/utils/text_processor.py:335-364):
    one row per file with (path, text).  ``wholetext`` keeps each
    document intact for the chunkers."""
    reader = (spark.read
              .option("pathGlobFilter", pattern)
              .option("recursiveFileLookup", str(recursive).lower()))
    df = reader.text(path, wholetext=True)
    return df.select(
        F.input_file_name().alias("path"),
        F.col("value").alias("text"))


def load_embeddings(spark: SparkSession, path: str,
                    fmt: str = "parquet") -> DataFrame:
    """S5 embedding import (day_10/embedders/embedding_pipeline.py:384-425):
    parquet or json with an ``embedding`` array column; csv-flat form
    (``embed_0..embed_N``) is re-assembled into the array."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        return spark.read.json(path)
    if fmt == "csv":
        df = spark.read.csv(path, header=True, inferSchema=True)
        emb_cols = sorted((c for c in df.columns if c.startswith("embed_")),
                          key=lambda c: int(c[6:]))
        other = [c for c in df.columns if not c.startswith("embed_")]
        return df.select(
            *other,
            F.array(*[F.col(c).cast("float") for c in emb_cols])
            .alias("embedding"))
    raise ValueError(f"unknown format {fmt!r}")


def fetch_urls(spark: SparkSession, urls: list[str], fetch_fn=None,
               max_concurrency: int = 8) -> DataFrame:
    """S14 bounded-concurrency URL ingest (day_1/time_log.py:56-159).

    ``fetch_fn(url) -> str`` is pluggable (tests inject a fake; real
    deployments pass ``requests.get``).  Distribution: URLs spread
    across partitions, each partition fetching with a bounded thread
    pool — executor-parallel, driver-free.
    """
    if fetch_fn is None:
        raise ValueError("pass fetch_fn (no default network access)")

    from concurrent.futures import ThreadPoolExecutor

    def fetch_partition(rows):
        batch = [r.url for r in rows]
        if not batch:
            return
        with ThreadPoolExecutor(max_workers=max_concurrency) as ex:
            for url, body in zip(batch, ex.map(fetch_fn, batch)):
                yield (url, body)

    urls_df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rdd = urls_df.rdd.mapPartitions(fetch_partition)
    return spark.createDataFrame(rdd, "url string, body string")
