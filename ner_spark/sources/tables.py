"""Source connectors (SURVEY §2.1).

The reference reads row-oriented parallel text files, TSVs, nested JSON
and vocab files (S1-S4); the Spark-native equivalents are declarative
``spark.read`` sources whose scans Catalyst prunes and pushes predicates
into. The driver testdata is parquet; the vocab reader lives here, and
the TSV/JSON corpus scans that mirror the reference's alternative
encodings are read inline by ``entry_queries.q_tsv_corpus_scan`` and
``q_json_corpus_scan``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_vocabulary(spark: SparkSession, path: str) -> DataFrame:
    """S1 (/root/reference/utils.py:9-20): text file → (id, token) where
    the line number IS the id. Distributed restatement: a deterministic
    row_number over the file's own order via a monotonically-increasing
    index per file split — for vocab-sized files (≤100k rows) we read on
    one partition so line order is exact."""
    lines = spark.read.text(path).coalesce(1)
    w = Window.orderBy(F.monotonically_increasing_id())
    return lines.select(
        (F.row_number().over(w) - 1).alias("id"),
        F.col("value").alias("token"),
    )


MAP_LITERAL_MAX_VOCAB = 8192


def token_id_lookup(df: DataFrame, vocab: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """P1 (/root/reference/utils.py:47): token → id with [UNK]=1 default,
    preserving the array column shape.

    Two physical strategies by vocab size:
    * small (≤ MAP_LITERAL_MAX_VOCAB): a JVM-side map literal shipped
      with the plan — zero shuffle, zero Python, one codegen span;
    * large (e.g. the reference's 89,303-word vocab,
      /root/reference/data/vocab_word.txt): a map literal that size would
      blow up the serialized plan and codegen, so the lookup runs as an
      Arrow-batched pandas UDF over a normal Python dict built once from
      the collected dimension (the reference's own representation,
      /root/reference/utils.py:9-20) and shipped via broadcast — still
      row-local, no shuffle.
    """
    spark = df.sparkSession
    rows = vocab.collect()
    if len(rows) <= MAP_LITERAL_MAX_VOCAB:
        mapping = F.create_map(
            *[x for r in rows for x in (F.lit(r["token"]), F.lit(r["id"]))]
        )
        return df.withColumn(
            "token_ids",
            F.transform(F.col(tokens_col), lambda t: F.coalesce(mapping[t], F.lit(1))),
        )

    from pyspark.sql.functions import pandas_udf

    w2i = {r["token"]: r["id"] for r in rows}
    bc = spark.sparkContext.broadcast(w2i)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def lookup(tokens: pd.Series) -> pd.Series:
        m = bc.value
        # null tokens array -> null (same contract as the map-literal
        # path, where F.transform(null) yields null)
        return tokens.map(
            lambda ts: None if ts is None else [m.get(t, 1) for t in ts]
        )

    return df.withColumn("token_ids", lookup(F.col(tokens_col)))
