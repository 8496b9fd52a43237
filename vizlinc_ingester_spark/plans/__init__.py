"""End-to-end pipeline plans (SURVEY.md §3)."""

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as parquet to ``path`` and read it back with
    ``df``'s own schema, so the read-back runs no footer-inference job
    (a plain ``read.parquet`` runs one per checkpoint)."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)
