"""Stage 0 — ingest: source scan + key hygiene.

Reference analogs: directory scan S1 (scanner.py:19-44), multi-source
union + overlap dedup S2 (scanner.py:47-74), extension predicate S3
(scanner.py:7-16).  Here the source is already a table; "recursive
scan" is a table scan, the seen-set becomes ``dropDuplicates`` on the
key, and the extension filter becomes a pushed-down ``lang`` predicate
(partition pruning when the table is partitioned by lang).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILES_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
])


SOURCE_FORMATS = ("parquet", "json", "csv", "orc")


def read_files(spark: SparkSession, *paths: str, langs: list[str] | None = None,
               fmt: str = "parquet") -> DataFrame:
    """Scan one or more source tables, union, dedup overlapping keys.

    ``fmt``: any of SOURCE_FORMATS — the reference scans image
    directories; here a "format" is a table encoding of the same
    files(repo,path,commit,lang,content) schema, enforced explicitly so
    schema drift in text formats (csv/json infer nothing) fails loudly
    at read time rather than corrupting keys.  parquet/orc keep
    pushdown + column pruning; csv/json are ingest-only formats a
    pipeline would normally convert once.

    The lang filter is applied before anything else so Catalyst pushes
    it into the columnar scans (check: PushedFilters in .explain)."""
    if fmt not in SOURCE_FORMATS:
        raise ValueError(f"unsupported source format {fmt!r}; one of {SOURCE_FORMATS}")
    reader = spark.read.schema(FILES_SCHEMA).format(fmt)
    if fmt == "csv":
        # content contains newlines/quotes: full-quoting multiline CSV;
        # univocity trims field-edge whitespace by default, which EATS
        # trailing newlines of quoted content -> corrupted sha256, so
        # trimming is disabled explicitly
        # nullValue='\N': an empty field means EMPTY STRING (valid
        # content), not null — writers emit the sentinel for true nulls
        reader = reader.options(header="true", multiLine="true", escape='"',
                                ignoreLeadingWhiteSpace="false",
                                ignoreTrailingWhiteSpace="false",
                                nullValue="\\N")
    dfs = [reader.load(p) for p in paths]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    if langs:
        df = df.filter(F.col("lang").isin(list(langs)))
    if len(dfs) > 1:
        df = df.dropDuplicates(["repo", "path", "commit"])
    return df


def split_invalid(files: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Errors side-channel (the reference appends IO errors to a list,
    dedup.py:121-122; SURVEY §1.2 maps this to an errors side-output
    table — rows are never silently dropped).

    Returns (valid, errors) where errors carries (repo, path, commit,
    stage, message) for rows with null/empty key columns or null
    content."""
    bad_key = (
        F.col("repo").isNull() | F.col("path").isNull() | F.col("commit").isNull()
        | (F.col("repo") == "") | (F.col("path") == "")
    )
    bad_content = F.col("content").isNull()
    errors = (
        files.filter(bad_key | bad_content)
        .select(
            "repo", "path", "commit",
            F.lit("ingest").alias("stage"),
            F.when(bad_content, F.lit("null content"))
            .otherwise(F.lit("null/empty key column")).alias("message"),
        )
    )
    return files.filter(~(bad_key | bad_content)), errors
