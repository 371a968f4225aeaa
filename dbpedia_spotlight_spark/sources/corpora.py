"""Corpus sources and sinks (SURVEY.md §2.1).

  * occurrence TSV  — the reference's 5-column format
    `id \\t uri \\t sf \\t text \\t offset`
    (core/.../io/AnnotatedTextSource.scala:84-116,
     model/DBpediaResourceOccurrence.toTsvString :91-93)
  * NT triples      — redirects/disambiguations
    (index/.../db/WikipediaToDBpediaClosure.scala:36-55)
  * Pig count files — sfAndTotalCounts / uriCounts / pairCounts
    (index/.../db/io/SurfaceFormSource.scala:25-66,
     DBpediaResourceSource.scala:116, CandidateMapSource.scala:44)
  * documents sink/scan — the engine's native parquet/Iceberg table
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OCC_TSV_SCHEMA = "occ_id string, uri string, sf string, text string, offset int"


def read_occurrence_tsv(spark: SparkSession, path: str) -> DataFrame:
    """AnnotatedTextSource TSV -> occurrences DataFrame."""
    return spark.read.csv(
        path, sep="\t", schema=OCC_TSV_SCHEMA, header=False, quote=""
    )


def write_occurrence_tsv(occs: DataFrame, path: str) -> None:
    """linked mentions -> reference TSV (DBpediaResourceOccurrence
    serialization order: id, uri, sf, text, offset)."""
    occs.select("occ_id", "uri", "sf", "text", "offset").write.mode(
        "overwrite"
    ).csv(path, sep="\t", quote="", header=False)


def occurrences_to_paragraphs(occs: DataFrame) -> DataFrame:
    """Group consecutive occurrences of one text into a paragraph row —
    AnnotatedTextSource's grouping (:84-116), relationally: group by the
    text itself and collect the occurrence structs sorted by offset."""
    return occs.groupBy("text").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "occ_id", "uri", "sf"))
        ).alias("occurrences")
    )


_NT_PATTERN = r"^<([^>]+)>\s+<[^>]+>\s+<([^>]+)>\s*\.$"
_DBPEDIA_PREFIX = "http://dbpedia.org/resource/"


def read_nt_pairs(spark: SparkSession, path: str) -> DataFrame:
    """NT triples -> (src_uri, dst_uri) with the DBpedia namespace
    stripped (WikipediaToDBpediaClosure.scala:61-88 URI cleanup)."""
    lines = spark.read.text(path)
    return lines.select(
        F.regexp_extract("value", _NT_PATTERN, 1).alias("src_raw"),
        F.regexp_extract("value", _NT_PATTERN, 2).alias("dst_raw"),
    ).filter((F.col("src_raw") != "") & (F.col("dst_raw") != "")).select(
        F.replace(
            F.col("src_raw"), F.lit(_DBPEDIA_PREFIX), F.lit("")
        ).alias("src_uri"),
        F.replace(
            F.col("dst_raw"), F.lit(_DBPEDIA_PREFIX), F.lit("")
        ).alias("dst_uri"),
    )


def read_sf_counts_tsv(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """sfAndTotalCounts: `sf \\t annotatedCount [\\t totalCount]`;
    rows with annotatedCount = -1 carry lowercase-variant counts
    (SurfaceFormSource.scala:25-66). Returns (sf_counts, lowercase_counts)."""
    raw = spark.read.csv(
        path, sep="\t",
        schema="sf string, annotated_count long, total_count long",
        header=False, quote="",
    )
    sf_counts = raw.filter(F.col("annotated_count") >= 0)
    lowercase = raw.filter(F.col("annotated_count") == -1).select(
        F.col("sf").alias("sf_lower"),
        F.coalesce(F.col("total_count"), F.lit(0)).alias("lowercase_count"),
    )
    return sf_counts, lowercase


def read_wortschatz_words(
    spark: SparkSession, path: str, min_count: int = 100
) -> DataFrame:
    """Wortschatz frequency list `rank\\tword\\tcount` -> common words with
    count > threshold (io/WortschatzParser.scala, used by
    spot/NonCommonWordSelector.scala:23-68)."""
    raw = spark.read.csv(
        path, sep="\t", schema="rank int, word string, count long",
        header=False, quote="",
    )
    return raw.filter(F.col("count") > min_count).select("word")


def to_annotated_output(resolved: DataFrame) -> DataFrame:
    """Per-document annotation view — the batch analog of the REST JSON
    output (rest/.../OutputManager.java:53+): one row per doc with the
    offset-sorted resource list."""
    linked = resolved.filter(F.col("uri").isNotNull())
    return linked.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("begin").alias("offset"),
                    F.col("sf").alias("surfaceForm"),
                    F.col("uri").alias("URI"),
                    F.col("final_score").alias("similarityScore"),
                    F.col("pct_second_rank").alias("percentageOfSecondRank"),
                )
            )
        ).alias("Resources")
    )
