package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S3 file-corpus source — the reference Indexer's directory-ingestion
  * script re-expressed as a declarative read
  * (LD-Reborn/embeddingsearch `src/Indexer/Scripts/example.py:52-66`:
  * list a directory, read each file; first line = title datapoint, rest =
  * text datapoint, file name = filename datapoint).
  *
  * Spark mapping: `wholetext` text source (one row per file — splittable
  * across executors by file, the right granularity for a many-small-files
  * corpus) + `input_file_name`, then a 2-limit line split. No driver-side
  * directory walking: listing, reading and parsing all happen on executors.
  */
object FileCorpus {

  /** Shared (filename, title, text) projection over a `wholetext` frame
    * (batch or streaming — plain column expressions work on both). ONE
    * definition of the parsing contract, so the batch reader and the
    * streaming source cannot silently diverge.
    */
  def fromWholetext(raw: DataFrame): DataFrame =
    raw.select(input_file_name().as("path"), col("value"))
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("filename"),
        split(col("value"), "\n", 2).as("parts"))
      .select(
        col("filename"),
        element_at(col("parts"), 1).as("title"),
        coalesce(element_at(col("parts"), 2), lit("")).as("text"))

  /** Read a directory of text files into (filename, title, text) rows. */
  def read(spark: SparkSession, dir: String): DataFrame =
    fromWholetext(spark.read.option("wholetext", "true").text(dir))
}
