package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSON-lines as a SOURCE — the read-side complement of the urlcount
  * family's JSON sink (reference semantic: the reduce output is JSON
  * lines; see `UrlCount.writeJsonSink`). A pipeline that emits JSON
  * must also re-ingest it, and the dangerous part is fidelity: quoting,
  * escapes, unicode, and null round-tripping are where hand-rolled
  * serializers corrupt a corpus silently.
  *
  * src_json_roundtrip writes the documents table as JSON lines, reads
  * it back through `spark.read.schema(...).json` (explicit schema — a
  * production reader NEVER infers: inference is a full extra pass and
  * schema drift becomes silent nulls), and emits a per-source parity
  * profile whose oracle computes the SAME relation from the original
  * parquet: row counts, char mass, and an order-independent bit-XOR
  * checksum over the (doc_id, text) content hash. Equality proves the
  * serializer/parser pair lossless end to end — any mangled escape or
  * dropped row flips the checksum.
  *
  * Scale: the write is one narrow pass (JSON encode is per-row, no
  * shuffle), the read-back scan parallelizes per file split like any
  * text source, and the profile is one bounded-dimension aggregation.
  */
object JsonLines {

  def jsonRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Bucketed.scopedPath(spark,
      Bucketed.scopedName(spark, "graft_jsonl")) + "/documents"
    val docs = graft.GraftSession.table(spark, sfDir, "documents")
    docs.write.mode("overwrite").json(path)
    profile(spark.read.schema(docs.schema).json(path))
  }

  /** The parity profile over any documents-shaped frame. */
  def profile(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(CAST(" +
          "conv(substring(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 15), 16, 10)" +
          " AS BIGINT))").as("content_xor"))
      .orderBy("source")

  /** src_csv_roundtrip: the CSV twin of [[jsonRoundTrip]] — CSV is the
    * interchange format whose QUOTING rules actually bite (embedded
    * commas, double-quote escaping, and — the classic corpus killer —
    * newlines inside quoted text fields splitting one record into
    * two). The write uses standard RFC-4180 quoting; the read back
    * sets `multiLine` because quoted embedded newlines are only legal
    * under the whole-file parser — the default line-splitting reader
    * would shear every multi-line document. Same checksummed parity
    * profile, same oracle: the round trip must be lossless or the XOR
    * flips.
    *
    * Scale note, stated honestly: `multiLine` CSV parses per FILE, not
    * per line-split (a record boundary cannot be found mid-file), so
    * read parallelism = file count. The write side controls that: this
    * writer inherits the source partitioning (one file per input
    * split), which is exactly how a production exchange keeps
    * multiLine readable in parallel — many bounded files, never one
    * giant CSV.
    */
  def csvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Bucketed.scopedPath(spark,
      Bucketed.scopedName(spark, "graft_csv")) + "/documents"
    val docs = graft.GraftSession.table(spark, sfDir, "documents")
    // empty-vs-null: bare CSV cannot tell "" from NULL — write empties
    // as a quoted marker and point the reader's nullValue at a token
    // that never occurs, or every empty doc silently comes back null
    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("emptyValue", "\"\"")
      .csv(path)
    profile(spark.read.schema(docs.schema)
      .option("header", "true").option("multiLine", "true")
      .option("nullValue", "\\N")
      .csv(path))
  }
}
