package graft.io

import java.util.UUID

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.core.Record

/** JSONL source/sink with fail-soft parsing (SURVEY.md R1/R2/R12).
  *
  * Reference semantics (lib/job_processor.rb:16-29): blank lines are
  * skipped; JSON parse errors log to STDERR and drop the record while
  * the job continues (exit 0). Spark-first translation: PERMISSIVE
  * `from_json` with a corrupt-record column, good rows to the main
  * plan, corrupt raw lines to a dead-letter channel. Both sides stay
  * fully distributed — no driver-side line loop.
  */
object Jsonl {

  /** RECORD envelope + corrupt-record capture column */
  private val readSchema: StructType =
    Record.schema.add("_corrupt", StringType, nullable = true)

  final case class Split(good: DataFrame, corrupt: DataFrame)

  /** Read JSONL into (good records, corrupt raw lines). */
  def read(spark: SparkSession, path: String): Split = {
    val raw = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0) // blank-line skip (rb:18)
    val parsed = raw.select(
      col("value"),
      from_json(
        col("value"), readSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
    val bad = col("r").isNull || col("r._corrupt").isNotNull
    Split(
      good = parsed.filter(!bad).select(col("r.id"), col("r.texts"), col("r.images")),
      corrupt = parsed.filter(bad).select(col("value")))
  }

  /** Re-materialize records from a dead-letter dump (EnrichJob failures
    * store the original record as a JSON string in `record`) so a
    * failed slice can be re-enriched after the backend recovers —
    * the operational half of the fail-soft contract.
    */
  def replayDeadLetter(spark: SparkSession, deadLetterDf: DataFrame): DataFrame =
    deadLetterDf
      .select(from_json(col("record"), Record.schema).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.id"), col("r.texts"), col("r.images"))

  /** One record as its output line: compact JSON with texts/images
    * normalized to {} / [] — the reference always emits both
    * (lib/job_processor.rb:43-47). The one encoder behind [[write]] and
    * `graft.Main`'s single-job write.
    */
  def line(id: Column, texts: Column, images: Column): Column =
    to_json(struct(
      id.as("id"),
      coalesce(texts, map().cast("map<string,string>")).as("texts"),
      coalesce(images, array().cast("array<string>")).as("images")))

  /** Write records as one compact JSON object per line ([[line]]). */
  def write(df: DataFrame, path: String): Unit =
    df.select(line(col("id"), col("texts"), col("images")).as("value"))
      .write.mode("overwrite").text(path)

  /** Write a frame of (`kind`, `value`) lines in ONE Spark job, one
    * text directory per kind: `targets` maps each kind to its
    * directory.
    *
    * The job writes every kind into a staging directory beside the
    * first target (`partitionBy("kind")`). Each `kind=` directory is
    * then renamed to its target, replacing what was there (the
    * `mode("overwrite")` semantics of a plain write), and gets its own
    * `_SUCCESS` marker. A kind with no rows gets an empty directory. A
    * target on another filesystem than the staging directory is copied
    * instead of renamed. Within a kind, each partition's lines keep
    * their input order.
    */
  def writeByKind(lines: DataFrame, targets: Seq[(String, String)]): Unit = {
    val conf = lines.sparkSession.sparkContext.hadoopConfiguration
    val first = new Path(targets.head._2)
    val staging = new Path(first.getParent, s".${first.getName}-staging-${UUID.randomUUID()}")
    // the writer would sort on kind alone, and its sort is not stable
    // once it spills; sorting on (kind, seq) first keeps input order
    // and leaves the writer nothing to sort
    lines.withColumn("seq", monotonically_increasing_id())
      .sortWithinPartitions("kind", "seq")
      .select("kind", "value")
      .write.partitionBy("kind").text(staging.toString)
    val fs = staging.getFileSystem(conf)
    try targets.foreach { case (kind, dir) =>
      val src = new Path(staging, s"kind=$kind")
      fs.mkdirs(src)
      fs.create(new Path(src, "_SUCCESS")).close()
      val dst = new Path(dir)
      val dstFs = dst.getFileSystem(conf)
      dstFs.delete(dst, true)
      dstFs.mkdirs(dst.getParent)
      if (dstFs.getUri == fs.getUri) {
        if (!fs.rename(src, dst)) sys.error(s"could not move $src to $dst")
      } else FileUtil.copy(fs, src, dstFs, dst, true, conf)
    } finally { fs.delete(staging, true); () }
  }
}
