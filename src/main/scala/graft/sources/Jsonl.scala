package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL corpus ingestion with corrupt-record quarantine — the source
  * format every web-scale text pipeline actually receives (line-delimited
  * JSON, usually gzipped, with a real-world fraction of truncated lines,
  * encoding damage, and schema drift). Counterpart to the reference's
  * defensive CSV ingests (`src/transform_istdaten.py` encoding fallback;
  * our `tpg/IstdatenIngest`): never let one broken line kill a 100 TB
  * read, never silently drop it either.
  *
  * Mechanics: Spark's PERMISSIVE json mode with an explicit user schema +
  * `columnNameOfCorruptRecord` — unparsable lines land whole in the
  * quarantine column with every data column NULL; parsable lines that
  * merely MISS fields get NULLs (schema drift is data, not corruption).
  * The schema is explicit because inference is a full extra pass over
  * 100 TB and pins the corpus to whatever the first files looked like.
  * Gzip is handled by extension transparently; .gz files are not
  * splittable, so corpus producers should shard (many ~100 MB files) —
  * parallelism = file count for compressed JSONL.
  */
object Jsonl {

  val CorruptCol = "_corrupt_record"

  /** `schema` + the quarantine column appended. */
  def schemaWithQuarantine(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))

  /** Read line-delimited JSON (optionally .gz) under `path` with the given
    * data schema; returns every line as a row — parsed columns for good
    * lines, the raw line in [[CorruptCol]] (and NULL data columns) for
    * corrupt ones. Blank lines are skipped (matching the json source).
    *
    * Implemented as a TEXT scan + `from_json` rather than the json file
    * source: the file source forbids filtering on its internal corrupt
    * column unless the whole frame is cached first (SPARK-21610) — a
    * pinned full-corpus cache is exactly what a 100 TB read must not do.
    * `from_json` carries the same PERMISSIVE + corrupt-column semantics
    * with no such restriction, so filtering on [[CorruptCol]] stays a pure
    * scan.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    parse(spark.read.textFile(path).toDF("__line"), schema)

  /** Structured-Streaming twin of [[read]]: same text-scan + `from_json`
    * parse, same quarantine semantics, per micro-batch (the parse is
    * stateless Column expressions, so it lifts unchanged — spec-pinned
    * batch ≡ stream in StreamingSpec). Pair with `maxFilesPerTrigger` to
    * bound micro-batch size on a large corpus drop.
    */
  def readStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    parse(spark.readStream.text(path).withColumnRenamed("value", "__line"), schema)

  private def parse(lines: DataFrame, schema: StructType): DataFrame =
    lines
      .filter(length(trim(col("__line"))) > 0)
      .select(col("__line"), from_json(col("__line"), schemaWithQuarantine(schema),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)).as("__j"))
      // A line holding the JSON literal `null` parses to a NULL struct —
      // every field INCLUDING the corrupt column reads NULL, which would
      // sail through as a silently-clean all-NULL row and break the
      // never-silently-drop contract. Route the raw line to quarantine.
      .select(schema.fields.map(f => col("__j").getField(f.name).as(f.name)) :+
        when(col("__j").isNull, col("__line"))
          .otherwise(col("__j").getField(CorruptCol)).as(CorruptCol): _*)
}
