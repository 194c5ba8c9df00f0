package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._

/** Ingest layer — the engine-schema entry points for the corpora the
  * reference consumes ad hoc (in-memory ndarrays via
  * `src/helpers.rs:24-46`, parquet embeddings written by
  * `tests/test_2_CVE_db.py:130-152`). Each reader validates the schema
  * at the scan and returns the engine's canonical columns, so every
  * downstream operator can rely on (id, vec) / (doc_id, text) without
  * re-deriving casts. Validation failures surface at READ time with
  * the offending schema in the message, not as a mid-job cast error
  * three stages later.
  */
object CorpusSources {

  /** Embeddings parquet → (id: long, vec: array<double>). Accepts any
    * integral id column named `vec_id` or `id` and any numeric-array
    * embedding column named `embedding` or `vec`; fails fast with the
    * observed schema otherwise. Column pruning reaches the scan — the
    * reader selects only the two columns whatever else the file holds.
    */
  def embeddings(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val idCol = Seq("vec_id", "id").find(df.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        s"no vec_id/id column in $path: ${df.schema.simpleString}"))
    val vecCol = Seq("embedding", "vec").find(df.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        s"no embedding/vec column in $path: ${df.schema.simpleString}"))
    val vecType = df.schema(vecCol).dataType
    val elemOk = vecType match {
      case ArrayType(_: NumericType, _) => true
      case _ => false
    }
    require(elemOk,
      s"$vecCol must be array<numeric>, got ${vecType.simpleString} in $path")
    // the id must be integral too: a string id would cast to all-null
    // join/group keys three stages later with no error here
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idOk = df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    require(idOk,
      s"$idCol must be an integral type, got " +
        s"${df.schema(idCol).dataType.simpleString} in $path")
    df.select(
      F.col(idCol).cast("long").as("id"),
      F.col(vecCol).cast("array<double>").as("vec"))
  }

  /** Documents parquet → the engine document schema; requires doc_id
    * and text, passes through any extra metadata columns unchanged.
    */
  def documents(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    Seq("doc_id", "text").foreach { c =>
      require(df.columns.contains(c),
        s"documents at $path missing '$c': ${df.schema.simpleString}")
    }
    df.withColumn("doc_id", F.col("doc_id").cast("long"))
      .withColumn("text", F.col("text").cast("string"))
  }
}
