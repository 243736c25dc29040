package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Catalog of the driver-provided testdata tables (TESTDATA.md).
  *
  * The reference engine's data model is "a flat table per entity, parquet at
  * rest in a lake layout" (SURVEY.md §1; reference
  * `data_ingestion/dags/scrape_data_to_gcs.py:34-39,196-320`). Here every
  * entity is a parquet file under one scale-factor directory; schemas are
  * carried by parquet (declared, not inferred) so Catalyst gets exact types
  * and the vectorized reader + column pruning work out of the box.
  *
  * Scale note: `spark.read.parquet` on a directory of files produces one task
  * per row-group/128MB split — at 100 TB this is the same call, just more
  * splits; nothing here is driver-bound.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one entity table from a scale-factor dir.
    *
    * A bare `spark.read.parquet(file)` infers the schema with a one-task
    * Spark job that reads the footer, on every call — one job per table
    * per query, for tables that never change under a run. So the schema
    * Spark infers for a table FILE is memoized, and every read is
    * `spark.read.schema(memo).parquet(file)`: the first read of a file
    * infers once, every later one launches no job. Each call still
    * builds a fresh relation with fresh expression ids, so self-joins
    * behave as with the bare read.
    *
    * The memo keys on what the inferred schema depends on: the qualified
    * path, the file's length and modification time (a rewritten file
    * gets its own entry), and the session's explicitly set confs whose
    * key contains `parquet` (`nanosAsLong`, `binaryAsString`,
    * `inferTimestampNTZ`, …: a session that would infer differently
    * gets its own entry). It is deliberately NOT session-scoped: the
    * value is a plain `StructType`, holding no session, DataFrame or
    * data, so sessions that would infer the same schema share it and a
    * stopped session leaves nothing behind but the schema.
    *
    * A directory-valued (or missing) path keeps the bare read, so its
    * schema and errors are exactly Spark's.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fileSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }
  }

  /** The schema [[t]] reads `name` with, without building a relation —
    * for stream sources, which must be handed their schema up front. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    fileSchema(spark, path).getOrElse(spark.read.parquet(path).schema)
  }

  private case class FileKey(path: String, length: Long, modified: Long,
                             parquetConfs: Seq[(String, String)])

  private val inferred = new ConcurrentHashMap[FileKey, StructType]()

  /** The memoized inferred schema of a parquet FILE (see [[t]]); None for
    * a directory or a missing path. */
  private def fileSchema(spark: SparkSession, path: String)
  : Option[StructType] = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val key = FileKey(st.getPath.toString, st.getLen,
        st.getModificationTime,
        spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted)
      inferred.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    }
  }

  /** `events` with a usable TimestampType `ts`, whatever the file stored.
    *
    * The driver has shipped two generations of events.parquet: an older one
    * with `ts` as parquet TIMESTAMP(NANOS) — which Spark's vectorized reader
    * only accepts as nanosecond longs under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench) — and
    * the current one with plain `timestamp[us]`, which arrives as
    * TIMESTAMP_NTZ (Spark 4 infers NTZ for non-UTC-adjusted micros).
    * Normalizing here, keyed on the schema Spark actually read, keeps every
    * downstream query on session-zone TimestampType regardless of the file
    * generation: longs are nanos → `timestamp_micros(ns div 1000)` (integer
    * `div` stays exact above 2^53 where a double roundtrip would not), and
    * NTZ casts to TimestampType (identity on wall-clock values — sessions
    * pin `spark.sql.session.timeZone=UTC`, matching DuckDB's naive reading
    * of the same file).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      // FLOOR division, not `div` (which truncates toward zero): a
      // pre-epoch nano timestamp would otherwise land one micro late
      // (-1500 div 1000 = -1, floor = -2) and cross bucket boundaries
      case LongType         => raw.withColumn("ts",
        expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
}
