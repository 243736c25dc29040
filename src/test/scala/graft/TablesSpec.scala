package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.grafttest.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

/** Pins the schema memo behind [[Tables.t]]: the memoized read is the
  * bare `spark.read.parquet` read (schema and rows), a repeated read
  * launches no Spark job, and a rewritten file or a session whose
  * parquet confs would infer differently gets its own schema. */
class TablesSpec extends SparkSpec {
  private val sf = Paths.get(sys.props("user.home"), "testdata", "sf0.001")
    .toString

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  private def withTempDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_tables_spec")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Write `name.parquet` as ONE parquet file (not a Spark output dir)
    * with a raw parquet message type and no Spark schema in the footer,
    * replacing any previous file at that path. Each row gives its
    * fields' values in order: Long for int64, String for binary. */
  private def writeTable(dir: java.nio.file.Path, name: String,
                         message: String, rows: Seq[Seq[Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val tmp = dir.resolve(s".$name.tmp")
    Files.deleteIfExists(tmp)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      rows.foreach { vals =>
        val g = groups.newGroup()
        vals.zipWithIndex.foreach {
          case (v: Long, i)   => g.append(schema.getFieldName(i), v)
          case (v: String, i) => g.append(schema.getFieldName(i), v)
          case (v, _)         => sys.error(s"unsupported value $v")
        }
        w.write(g)
      }
    } finally w.close()
    Files.move(tmp, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  test("every testdata table reads with the bare read's schema and rows") {
    Tables.names.foreach { name =>
      val bare = spark.read.parquet(s"$sf/$name.parquet")
      val memo = Tables.t(spark, sf, name)
      // StructType equality covers nullability and field metadata
      assert(memo.schema === bare.schema, name)
      assert(Tables.schema(spark, sf, name) === bare.schema, name)
      assert(memo.collect().map(_.toString).sorted ===
        bare.collect().map(_.toString).sorted, name)
    }
  }

  test("a repeated read of the same file launches no Spark job") {
    Tables.t(spark, sf, "nation")
    assert(jobsDuring {
      Tables.t(spark, sf, "nation")
      Tables.schema(spark, sf, "nation")
    } === 0)
    // each call is a fresh relation: a self-join still resolves
    val a = Tables.t(spark, sf, "nation")
    val b = Tables.t(spark, sf, "nation")
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() === 25L)
  }

  test("a file rewritten at the same path is read with its new schema") {
    withTempDir { dir =>
      val d = dir.toString
      writeTable(dir, "t", "message t { required int64 a; }", Seq(Seq(1L)))
      assert(Tables.t(spark, d, "t").schema.fieldNames === Array("a"))
      writeTable(dir, "t",
        "message t { required int64 a; required binary b (STRING); }",
        Seq(Seq(2L, "x")))
      val df = Tables.t(spark, d, "t")
      assert(df.schema.map(f => f.name -> f.dataType) ===
        Seq("a" -> LongType, "b" -> StringType))
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))) ===
        Array((2L, "x")))
    }
  }

  test("a session with a different binaryAsString gets its own schema") {
    withTempDir { dir =>
      val d = dir.toString
      writeTable(dir, "blobs", "message t { required binary payload; }",
        Seq(Seq("abc")))
      assert(Tables.t(spark, d, "blobs").schema("payload").dataType ===
        BinaryType)
      val asString = spark.newSession()
      asString.conf.set("spark.sql.parquet.binaryAsString", "true")
      val df = Tables.t(asString, d, "blobs")
      assert(df.schema("payload").dataType === StringType)
      assert(df.collect().map(_.getString(0)) === Array("abc"))
      // the original session still reads with its own entry
      assert(Tables.schema(spark, d, "blobs")("payload").dataType ===
        BinaryType)
    }
  }
}
