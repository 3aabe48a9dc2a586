package graft

import scala.util.Try

import graft.sources.Taps
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** `Taps.parquet` resolves a parquet source's schema from one footer on
  * the driver. Its schema must be the one a plain `spark.read.parquet`
  * infers, on every table the driver queries read and on every layout
  * the library writes; each layout where a footer cannot stand in for
  * Spark's own listing must take the plain read; and building the
  * relational queries must launch no Spark job. */
class TapSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private val scratched = scala.collection.mutable.Buffer[String]()
  private def scratch(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_tap_$tag").toString
    scratched += p
    p
  }
  override def afterAll(): Unit = {
    scratched.foreach(Streams.deleteRecursivelyNoFollow)
    super.afterAll()
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The tap and the plain read agree: equal schemas, or the same
    * failure. `fromFooter` says whether the tap must have resolved the
    * schema itself (false: it must have fallen back). */
  private def agrees(path: String, fromFooter: Boolean): Unit = {
    assert(Taps.footerSchema(spark, path).isDefined == fromFooter,
      s"$path: footer schema ${if (fromFooter) "missing" else "used where Spark reads otherwise"}")
    val tap = Try(Taps.parquet(spark, path).schema)
    val plain = Try(spark.read.parquet(path).schema)
    (tap.toEither, plain.toEither) match {
      case (Right(a), Right(b)) => assert(a == b, s"$path:\n tap   $a\n plain $b")
      case (Left(a), Left(b)) => assert(a.getClass == b.getClass, s"$path: $a vs $b")
      case _ => fail(s"$path: tap $tap, plain read $plain")
    }
  }

  private def tables(sf: String): Seq[String] =
    new java.io.File(sf).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  test("every sf0.001 and sf0.01 table, nanos as long on and off") {
    val paths = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").flatMap(tables)
    assert(paths.size >= 20, s"only ${paths.size} tables")
    Seq("true", "false").foreach { nanos =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
        paths.foreach(agrees(_, fromFooter = true))
      }
    }
  }

  test("footers without Spark's schema: nanos, INT96 and NTZ timestamps") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    // events.ts as a non-Spark writer ships it (TIMESTAMP(NANOS)), next
    // to the INT96 and wall-clock (NTZ) encodings
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int96 legacy_ts;
        |  optional int64 wall (TIMESTAMP(MICROS,false));
        |  optional binary props (STRING);
        |}""".stripMargin)
    val dir = scratch("nanos")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-00000.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      w.write(g.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000000000000L + i)
        .append("legacy_ts", Binary.fromConstantByteArray(new Array[Byte](12)))
        .append("wall", 1700000000000000L + i).append("props", s"p$i"))
    } finally w.close()
    for {
      nanos <- Seq("true", "false")
      ntz <- Seq("true", "false")
      int96 <- Seq("true", "false")
    } withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
        withConf("spark.sql.parquet.int96AsTimestamp", int96) {
          // Spark rejects TIMESTAMP(NANOS) unless read as long, and INT96
          // unless read as a timestamp: there the tap falls back and
          // fails the same way
          agrees(dir, fromFooter = nanos == "true" && int96 == "true")
        }
      }
    }
  }

  test("layouts the library writes: reliable stages, bucketed and template taps, " +
      "ordered stream staging") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // Stage.materialize in reliable mode: a flat parquet round trip
    val stageDir = scratch("stage")
    val staged = withConf(Stage.ModeKey, "reliable") {
      withConf(Stage.DirKey, stageDir)(Stage.materialize(li.limit(50)))
    }
    val stagePath = new java.io.File(stageDir).listFiles().filter(_.getName.startsWith("stage_"))
    assert(stagePath.length == 1)
    agrees(stagePath.head.getPath, fromFooter = true)
    assert(staged.schema == spark.read.parquet(stagePath.head.getPath).schema)
    // bucketed external table (bucket ids in the file names)
    val bucketDir = s"${scratch("bucket")}/t"
    Taps.bucketSink(li.select("l_orderkey", "l_quantity"), "graft_tap_schema_bucket",
      Seq("l_orderkey"), 4, sortCols = Seq("l_orderkey"), path = Some(bucketDir))
    try agrees(bucketDir, fromFooter = true)
    finally spark.sql("DROP TABLE IF EXISTS graft_tap_schema_bucket")
    // template tap: one k=v dir per flag, the partition column typed by
    // Spark's path inference
    val tmplDir = s"${scratch("template")}/t"
    Taps.templateSink(tmplDir, Seq("l_returnflag", "l_linenumber"))
      .write(li.select("l_orderkey", "l_returnflag", "l_linenumber", "l_shipdate"))
    agrees(tmplDir, fromFooter = true)
    // ordered stream staging: the __slice partition column
    val replay = scratch("replay")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    Streams.replayAsStream(ev.select("user_id", "ts"), replay, 3, "append",
      orderedBy = Some("ts"))(identity).count()
    val sliceDirs = new java.io.File(s"$replay/stage").list().filter(_.startsWith("__slice="))
    assert(sliceDirs.length == 3, sliceDirs.mkString(","))
    agrees(s"$replay/stage", fromFooter = true)
    assert(Taps.parquet(spark, s"$replay/stage").schema.fieldNames.last == "__slice")
  }

  test("fallbacks: mergeSchema, empty dir, summary files, sink log, " +
      "truncated footer, data column named like a partition") {
    // two files with different columns: only mergeSchema sees both
    val merge = scratch("merge")
    Seq((1L, "a")).toDF("k", "v").write.mode("append").parquet(merge)
    Seq((2L, "b", 3.0)).toDF("k", "v", "w").write.mode("append").parquet(merge)
    agrees(merge, fromFooter = true)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      agrees(merge, fromFooter = false)
      assert(Taps.parquet(spark, merge).schema.fieldNames.toSeq == Seq("k", "v", "w"))
    }
    // empty dir: Spark cannot infer a schema, and neither may the tap
    agrees(scratch("empty"), fromFooter = false)
    // _common_metadata wins Spark's inference over any data file
    val summary = scratch("summary")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(summary)
    val wide = scratch("wide")
    Seq((1L, "a", 2.0)).toDF("k", "v", "extra").coalesce(1).write.mode("overwrite").parquet(wide)
    val wideFile = new java.io.File(wide).listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(wideFile.toPath, new java.io.File(summary, "_common_metadata").toPath)
    agrees(summary, fromFooter = false)
    assert(Taps.parquet(spark, summary).schema.fieldNames.contains("extra"))
    // a streaming sink log: Spark lists the committed files from it
    val logged = scratch("logged")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(logged)
    assert(new java.io.File(logged, "_spark_metadata").mkdir())
    agrees(logged, fromFooter = false)
    // a truncated footer in the file Spark's inference opens
    val torn = scratch("torn")
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(torn)
    val part = new java.io.File(torn).listFiles().filter(_.getName.startsWith("part-")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    java.nio.file.Files.write(part.toPath, bytes.take(bytes.length - 6))
    agrees(torn, fromFooter = false)
    // a data file carrying a column named like its partition dir
    val clash = scratch("clash")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$clash/k=1")
    agrees(clash, fromFooter = false)
    // a missing path fails the same way through both
    agrees(s"${scratch("missing")}/nothing", fromFooter = false)
  }

  test("footer row count lists with the session's Hadoop conf") {
    val dir = scratch("rows")
    spark.range(0, 1000, 1, 3).toDF("id").write.mode("overwrite").parquet(s"$dir/flat")
    assert(Streams.parquetFooterRowCount(spark, s"$dir/flat") == 1000L)
    spark.range(0, 1000, 1, 3).withColumn("p", col("id") % 4)
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/parted")
    assert(Streams.parquetFooterRowCount(spark, s"$dir/parted") == 1000L)
    // a session-level Hadoop setting reaches the listing: a scheme bound
    // only in the session conf, as Spark's own scan would resolve it
    withConf("fs.graftlocal.impl", classOf[GraftLocalFs].getName) {
      withConf("fs.graftlocal.impl.disable.cache", "true") {
        assert(Streams.parquetFooterRowCount(spark, s"graftlocal://$dir/flat") == 1000L)
      }
    }
  }

  test("building the relational queries launches no Spark job") {
    val sf = "/root/testdata/sf0.001"
    Seq("q01_multi_agg", "q03_join_agg", "q06_semi_join", "q13_topk_pergroup",
        "q17_wordcount", "q29_full_outer").foreach { name =>
      val (_, rec) = obs.Recorder.record(spark)(SparkEntry.queries(name)(spark, sf))
      val jobs = rec.jobs.map(_.label)
      assert(jobs.isEmpty, s"$name launched ${jobs.size} job(s) while building: $jobs")
    }
  }
}

/** The local file system under its own scheme: bound only through a
  * session conf, it shows which Hadoop conf a listing used. */
class GraftLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
}
