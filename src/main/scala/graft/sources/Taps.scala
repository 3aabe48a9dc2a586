package graft.sources

import graft.logic.GenPred
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.control.NonFatal

/** Tap surface — sources and sinks (reference
  * cascalog-core/src/clj/cascalog/cascading/tap.clj and
  * cascalog-more-taps). Sources are generators; sinks wrap
  * DataFrameWriter with the reference's :sinkmode semantics.
  */
object Taps {

  /** :sinkmode (tap.clj:104-159): :keep errors if output exists, :update
    * appends, :replace overwrites. */
  val sinkModes: Map[String, SaveMode] = Map(
    "keep" -> SaveMode.ErrorIfExists,
    "update" -> SaveMode.Append,
    "replace" -> SaveMode.Overwrite)

  // -------------------------------------------------------------- sources

  /** hfs-tap equivalent: any format, glob patterns supported natively
    * (`:source-pattern`, tap.clj:75-78). */
  def hfs(format: String, path: String, options: Map[String, String] = Map.empty)(
      fields: Any*): GenPred =
    GenPred(s => s.read.options(options).format(format).load(path), fields)

  /** parquet is the native tuple format (the seqfile role). */
  def seqfile(path: String)(fields: Any*): GenPred =
    GenPred(parquet(_, path), fields)

  /** A parquet source whose fields are known before the query runs (a
    * tap's `get-out-fields`, PAPER §1.2): the schema comes from one
    * footer read on the driver, so building the frame launches no
    * Spark job. A plain `spark.read.parquet` infers the same schema
    * with a one-task job per read.
    *
    * The footer is the one Spark's inference would open: the first
    * data file by path. It converts the way Spark's inference does: the
    * writer's Spark schema when the footer carries one, else the
    * parquet schema under the session's parquet confs (nanos as long,
    * INT96, NTZ). Falls back to the plain read, job and all, when
    * `spark.sql.parquet.mergeSchema` is on, the path is a glob, the dir
    * holds summary files (`_metadata`, `_common_metadata`) or a
    * streaming sink log (`_spark_metadata`), its layout is neither flat
    * nor `k=v` partitioned, it holds no data file, a data column shares
    * a partition column's name, or the footer read or parse throws.
    * Nothing is cached: every call lists and reads afresh. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The writer's Spark schema in a parquet footer (Spark's own key). */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** Summary files and the streaming sink log: each makes Spark read
    * the dir differently from its plain listing. */
  private val SpecialNames = Set("_metadata", "_common_metadata", "_spark_metadata")

  /** Names Spark's file index skips: `_`-prefixed (except `k=v` dirs),
    * `.`-prefixed and in-flight `._COPYING_` files. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** A parquet path's data files, listed through Hadoop `FileSystem`
    * with the session's Hadoop conf (the one Spark's scan of the same
    * path uses), sorted by path as Spark's schema inference sorts them;
    * `keys` are the partition column names of a `k=v` layout. None when
    * no footer can stand in for Spark's own listing (see [[parquet]]). */
  private[graft] final case class Leaves(conf: Configuration, files: Seq[FileStatus],
      keys: Set[String])

  private[graft] def leaves(spark: SparkSession, path: String): Option[Leaves] = {
    if (path.exists("*?[]{}\\".contains(_))) return None
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val top = fs.getFileStatus(root)
    // flat dir: its files; `k=v` dirs only: their leaves, recursively
    def walk(dir: Path): Option[Seq[FileStatus]] = {
      val all = fs.listStatus(dir).toSeq
      val (dirs, files) = all.filterNot(f => hidden(f.getPath.getName)).partition(_.isDirectory)
      if (all.exists(f => SpecialNames(f.getPath.getName))) None
      else if (dirs.isEmpty) Some(files)
      else if (files.isEmpty && dirs.forall(_.getPath.getName.contains("=")))
        dirs.foldLeft(Option(Seq.empty[FileStatus]))((acc, d) =>
          acc.flatMap(a => walk(d.getPath).map(a ++ _)))
      else None
    }
    val found =
      if (top.isDirectory) walk(top.getPath)
      else Option.when(!hidden(root.getName))(Seq(top))
    found.map { files =>
      val sorted = files.sortBy(_.getPath.toString)
      val keys = sorted.headOption.toSeq.flatMap { f =>
        Iterator.iterate(f.getPath.getParent)(_.getParent)
          .takeWhile(p => p != null && p.depth > top.getPath.depth)
          .map(_.getName).filter(_.contains("=")).map(_.takeWhile(_ != '='))
      }
      Leaves(conf, sorted, keys.toSet)
    }
  }

  /** Reads one parquet file's footer. */
  private[graft] def withFooter[T](conf: Configuration, f: FileStatus)(
      read: ParquetMetadata => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try read(r.getFooter) finally r.close()
  }

  /** The schema a plain read of `path` would infer, from the first data
    * file's footer; None where [[parquet]] falls back. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sql = spark.sessionState.conf
    if (sql.isParquetSchemaMergingEnabled) None
    else try leaves(spark, path).flatMap { l =>
      l.files.headOption.map { f =>
        withFooter(l.conf, f) { footer =>
          val meta = footer.getFileMetaData
          Option(meta.getKeyValueMetaData.get(SparkRowMetadata)) match {
            case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
            // the converter arguments Spark's own inference passes
            case None => new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = sql.isParquetBinaryAsString,
              assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
              inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
              nanosAsLong = sql.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
              .convert(meta.getSchema)
          }
        }
      }.filterNot(_.fieldNames.exists(n => l.keys.exists(_.equalsIgnoreCase(n))))
    } catch { case NonFatal(_) => None }
  }

  /** hfs-textline (tap.clj:50-57): one tuple per line. */
  def textline(path: String)(fields: Any*): GenPred =
    GenPred(_.read.text(path), fields)

  /** hfs-delimited (more_taps.clj:11-80): sep/quote/header/inferSchema. */
  def delimited(path: String, sep: String = "\t", header: Boolean = false,
      quote: String = "\"", inferSchema: Boolean = true)(fields: Any*): GenPred =
    GenPred(_.read
      .option("sep", sep).option("header", header.toString)
      .option("quote", quote).option("inferSchema", inferSchema.toString)
      .csv(path), fields)

  /** hfs-wrtseqfile (more_taps.clj:83-112): Hadoop SequenceFile of
    * Writable key/value pairs, as (key string, value string) tuples. */
  def wrtseqfile(path: String)(fields: Any*): GenPred =
    GenPred({ s =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val rdd = s.sparkContext.sequenceFile[String, String](path)
        .map { case (k, v) => Row(k, v) }
      s.createDataFrame(rdd, StructType(Seq(
        StructField("key", StringType), StructField("value", StringType))))
    }, fields)

  /** Writable SequenceFile sink for two-column (string, string) frames. */
  def wrtseqfileSink(df: DataFrame, path: String): Unit =
    df.rdd.map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1))))
      .saveAsSequenceFile(path)

  /** hfs-wholefile (more_taps.clj:114-120): one tuple per whole file. */
  def wholefile(path: String, glob: String = "*")(fields: Any*): GenPred =
    GenPred(_.read.format("binaryFile").option("pathGlobFilter", glob).load(path),
      fields)

  /** JSONL (newline-delimited JSON) source — the training-corpus
    * interchange format (beyond-reference; the hfs-tap role for the
    * corpora LLM pipelines actually ship). Schema inference costs an
    * extra pass over the data; at 100 TB pass `schemaFrom` (a sampled
    * or sibling file) or `schemaDDL` (an explicit DDL string, e.g.
    * "doc_id BIGINT, text STRING") so the scan is single-pass with
    * column pruning pushed into the parser — Spark's JSON reader only
    * materializes the fields the query projects. */
  def jsonl(path: String, schemaDDL: String = "", schemaFrom: String = "",
      options: Map[String, String] = Map.empty)(fields: Any*): GenPred =
    GenPred({ s =>
      var r = s.read.options(options)
      if (schemaDDL.nonEmpty)
        r = r.schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDDL))
      else if (schemaFrom.nonEmpty)
        r = r.schema(s.read.options(options).json(schemaFrom).schema)
      r.json(path)
    }, fields)

  // ---------------------------------------------------------------- sinks

  /** A sink: writes a compiled query result. `sinkparts` → coalesce
    * (tap.clj:104-159); `template` → partitioned output by field values
    * (template-tap, tap.clj:80-102). */
  final case class Sink(
      format: String,
      path: String,
      mode: String = "replace",
      sinkparts: Option[Int] = None,
      template: Seq[String] = Nil,
      options: Map[String, String] = Map.empty) {
    def write(df: DataFrame): Unit = {
      val coalesced = sinkparts.fold(df)(df.coalesce)
      var w = coalesced.write.mode(sinkModes(mode)).options(options)
      if (template.nonEmpty) w = w.partitionBy(template: _*)
      w.format(format).save(path)
    }
  }

  def parquetSink(path: String, mode: String = "replace"): Sink =
    Sink("parquet", path, mode)
  def csvSink(path: String, sep: String = "\t", header: Boolean = false,
      mode: String = "replace"): Sink =
    Sink("csv", path, mode, options = Map("sep" -> sep, "header" -> header.toString))
  def textSink(path: String, compression: Option[String] = None,
      mode: String = "replace"): Sink =
    Sink("text", path, mode,
      options = compression.map("compression" -> _).toMap)
  def templateSink(path: String, templateFields: Seq[String],
      format: String = "parquet", mode: String = "replace"): Sink =
    Sink(format, path, mode, template = templateFields)
  /** JSONL sink; `compression` e.g. "gzip"/"zstd" for shipped corpora. */
  def jsonlSink(path: String, compression: Option[String] = None,
      mode: String = "replace"): Sink =
    Sink("json", path, mode,
      options = compression.map("compression" -> _).toMap)

  /** Bucketed-table sink — the 100 TB co-located-join path. Writing both
    * sides of a recurring big-big equi-join bucketed (same keys, same
    * bucket count) lets every later join/aggregation on those keys run
    * WITHOUT a shuffle: Spark's bucketing metadata proves the partitioning
    * (hfs-tap has no Cascading analog; this is Spark-native scale
    * machinery, beyond-reference). `sortCols` additionally pre-sorts
    * within buckets so sort-merge joins skip the per-task sort. */
  def bucketSink(df: DataFrame, table: String, keys: Seq[String], buckets: Int,
      sortCols: Seq[String] = Nil, mode: String = "replace",
      path: Option[String] = None): Unit = {
    var w = df.write.mode(sinkModes(mode))
      .bucketBy(buckets, keys.head, keys.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    // explicit path → external table: data lands there instead of the
    // session warehouse dir (callers that must not write under the cwd)
    path.foreach(p => w = w.option("path", p))
    w.format("parquet").saveAsTable(table)
  }

  /** Source over a bucketed table (pairs with [[bucketSink]]). */
  def bucketTap(table: String)(fields: Any*): GenPred =
    GenPred(_.table(table), fields)

  /** stdout tap (tap.clj:225-228). */
  def stdout(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = false)

  /** fn sink (in-memory platform sinks, in_memory/platform.clj:56-76 and
    * fn-sinks at cascading/platform.clj:320-324): deliver the result
    * tuples to a function. */
  def fnSink(f: Seq[Seq[Any]] => Unit): DataFrame => Unit =
    df => f(df.collect().toSeq.map(_.toSeq))

  /** cascalog-tap: a (source, sink) pair (cascading/tap.clj:23-26). */
  final case class CascalogTap(source: Seq[Any] => GenPred, sink: Sink)

  def tap(format: String, path: String, sink: Sink): CascalogTap =
    CascalogTap(fields => hfs(format, path)(fields: _*), sink)

  /** fill-tap! (tap.clj:239-250): write local tuples through a sink. */
  def fillTap(s: SparkSession, sink: Sink, rows: Seq[Seq[Any]]): Unit =
    sink.write(graft.dsl.memDF(s, rows))

  /** get-sink-tuples (tap.clj:252-260): read a tap back to local tuples. */
  def sinkTuples(s: SparkSession, format: String, path: String): Seq[Seq[Any]] =
    s.read.format(format).load(path).collect().toSeq.map(_.toSeq)

  /** pluck-tuple (reference cascading/tap.clj:262-268): read a single
    * tuple from a tap — the head of the sink's tuples, None when empty. */
  def pluckTuple(s: SparkSession, format: String, path: String): Option[Seq[Any]] =
    s.read.format(format).load(path).head(1).headOption.map(_.toSeq)
}
