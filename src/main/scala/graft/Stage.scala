package graft

import org.apache.spark.sql.DataFrame

/** Stage-boundary materialization with a cluster-reliability switch.
  *
  * `localCheckpoint()` stores blocks on executors — fast, and right for
  * local[*] — but executor-local blocks are lost on executor failure: on a
  * real cluster a 12-hour dedup dies mid-job with no way to recompute the
  * truncated lineage. `spark.graft.checkpoint.mode=reliable` routes every
  * stage boundary through reliable storage instead:
  *
  *   - `df.checkpoint()` when `SparkContext.setCheckpointDir` points at
  *     durable storage (HDFS/S3) — blocks survive executor loss;
  *   - otherwise a parquet round-trip under `spark.graft.checkpoint.dir`
  *     (the classic persisted-stage-boundary layout, also the resume
  *     point after a driver restart).
  *
  * The default mode `local` keeps `localCheckpoint`. All library stage
  * boundaries ([[pipeline.Dedup]], [[pipeline.Curate]], `dsl.checkpointed`)
  * go through [[materialize]], so one conf flips the whole engine.
  */
object Stage {

  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  /** Storage level for `local` mode's checkpoint blocks. Spark's default
    * (MEMORY_AND_DISK, deserialized) pins stage outputs in unified
    * memory, squeezing execution memory on mega-duplicate corpora (the
    * sf10-verbatim probe OOMs an 8g heap exactly this way —
    * BASELINE.md round-13). `DISK_ONLY` or `MEMORY_AND_DISK_SER` trade
    * re-read cost for execution headroom without leaving local mode. */
  val LocalLevelKey = "spark.graft.checkpoint.localStorageLevel"

  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" =>
        spark.conf.get(LocalLevelKey, "") match {
          case "" => df.localCheckpoint()
          case lvl => df.localCheckpoint(eager = true,
            org.apache.spark.storage.StorageLevel.fromString(lvl))
        }
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
        else {
          val base = spark.conf.get(DirKey, "")
          require(base.nonEmpty,
            s"$ModeKey=reliable needs SparkContext.setCheckpointDir or $DirKey")
          val path = s"$base/stage_${java.util.UUID.randomUUID().toString.take(12)}"
          df.write.parquet(path)
          graft.sources.Taps.parquet(spark, path)
        }
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
  }
}
