package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Lineage-truncation strategy for iterative / multi-branch plans
  * (connected components, e1's quality-gated corpus, SimHash signatures).
  *
  * Two modes, picked per session via `spark.graft.checkpoint.dir`:
  *
  *  - UNSET (default, local/dev): `localCheckpoint` — blocks live in
  *    executor storage. Fast (no FS round-trip) but NOT fault-tolerant: on
  *    a real cluster a single lost executor loses blocks whose lineage was
  *    discarded, killing the job unrecoverably. Fine on local[n] where
  *    executor == driver.
  *  - SET to a (HDFS-visible, job-scoped) directory: reliable
  *    `checkpoint()` — blocks are written to the directory and survive
  *    executor loss, which is the only safe mode for long multi-round jobs
  *    on a 1000-executor cluster (the checkpoint files must be cleaned by
  *    the job owner; Spark only removes them with
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`).
  *
  * Both modes are EAGER (the default for either API): the plan up to the
  * checkpoint runs once, and every downstream branch reads materialized
  * blocks instead of re-executing the subtree.
  */
object Checkpoints {

  /** Spark-conf key naming the reliable-checkpoint directory. */
  val DirKey = "spark.graft.checkpoint.dir"

  /** Truncate `df`'s lineage per the session's configured strategy. */
  def checkpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir(dir) checkpoints under a fresh `dir/<uuid>`
        // and getCheckpointDir returns that subdir fs-qualified: re-point
        // the context whenever the configured dir is not its parent, so
        // the dir configured NOW always receives the files
        val want = new Path(dir)
        val qualified =
          want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        if (!sc.getCheckpointDir.map(d => new Path(d).getParent)
              .contains(qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }
}
