package graft

import org.apache.spark.sql.DataFrame

/** THE materialization primitive (r17 verdict item #8): every lineage
  * cut in the engine — the iterative graph loops, the DirCache
  * artifacts, the two-reader query-body cuts — routes through
  * [[of]], so ONE config decides how intermediates are made durable:
  *
  *  - `spark.graft.checkpoint.mode = local` (default):
  *    `localCheckpoint` — executor-resident blocks, no fault
  *    tolerance. Right for local[
  *    n] runs and the bench/oracle harness; on a real cluster an
  *    executor loss makes the truncated lineage unrecoverable and
  *    fails the job.
  *  - `spark.graft.checkpoint.mode = reliable`: `Dataset.checkpoint`
  *    into the configured checkpoint directory
  *    (`spark.graft.checkpoint.dir`, or the context's existing
  *    checkpoint dir, or a created temp dir as a last resort) —
  *    survives executor loss / dynamic allocation, costs a write+read
  *    of each cut relation. The 100 TB deployment setting.
  *
  * Both modes collapse the plan to the same LogicalRDD leaf (so
  * `Graph.release`, the DirCache lifetime rules and its eager-result
  * check behave identically) and materialize the same rows — `CutModeSpec` pins bit-equality of
  * the two modes on a cut-heavy query. Checkpoint FILES in reliable
  * mode live until the checkpoint dir is cleaned (standard Spark
  * `cleanCheckpoints` semantics); `release` frees only block-manager
  * storage, which is all local mode allocates. */
object Cut {
  def of(df: DataFrame, eager: Boolean): DataFrame = {
    val s = df.sparkSession
    if (s.conf.get("spark.graft.checkpoint.mode", "local") == "reliable") {
      val sc = s.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(
        try s.conf.get("spark.graft.checkpoint.dir")
        catch {
          case scala.util.control.NonFatal(_) =>
            java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
        })
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    /** `df.cut(eager)` — the drop-in spelling for what was
      * `df.localCheckpoint(eager)` at every call site. */
    def cut(eager: Boolean): DataFrame = of(df, eager)
  }
}
