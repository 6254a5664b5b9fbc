package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test-side bridge to the `private[spark]` checkpoint-dir field. The
  * public `setCheckpointDir` always mints a fresh subdirectory and
  * cannot unset, so a spec that points the shared context at a temp
  * dir restores the exact prior value (including none) through here. */
object CheckpointDirShim {
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
