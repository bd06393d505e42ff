package org.apache.spark

import org.apache.spark.sql.GraftParquetWriteBundle
import org.apache.spark.storage.BroadcastBlockId

/** Test access to a write bundle's private conf broadcast: whether it
  * is still live, i.e. not destroyed or still holding a block in the
  * driver's block manager. */
object BroadcastShim {
  def held(sc: SparkContext, bundle: GraftParquetWriteBundle): Boolean = {
    val id = bundle.conf.id
    bundle.conf.isValid || sc.env.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(`id`, _) => true
      case _ => false
    }.nonEmpty
  }
}
