package org.apache.spark.sql
package graftbridge

import org.apache.spark.SparkContext

/** Test-side read of the `private[spark]` block manager: the ids of the
  * blocks any block manager still holds for one RDD.
  */
object BlockProbe {
  def rddBlocks(sc: SparkContext, rddId: Int): Seq[String] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddId),
        askStorageEndpoints = true)
      .map(_.name)
}
