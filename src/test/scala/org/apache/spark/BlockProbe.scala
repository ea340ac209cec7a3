package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Spec access to the block manager, which Spark keeps package-private:
  * the blocks of one RDD that any block manager still stores. */
object BlockProbe {
  def rddBlocks(rddId: Int): Seq[RDDBlockId] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds({
        case b: RDDBlockId => b.rddId == rddId
        case _ => false
      }, askStorageEndpoints = true)
      .collect { case b: RDDBlockId => b }.toSeq
}
