package graft

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.index.Index

/** Reads a block-store route's RDD lineage off an executed plan. */
object StoreLineage extends AdaptiveSparkPlanHelper {

  /** Every RDD in the lineage of the plan's RDD scans. */
  def of(plan: SparkPlan): Seq[RDD[_]] = {
    def walk(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => walk(d.rdd))
    collect(plan) { case e: ExternalRDDScanExec[_] => e.rdd }.flatMap(walk)
  }

  /** (store partitions launched, store partitions) of each read of `idx`'s
    * block store in the plan.
    */
  def launched(idx: Index, plan: SparkPlan): Seq[(Int, Int)] =
    of(plan).collect {
      case p: PartitionPruningRDD[_] if p.dependencies.head.rdd eq idx.blockStore.rdd =>
        (p.partitions.length, idx.blockStore.rdd.partitions.length)
    }
}
