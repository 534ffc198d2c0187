package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The multi-consumer materialized stores graft.Bench builds in its warm-up
  * (their accessors are package-private to graft), built in its order. */
object Stores {
  def warm(spark: SparkSession, dir: String): Unit = {
    graft.operators.DedupOps.shinglesM(spark, dir).count()
    graft.operators.DedupOps.simhashWideM(spark, dir).count()
    graft.operators.GraphOps.coSupplyEdges(spark, dir, ordered = true).count()
    graft.operators.SimilarityOps.ivfAssign2(spark, dir).count()
    graft.operators.SimilarityOps.ivfAssign2Level(spark, dir).count()
  }
}
