package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.{GraphGen, GraphOps}

/** Seeded input generators. Everything is a function of the seed alone, so
  * a run on a held-out seed rebuilds exactly the inputs it claims. */
object Inputs {

  /** A com-youtube-shaped power-law graph, symmetrized (both directions of
    * every undirected edge), written as parquet. Returns directed rows. */
  def graph(s: SparkSession, out: String, nodes: Long, draws: Long, seed: Long,
      parts: Int): Long = {
    GraphOps.symEdges(GraphGen.powerLawEdges(s, nodes, draws, 0.5, seed))
      .repartition(parts, col("src")).sortWithinPartitions("src", "dst")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out).count()
  }
}
