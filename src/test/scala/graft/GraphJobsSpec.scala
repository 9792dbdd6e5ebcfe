package graft

import org.apache.spark.JobCount

/** Job-count pins for the superstep-loop graph queries at sf0.01: the 8
  * perfbench graph_loops queries plus both k-core shapes and modularity,
  * each run cold (right after [[Tables.invalidate]], so the edge and node
  * memos rebuild) and then warm (memos built). A loop refactor that keeps
  * every plan keeps every count; a change that adds or drops a round
  * action, a checkpoint or a memo build moves one.
  */
class GraphJobsSpec extends SparkSpec {
  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  /** query → (cold jobs, warm jobs), local[4]. Each count repeated
    * exactly over three separate runs before it was pinned. */
  private val pinned = Seq(
    "graph_bfs" -> (38, 31),
    "graph_bfs_bucketed" -> (40, 31),
    "graph_components" -> (32, 25),
    "graph_components_bucketed" -> (34, 25),
    "graph_label_prop" -> (31, 24),
    "graph_label_prop_bucketed" -> (33, 24),
    "graph_pagerank" -> (30, 21),
    "graph_pagerank_bucketed" -> (32, 21),
    "graph_kcore" -> (41, 37),
    "graph_kcore_bucketed" -> (54, 46),
    "graph_modularity" -> (64, 57))

  test("graph loop queries launch their pinned job counts, cold and warm") {
    val sc = spark.sparkContext
    def jobs(q: String): Int = JobCount(sc)(SparkEntry.queries(q)(spark, sf01).collect())._2
    val got = pinned.map { case (q, _) =>
      Tables.invalidate(spark, sf01)
      val cold = jobs(q)
      q -> ((cold, jobs(q)))
    }
    assert(got == pinned, got.zip(pinned).filter { case (g, p) => g != p }
      .map { case ((q, g), (_, p)) => s"$q: got $g, pinned $p" }.mkString("; "))
  }
}
