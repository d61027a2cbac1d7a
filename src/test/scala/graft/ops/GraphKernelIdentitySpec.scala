package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Identities between the iterative graph operators, checked on random
  * digraphs of at most 12 nodes (duplicate edges and self-loops
  * included). Each one equates two operators that run the same loop
  * through different entry points: the weighted-teleport, multi-seed and
  * personalized PageRanks share one propagation round; multi-source and
  * single-source BFS share one frontier loop; unit-weight shortest paths
  * relax exactly like BFS levels. Seeded and shrink-free, so a failure
  * reproduces and never fans out into more Spark jobs. */
class GraphKernelIdentitySpec extends SparkSpec {
  import spark.implicits._

  private case class Digraph(n: Int, edges: Seq[(Long, Long)], seeds: Seq[Long])

  private val digraphs: Gen[Digraph] = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 24)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    k <- Gen.choose(1, 3)
    seeds <- Gen.pick(k, 0L until n.toLong)
  } yield Digraph(n, edges, seeds.distinct.sorted.toSeq)

  private def check(name: String, cases: Int, seed: Long)(
      prop: Digraph => Boolean): Unit = test(name) {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(seed))
    val result = Test.check(params, Prop.forAllNoShrink(digraphs)(prop))
    assert(result.passed, s"$name: ${result.status}")
  }

  private def nodes(g: Digraph): DataFrame = (0L until g.n.toLong).toDF("id")
  private def edges(g: Digraph): DataFrame = g.edges.toDF("src", "dst")
  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  check("weighted teleport with w_e6 = 1e6 per seed equals personalized PageRank",
    cases = 6, seed = 11L) { g =>
    val iters = 1 + g.n % 4
    val seeds = g.seeds.map((_, 1000000L)).toDF("seed", "w_e6")
    val srcs = nodes(g).withColumn("is_src", col("id").isin(g.seeds: _*))
    rows(Graph.pageRankWeightedTeleport(nodes(g), edges(g), seeds, iters),
      "id", "pr_e6") ==
      rows(Graph.pageRankPersonalized(srcs, edges(g), "is_src", iters),
        "id", "pr_e6")
  }

  check("each seed's slice of multi-seed PageRank equals personalized PageRank from it",
    cases = 5, seed = 12L) { g =>
    val iters = 1 + g.n % 4
    val multi = Graph.pageRankMultiSeed(nodes(g), edges(g),
      g.seeds.toDF("seed"), iters)
    g.seeds.forall { s =>
      rows(multi.filter(col("seed") === s), "id", "pr_e6") ==
        rows(Graph.pageRankPersonalized(
          nodes(g).withColumn("is_src", col("id") === s), edges(g), "is_src",
          iters), "id", "pr_e6")
    }
  }

  check("multi-source BFS for seed s equals BFS levels from s",
    cases = 5, seed = 13L) { g =>
    val depth = 1 + g.n % 5
    val multi = Graph.multiSourceBfs(
      nodes(g).withColumn("is_seed", col("id").isin(g.seeds: _*)), edges(g),
      "is_seed", depth)
    g.seeds.forall { s =>
      rows(multi.filter(col("seed") === s), "id", "dist") ==
        rows(Graph.bfsLevels(nodes(g).withColumn("is_src", col("id") === s),
          edges(g), "is_src", depth), "id", "dist")
    }
  }

  check("unit-weight shortest paths equal BFS levels", cases = 8, seed = 14L) { g =>
    val hops = 1 + g.n % 5
    val srcs = nodes(g).withColumn("is_src", col("id").isin(g.seeds: _*))
    rows(Graph.shortestPaths(srcs, edges(g).withColumn("w", lit(1L)), "is_src",
        hops), "id", "cost") ==
      rows(Graph.bfsLevels(srcs, edges(g), "is_src", hops), "id", "dist")
  }
}
