package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** The approximate build must work, and give the same edges, at any
  * parallelism: a plan whose shuffled joins can meet sides with
  * different partition counts fails only on some (parallelism, size)
  * pairs, so one fixed core count cannot guard it. Each setting gets
  * its own session, stopped before the next starts — a running
  * SparkContext would otherwise be reused whatever master is asked. */
class ParallelismSweepSpec extends AnyFunSuite {
  private val cores = Seq(1, 3, 8)

  private def stopAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  private def edgesAt(n: Int, d: String): Seq[Seq[Any]] = {
    stopAll()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"parallelism-sweep-$n")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(s.sparkContext.defaultParallelism == n)
      Ann.hnswEdgesApprox(s, d).collect().map(_.toSeq).toSeq
    } finally s.stop()
  }

  for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"hnsw_edges_approx: identical ordered edges at local[1], local[3], local[8] on $d") {
      val runs = cores.map(n => n -> edgesAt(n, d))
      val (n0, ref) = runs.head
      assert(ref.nonEmpty, s"empty build at local[$n0]")
      runs.tail.foreach { case (n, rows) =>
        assert(rows.length == ref.length,
          s"local[$n] built ${rows.length} edges, local[$n0] ${ref.length}")
        val firstDiff = rows.zip(ref).indexWhere { case (a, b) => a != b }
        assert(firstDiff < 0, s"local[$n] differs from local[$n0] at row " +
          s"$firstDiff: ${rows(math.max(firstDiff, 0))} vs ${ref(math.max(firstDiff, 0))}")
      }
    }
}
