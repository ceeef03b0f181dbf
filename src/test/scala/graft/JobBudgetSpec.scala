package graft

import graft.dedup.Dedup
import graft.pipelines.Pipelines
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.JobShim

/** Spark-job ceilings for pipeline entry points on small fixed inputs. Each
  * job is a driver round-trip and a re-plan at any scale, so a change that
  * adds jobs to an entry point fails here; a change that removes jobs
  * lowers the ceiling in the same commit.
  */
class JobBudgetSpec extends SparkSpec {

  import spark.implicits._

  /** Spark jobs that `body` starts on this thread (and the threads Spark
    * hands its local properties to: broadcasts, subqueries). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(JobShim.JobGroupKey) == group)) seen.incrementAndGet()
    }
    JobShim.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try body
    finally {
      sc.clearJobGroup()
      JobShim.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.get()
  }

  test("connectedComponentsStar: a small graph is one driver finish, not per-round jobs") {
    // two chains and a star, 20 edges, 23 vertices
    val pairs = ((1L to 8L).map(i => (i, i + 1)) ++
      (20L to 25L).map(i => (i + 1, i)) ++
      (40L to 45L).map(i => (40L, i + 1))).toDF("doc_a", "doc_b")
    var labels = Map.empty[Long, Long]
    val jobs = jobsOf {
      labels = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
    }
    assert(labels.size === 23 && labels.values.toSet === Set(1L, 20L, 40L))
    // star CC's rounds took 30 jobs on this graph
    assert(jobs <= CcCeiling, s"$jobs jobs")
  }

  test("dedupCorpus: job ceiling on a small corpus") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (1L to 40L).map { i =>
      // four 10-doc families: each doc is its family's text with one word
      // swapped, so the families are near-duplicate clusters
      val fam = words.map(w => s"$w${i % 4}")
      (i, fam.updated((i % 10).toInt, s"x$i").mkString(" "))
    }.toDF("doc_id", "text")
    var kept = 0L
    val jobs = jobsOf {
      kept = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0).count()
    }
    assert(kept > 0L && kept < 40L, s"kept $kept")
    // 44 jobs when star CC ran its rounds here
    assert(jobs <= DedupCorpusCeiling, s"$jobs jobs")
  }

  private val CcCeiling = 3
  private val DedupCorpusCeiling = 21
}
