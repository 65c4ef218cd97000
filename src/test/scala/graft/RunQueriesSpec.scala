package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, ScoringRule}

/** Batch retrieval (runQueries): per-query results identical to
  * runQuery, and the whole batch pays ONE term-stats probe + ONE
  * complex-leaf stats job (reference: IndriRunQuery batches queries
  * against a shared QueryEnvironment, runquery/IndriRunQuery.cpp:710-726).
  */
class RunQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "alpha beta alpha gamma delta"),
    (2L, "beta beta delta alpha"),
    (3L, "alpha delta delta delta beta gamma"),
    (4L, "gamma gamma alpha beta")
  )
  private val cfg = IndexConfig(analyzerMode = "simple", blockSize = 8, numBuckets = 2)
  private lazy val index = IndexBuilder.build(corpus.toDF("docId", "content"), cfg)

  private val mixed = Seq(
    "#combine(alpha beta)",
    "#combine(#od1(alpha beta) gamma)",
    "#wsyn(0.7 alpha 0.3 delta)",
    "#weight(2 alpha 1 gamma)")

  private def collectAll(dfs: Seq[(String, org.apache.spark.sql.DataFrame)]) =
    dfs.map { case (q, df) =>
      q -> df.select("docId", "score").as[(Long, Double)].collect().toSeq
    }.toMap

  test("dirichlet batch results are identical to per-query runQuery") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "dirichlet"))
    val batch = collectAll(eng.runQueries(mixed, 10))
    mixed.foreach { q =>
      val single = eng.runQuery(q, 10).select("docId", "score").as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"mismatch for $q")
    }
  }

  test("okapi batch (DAAT-eligible + belief-path mixed) identical to per-query runQuery") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "okapi"))
    val batch = collectAll(eng.runQueries(mixed, 10))
    mixed.foreach { q =>
      val single = eng.runQuery(q, 10).select("docId", "score").as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"mismatch for $q")
    }
  }

  test("selector rule lists send flat bags to the belief path in a batch too") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "dirichlet"))
    eng.setScoringRules(Seq("operator:term,method:dirichlet,mu:1000"))
    val bags = Seq("#combine(alpha beta)", "alpha beta")
    val batch = collectAll(eng.runQueries(bags, 10))
    bags.foreach { q =>
      val single = eng.runQuery(q, 10).select("docId", "score").as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"mismatch for $q")
    }
  }

  /** waits until the listener's action count stops moving */
  private def settle(actions: AtomicInteger): Unit = {
    var last = -1; var stable = 0
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (stable < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val v = actions.get()
      if (v == last) stable += 1 else { stable = 0; last = v }
    }
  }

  test("an all-belief-path batch pays exactly 2 driver actions to construct") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "dirichlet"))
    eng.runQueries(mixed, 10).foreach(_._2.collect()) // warm
    val actions = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionStart => actions.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      eng.runQueries(mixed, 10) // construction only
      settle(actions)
      assert(actions.get() == 2,
        s"expected 2 actions for a ${mixed.size}-query batch (shared term stats + shared leaf stats), saw ${actions.get()}")
      // structured-only: the term probe + ONE kernel window pass
      val structured = Seq(
        "#combine(alpha beta #od1(alpha beta) #uw8(alpha beta))",
        "#combine(gamma delta #od1(gamma delta) #uw8(gamma delta))")
      eng.runQueries(structured, 10).foreach(_._2.collect()) // warm
      settle(actions)
      actions.set(0)
      eng.runQueries(structured, 10) // construction only
      settle(actions)
      assert(actions.get() == 2,
        s"expected 2 actions for a structured-only batch (term stats + kernel window pass), saw ${actions.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
