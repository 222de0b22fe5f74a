package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators._

/** C20 leakage move and C13 dedup on small in-repo frames: the split
  * invariants of clean/cleaner.py:885-945, and plan locks on the shape
  * that carries them (one leak-key exchange, one dedup per needed step). */
class LeakageMoveSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // (id, leak key, train?): key "a" mixes splits, "b" is all train, "c" all
  // test, "d" has one train row and three test rows; null keys sit in both
  private val rows = Seq(
    (1, Option("a"), true), (2, Option("a"), false), (3, Option("a"), false),
    (4, Option("b"), true), (5, Option("b"), true),
    (6, Option("c"), false), (7, Option("c"), false),
    (8, Option("d"), false), (9, Option("d"), true), (10, Option("d"), false),
    (11, Option("d"), false),
    (12, None, true), (13, None, false), (14, None, false))

  private def ids(df: DataFrame): Set[Int] = df.select("id").as[Int].collect().toSet

  test("C20: movers are exactly the test rows sharing a non-null key with train") {
    val df = rows.toDF("id", "k", "is_train")
    val (train, test) = Relational.leakageMove(df, col("is_train"), col("k"))
    assert(train.columns.toSeq == df.columns.toSeq && test.columns.toSeq == df.columns.toSeq)
    val (tr, te) = (ids(train), ids(test))
    val trainKeys = rows.collect { case (_, Some(k), true) => k }.toSet
    val moved = rows.collect { case (id, Some(k), false) if trainKeys(k) => id }.toSet
    assert(moved == Set(2, 3, 8, 10, 11))
    assert(tr == rows.collect { case (id, _, true) => id }.toSet ++ moved)
    assert(te == rows.map(_._1).toSet -- tr)
    // train + test is the input: no row lost, none in both
    assert((tr & te).isEmpty && train.count() + test.count() == rows.size)
    // no non-null key is on both sides; null-key test rows stay in test
    val keysOf = (d: DataFrame) => d.filter(col("k").isNotNull).select("k").as[String]
      .collect().toSet
    assert((keysOf(train) & keysOf(test)).isEmpty)
    assert(Set(13, 14).subsetOf(te) && tr.contains(12))
    assert(keysOf(test) == Set("c"))
  }

  private val cfg = CleanConfig(numReactant = 2, numProduct = 1, numAgent = 3,
    numSolv = 2, consistentYield = false, minFrequencyOfOccurrence = 2,
    trainSize = 0.5)

  /** Reactions where the same reactant/product set recurs with other
    * conditions (leak pairs), exact duplicates, and one rare agent. */
  private def reactions: DataFrame = (0 until 40).map { i =>
    val rxn = i % 12
    val agent = if (i == 39) "rare" else Seq("A", "B", "C")(i % 3)
    (i.toLong, Seq(s"R$rxn", "X"), Seq(s"P$rxn"), Seq(agent),
      Seq(if (i % 5 == 0) "S2" else "S1"), Seq(Option(50.0 + rxn)))
  }.toDF("original_index", "reactants", "products", "agents", "solvents", "yields")

  test("C20 through the cleaner: no reaction hash in both splits, rows conserved") {
    val cleaned = Cleaner.clean(reactions, cfg)
    val (train, test) = Cleaner.splitWithLeakageMove(cleaned, cfg)
    val h = md5(concat_ws(".", array_sort(concat(col("reactants"), col("products")))))
    val hashes = (d: DataFrame) => d.select(h).as[String].collect().toSet
    assert((hashes(train) & hashes(test)).isEmpty)
    assert(train.count() > 0 && test.count() > 0)
    assert(train.unionByName(test).select("original_index").as[Long].collect().sorted
      .toSeq == cleaned.select("original_index").as[Long].collect().sorted.toSeq)
  }

  test("C20 plan: one exchange, hash-partitioned on the leak key; no semi/anti join") {
    val (train, test) = Cleaner.splitWithLeakageMove(Cleaner.clean(reactions, cfg), cfg)
    Seq(train, test).foreach { d =>
      val plan = d.queryExecution.executedPlan
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, plan.toString)
      exchanges.head.outputPartitioning match {
        case HashPartitioning(Seq(k), _) => assert(k.references.map(_.name).toSet == Set("__lk"))
        case other => fail(s"leak exchange is $other")
      }
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan.toString)
      assert(!plan.toString.contains("LeftSemi") && !plan.toString.contains("LeftAnti"))
    }
  }

  /** Row-number (dedup) windows over every plan Spark executes in `body`,
    * and how many of those plans scan the in-memory input. */
  private def executed(body: => Unit): (Int, Int) = {
    val plans = ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    val windows = plans.map(p => collect(p) {
      case w: WindowExec if w.windowExpression.exists(_.exists(_.isInstanceOf[RowNumber])) => w
    }.size).sum
    val scans = plans.count(p => p.toString.contains("LocalTableScan"))
    (windows, scans)
  }

  test("C13: one dedup in remove-rare mode, two under map-to-other; input read once") {
    Seq(false -> 1, true -> 2).foreach { case (mapToOther, dedups) =>
      val c = cfg.copy(mapRareMoleculesToOther = mapToOther)
      var n = 0
      val (windows, scans) = executed { n = Cleaner.clean(reactions, c).collect().length }
      assert(windows == dedups, s"mapRareMoleculesToOther=$mapToOther")
      assert(scans == 1, s"mapRareMoleculesToOther=$mapToOther")
      assert(n > 0)
    }
  }

  test("C13: remove-rare mode repeats no dedup key without a second dedup") {
    val cleaned = Cleaner.clean(reactions, cfg)
    val key = md5(concat_ws("|", Seq("reactants", "products", "agents", "solvents")
      .map(c => concat_ws(",", col(c))) :+
      concat_ws(",", col("yields").cast("array<string>")): _*))
    assert(cleaned.groupBy(key).count().filter(col("count") > 1).count() == 0)
    // row 39 alone holds the rare agent; the other rows' distinct keys stay
    assert(cleaned.filter(array_contains(col("agents"), "rare")).count() == 0)
    assert(cleaned.count() == (0 until 39).map(i => (i % 12, i % 5 == 0)).distinct.size)
  }
}
