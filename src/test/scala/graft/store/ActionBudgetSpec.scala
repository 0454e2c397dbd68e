package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate on DRIVER ACTIONS in the store write path.
  *
  * The insert path's action diet (round 4: 19→13; round 6: 13→9 for the
  * 4-table nested create, via observed metrics riding the checkpoint)
  * regressed silently once — bench detection was a round too late. This
  * spec pins the budget structurally: a nested create over a parent plus
  * two relation writes (a NestedCreate and a ConnectOrCreate pair) must
  * execute at most TWO root SQL executions per inserted table
  * (materialize-with-stats, slice write) and nothing else. A
  * partition-moving update — `updateMany`, or the pipeline's status flip
  * (`updateWhereIn` with an else-branch) — pays one census and one
  * multi-slice write.
  */
class ActionBudgetSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private class ExecCounter extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) => n.incrementAndGet()
        case _ => ()
      }
  }

  /** Count root SQL executions of `body`, waiting for the async listener
    * bus to drain (count stable for 400 ms, bounded at 5 s). */
  private def countExecs(body: => Unit): Int = {
    val counter = new ExecCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      var last = -1
      var stableSince = System.nanoTime()
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() < deadline &&
             (last != counter.n.get() || System.nanoTime() - stableSince < 400000000L)) {
        if (last != counter.n.get()) { last = counter.n.get(); stableSince = System.nanoTime() }
        Thread.sleep(50)
      }
      counter.n.get()
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("createNested with two relation writes stays within 8 driver actions") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget").toString)
    val parentT = new GraftTable(spark, cat, "client", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    val eventT = new GraftTable(spark, cat, "client_event", StructType(Seq(
      StructField("event_id", StringType, nullable = false),
      StructField("parent_id", LongType, nullable = false))),
      uniqueKeys = Seq(Seq("event_id")))
    val tagT = new GraftTable(spark, cat, "tag", StructType(Seq(
      StructField("tag_id", StringType, nullable = false),
      StructField("tag", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("tag")))
    val linkT = new GraftTable(spark, cat, "client_tag", StructType(Seq(
      StructField("parent_id", LongType, nullable = false),
      StructField("tag_id", StringType, nullable = false))),
      uniqueKeys = Seq(Seq("parent_id", "tag_id")))

    val batch = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("id", "name", "segment")
    val execs = countExecs {
      parentT.createNested(batch, Seq(
        NestedCreate(eventT, b => b.select(
          concat(lit("ev-"), col("id").cast("string")).as("event_id"),
          col("id").as("parent_id"))),
        ConnectOrCreate(
          relation = tagT,
          ensure = b => b.select(concat(lit("tag-"), col("segment")).as("tag_id"),
            col("segment").as("tag")).distinct(),
          link = linkT,
          links = b => b.select(col("id").as("parent_id"),
            concat(lit("tag-"), col("segment")).as("tag_id")))))
    }
    // 4 inserted tables x (checkpoint-with-observed-stats + slice write);
    // the null-parent-key rejection is an observed metric on the parent's
    // checkpoint, and the nested writes derive from that checkpoint. An
    // action creeping into the insert path fails HERE, not a bench round
    // later.
    assert(execs <= 8, s"insert path regressed: $execs root executions (budget 8)")
    assert(parentT.snapshot().count() == 3)
    assert(eventT.snapshot().count() == 3)
    assert(tagT.snapshot().count() == 2)
    assert(linkT.snapshot().count() == 3)
  }

  test("updateManyAndReturn pays one action besides its slice writes") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-budget-u").toString)
    val t = new GraftTable(spark, cat, "acct", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bal", DoubleType, nullable = true))),
      uniqueKeys = Seq(Seq("id")))
    t.createMany(Seq((1L, 10.0), (2L, -5.0), (3L, 0.0)).toDF("id", "bal"))
    val execs = countExecs {
      val out = t.updateManyAndReturn(
        graft.query.RawCol(col("bal") < 0), Map("bal" -> lit(0.0)))
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
    // observed-checkpoint of the returned slice + one slice write + the
    // test's own collect over the (checkpointed) returned frame
    assert(execs <= 3, s"update path regressed: $execs root executions (budget 3)")
  }

  private val queueSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("status", BooleanType, nullable = true),
    StructField("notes", StringType, nullable = true)))

  /** A status-partitioned queue: two pending rows, one already done. */
  private def queue(dir: String): (Catalog, GraftTable) = {
    val cat = new Catalog(java.nio.file.Files.createTempDirectory(dir).toString)
    val t = new GraftTable(spark, cat, "queue", queueSchema,
      uniqueKeys = Seq(Seq("id")), partitionCols = Seq("status"))
    t.createMany(Seq[(Long, Option[Boolean], Option[String])](
      (1L, None, None), (2L, None, None), (3L, Some(true), None))
      .toDF("id", "status", "notes"))
    (cat, t)
  }

  test("a partition-moving updateWhereIn with an else-branch pays a census and one write") {
    val (cat, t) = queue("graft-budget-w")
    val execs = countExecs {
      Txn.run(cat)(tx => assert(tx.updateWhereIn(t, "id", Seq(1L).toDF("id"),
        col("status").isNull, Map("status" -> lit(true)),
        elseSet = Map("status" -> lit(false), "notes" -> lit("failed"))) == 1))
    }
    // one census (pre- and post-SET slice keys + the key-hit count) and
    // one multi-slice write of the null, true and false slices
    assert(execs <= 2, s"status flip regressed: $execs root executions (budget 2)")
    assert(t.snapshot().as[(Long, Option[Boolean], Option[String])].collect().toSet ==
      Set((1L, Some(true), None), (2L, Some(false), Some("failed")), (3L, Some(true), None)))
  }

  test("a partition-moving updateMany pays a census and one write") {
    val (_, t) = queue("graft-budget-m")
    val execs = countExecs {
      assert(t.updateMany(graft.query.RawCol(col("status").isNull),
        Map("status" -> lit(false))) == 2)
    }
    assert(execs <= 2, s"update path regressed: $execs root executions (budget 2)")
    assert(t.snapshot().filter(col("status") === false).count() == 2)
  }
}
