package graft.workloads

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset

import scala.collection.mutable

import graft.SparkSuite

/** Reference-fidelity tests (FIXTURES.md §A): original web-graph /
  * ballot / word-count semantics over tiny in-memory fixtures. */
class WorkloadsSpec extends SparkSuite {
  import spark.implicits._

  /** 3,005 seeded ballots over A-D in 4 partitions, so partial tallies
    * merge across map tasks. Pinned margins: A beats B by exactly one
    * vote and C#D ties exactly (→ D, win_juice1.py:29), so A, B and D
    * each dominate 2 — and the answer changes if either close pair is
    * miscounted. The seeded noise ballots come with their reverse,
    * which cancels on every pair. */
  private lazy val closeCall: Dataset[String] = {
    val rnd = new scala.util.Random(42)
    val core = Seq("A,B,C", "A,B,C", "B,C,D", "B,D,A", "D,A,C")
    val noise = Seq.fill(1500) {
      val b = rnd.shuffle(Seq("A", "B", "C", "D")).take(3)
      Seq(b.mkString(","), b.reverse.mkString(","))
    }.flatten
    spark.createDataset(rnd.shuffle(core ++ noise)).repartition(4).localCheckpoint()
  }

  test("web-graph in-degree: filter range + swap + count (wg_maple/wg_juice)") {
    val edges = spark.createDataset(Seq(
      "1,2", "2,1", "7,3", "42,1", "", "malformed", "9,99"))
    val out = Workloads.webGraphInDegree(edges, 1, 3)
      .as[(String, Long)].collect().toMap
    // in-range targets: 2←1; 1←2,42; 3←7; 99 filtered; blanks skipped
    assert(out == Map("1" -> 2, "2" -> 1, "3" -> 1))
  }

  test("condorcet: clear winner dominates all others (win_juice2 threshold)") {
    // A beats B and C on most ballots; B beats C.
    val ballots = spark.createDataset(Seq(
      "A,B,C", "A,C,B", "B,A,C", "A,B,C", "C,A,B"))
    val rows = Workloads.condorcet(ballots).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("candidate") == "A")
    assert(rows(0).getAs[String]("kind") == "condorcet_winner")
  }

  test("condorcet: cycle yields argmax co-winners (win_juice2 ties)") {
    // rock-paper-scissors: A>B (2 of 3), B>C (2 of 3), C>A (2 of 3)
    val ballots = spark.createDataset(Seq(
      "A,B,C", "B,C,A", "C,A,B"))
    val rows = Workloads.condorcet(ballots).collect()
    assert(rows.map(_.getAs[String]("kind")).forall(_ == "tie_argmax"))
    assert(rows.map(_.getAs[String]("candidate")).toSet == Set("A", "B", "C"))
  }

  test("columnar condorcet agrees with the typed-closure path") {
    val fixtures = Seq(
      Seq("A,B,C", "A,C,B", "B,A,C", "A,B,C", "C,A,B"), // clear winner
      Seq("A,B,C", "B,C,A", "C,A,B"),                   // cycle
      Seq("X,Y,Z", "Y,X,Z", "Z,Y,X", "Y,Z,X"),
      // malformed ballots both paths must reject identically
      Seq("A,,C", "A, ,C", "C#1,B,A", "A,B,C", "A,C,B", "A,B,C"))
    fixtures.foreach { ballots =>
      val ds = spark.createDataset(ballots)
      val typed = Workloads.condorcet(ds).collect().map(_.toString).toSeq
      val columnar = Workloads.condorcetColumnar(ds).collect().map(_.toString).toSeq
      assert(typed == columnar, s"ballots=$ballots")
    }
    val typed = Workloads.condorcet(closeCall).as[(String, Long, String)].collect().toSeq
    assert(typed == Workloads.condorcetColumnar(closeCall).as[(String, Long, String)].collect().toSeq)
    assert(typed == Seq(("A", 2L, "tie_argmax"), ("B", 2L, "tie_argmax"), ("D", 2L, "tie_argmax")))
  }

  test("typed condorcet combines map-side: shuffle records ≤ pairs × map tasks") {
    // the BenchProfile listener, restricted to stages of jobs tagged
    // from this thread; a marker job after the op is the barrier: the
    // bus delivers in order, so once its start arrives every stage of
    // the op has been counted
    val tag = "graft.test.op"
    val counted = mutable.Set[Int]()
    @volatile var records = 0L
    @volatile var drained = false
    val acc = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("condorcet") => counted ++= e.stageIds
          case Some("marker") => drained = true
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (counted(e.stageInfo.stageId))
          records += e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
    }
    val sc = spark.sparkContext
    assert(closeCall.rdd.getNumPartitions == 4)
    sc.addSparkListener(acc)
    try {
      sc.setLocalProperty(tag, "condorcet")
      Workloads.condorcet(closeCall)
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(acc)
    }
    // 6 distinct pairs × 4 map tasks; a juice without map-side
    // combine writes one record per vote, 3 × 3,005 = 9,015
    assert(records > 0 && records <= 6 * 4, s"shuffle records written: $records")
  }

  test("condorcet fails fast on ballot sets wider than the candidate bound") {
    // 9 distinct candidates pairwise-voted → C(9,2) = 36 dominations
    // rows > C(4,2) = 6: the bounded collect must reject, not OOM
    val wide = for (i <- 0 until 9; j <- i + 1 until 9; k <- j + 1 until 9 if k == j + 1)
      yield s"c$i,c$j,c$k"
    val ds = spark.createDataset(wide)
    for (path <- Seq(
        () => Workloads.condorcet(ds, maxCandidates = 4),
        () => Workloads.condorcetColumnar(ds, maxCandidates = 4))) {
      val e = intercept[IllegalArgumentException](path())
      assert(e.getMessage.contains("dominations relation exceeds"), e.getMessage)
    }
    // and the default bound leaves real elections untouched
    assert(Workloads.condorcet(ds).count() > 0)
  }

  test("word count (Hadoop quick-start shape)") {
    val lines = spark.createDataset(Seq("the quick fox", "the  fox"))
    val out = Workloads.wordCount(lines).as[(String, Long)].collect().toMap
    assert(out == Map("the" -> 2, "quick" -> 1, "fox" -> 2))
  }
}
