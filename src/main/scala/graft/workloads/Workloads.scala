package graft.workloads

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.MapleJuice
import graft.functions.MajorityVote

/** The reference's shipped analytics workloads, re-expressed through
  * the engine surface with their original semantics (FIXTURES.md §A).
  * These run under ScalaTest on tiny fixtures; the driver-checked
  * equivalents over the parquet tables live in `graft.queries.Core`.
  */
object Workloads {

  /** Driver-collect guard for the Condorcet dominations relation: the
    * relation is ≤ C(candidates, 2) rows, tiny for real elections, but
    * nothing in the INPUT bounds the candidate count — a pathological
    * ballot file with 10⁴ distinct names would otherwise collect ~5·10⁷
    * rows onto the driver. Default bound: C(1000, 2) ≈ 500k rows (tens
    * of MB). The fetch itself is `limit(max+1)`, so even the failing
    * case never materializes an unbounded result driver-side. */
  val DefaultMaxCandidates = 1000

  private def collectDominations(ds: Dataset[(String, String)],
      maxCandidates: Int): Seq[(String, String)] = {
    val maxRows = maxCandidates.toLong * (maxCandidates - 1) / 2
    require(maxRows + 1 <= Int.MaxValue, s"maxCandidates $maxCandidates too large")
    val rows = ds.limit(maxRows.toInt + 1).collect()
    require(rows.length <= maxRows,
      s"dominations relation exceeds C($maxCandidates, 2) = $maxRows rows — " +
        "ballot set implies more candidates than the driver-side resolution " +
        "bound; raise maxCandidates or pre-filter the ballots")
    rows.toSeq
  }

  /** Web-graph in-degree count (reference `wg_maple.py` + `wg_juice.py`):
    * edges `from,to` → keep `to` in [lo, hi] → count in-links per node.
    * Maple = parse/filter/swap (P1-P3); juice = per-key count (A1). */
  def webGraphInDegree(edges: Dataset[String], lo: Int, hi: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parsed = MapleJuice.maple(edges) { line =>
      line.split(",") match {
        // wg_maple.py:10-15 — skip blanks/malformed, emit (to, from)
        case Array(from, to) if from.nonEmpty && to.trim.toIntOption.exists(t => t >= lo && t <= hi) =>
          Some((to.trim, from.trim))
        case _ => None
      }
    }
    MapleJuice.juiceAgg(parsed.toDF("key", "value"),
      Seq(col("key")), Seq(count(lit(1)).as("cnt")))
      .orderBy(col("key").cast("int"))
  }

  /** Condorcet winner election, two chained MapleJuice jobs
    * (`win_maple1.py`/`win_juice1.py` → `win_maple2.py`/`win_juice2.py`).
    *
    * Stage 1: per ballot `A,B,C` emit all ordered candidate pairs with
    * canonical key `min#max` and bit 1 iff the first-listed wins
    * (win_maple1.py:15-22); majority per pair → `(winner, loser)`
    * (win_juice1.py:10-32).
    * Stage 2: count dominations per candidate; a candidate dominating
    * all n-1 others is the Condorcet winner, else all argmax
    * co-winners tie (win_juice2.py:36-56). */
  def condorcet(ballots: Dataset[String],
      maxCandidates: Int = DefaultMaxCandidates): DataFrame = {
    val spark = ballots.sparkSession
    import spark.implicits._

    // stage 1 maple: pairwise expansion (A3). Names containing the '#'
    // pair-key delimiter are rejected like the reference's fixture rule
    // (FIXTURES.md §A4: keys must not contain '_' or ',').
    val pairs = MapleJuice.maple(ballots) { line =>
      val cs = line.split(",").map(_.trim)
      if (cs.length != 3 || cs.exists(_.isEmpty) || cs.exists(_.contains("#")))
        Iterator.empty
      else for {
        i <- cs.indices.iterator
        j <- (i + 1) until cs.length
      } yield {
        val (a, b) = (cs(i), cs(j)) // a ranked above b on this ballot
        val key = if (a < b) s"$a#$b" else s"$b#$a"
        val firstWins = if (a < b) 1 else 0
        (key, firstWins)
      }
    }

    // stage 1 juice: majority vote per pair (A4) as the typed
    // MajorityVote aggregator, which Spark plans partial + final: each
    // map task shuffles one (Long, Long) tally per pair instead of every
    // vote. The dominations relation is at most C(candidates, 2) rows,
    // and three downstream actions (candidate count, winner test, final
    // result) would each re-run the full ballot scan — so collect the
    // tiny result once (bounded: collectDominations fails fast on
    // too-wide ballot sets) and continue on a local relation (no cache
    // to leak).
    val dominations = collectDominations(
      pairs.groupByKey(_._1).mapValues(_._2 == 1).agg(MajorityVote.toColumn)
        .map { case (key, verdict) =>
          val Array(x, y) = key.split("#")
          // win_juice1.py:29 — "R" (strict majority of 1-bits): x beats y
          if (verdict == "R") (x, y) else (y, x)
        }, maxCandidates)

    resolveWinner(spark, dominations)
  }

  /** Shared Condorcet stage 2 (win_juice2.py:36-56): domination count
    * per candidate; a candidate dominating all n-1 others wins, else
    * all argmax co-winners tie. Used by both the typed and columnar
    * stage-1 paths so the two can never diverge here. */
  private def resolveWinner(spark: SparkSession,
      dominations: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    // the relation is already collected (bounded by collectDominations),
    // so the whole stage-2 decision is plain local arithmetic — one
    // Spark job total where three ran before.
    val nCandidates =
      dominations.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.size
    val counts = dominations.groupBy(_._1).map { case (c, ws) =>
      (c, ws.size.toLong)
    }.toSeq
    val condorcetW = counts.filter(_._2 == nCandidates - 1L)
    val result =
      if (condorcetW.nonEmpty) condorcetW.map { case (c, d) => (c, d, "condorcet_winner") }
      else if (counts.isEmpty) Seq.empty[(String, Long, String)]
      else {
        val mx = counts.iterator.map(_._2).max
        counts.filter(_._2 == mx).map { case (c, d) => (c, d, "tie_argmax") }
      }
    // UTF-8 byte order (what Spark's orderBy on UTF8String used before
    // this stage went driver-local) — Java String.compareTo is UTF-16
    // code-unit order and diverges on supplementary-plane names
    val utf8Order: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    result.sortBy(_._1)(utf8Order).toDF("candidate", "dominations", "kind")
  }

  /** Columnar Condorcet: same semantics as [[condorcet]], but the
    * pairwise expansion and majority vote are Catalyst expressions
    * (whole-stage codegen) instead of typed closures — the
    * "native operator vs external executable" spectrum the reference
    * offered, with the same answer. Both paths now combine map-side,
    * so the gap is the typed closures' per-row cost: `RefBench` on
    * 100 MB of ballots (local[4]) times typed 2.05–2.27 s vs columnar
    * 1.80–1.89 s, a 1.1–1.2× ratio. */
  def condorcetColumnar(ballots: Dataset[String],
      maxCandidates: Int = DefaultMaxCandidates): DataFrame = {
    val spark = ballots.sparkSession
    import spark.implicits._
    val cs = ballots.toDF("value")
      .withColumn("p", split(col("value"), ","))
      .filter(size(col("p")) === 3 && !col("value").contains("#"))
      .select((0 until 3).map(i => trim(col("p").getItem(i)).as(s"c$i")): _*)
      // empty/whitespace candidate fields: same reject rule as the
      // typed path (cs.exists(_.isEmpty)), or the two paths diverge
      .filter((0 until 3).map(i => col(s"c$i") =!= "").reduce(_ && _))
    val pairCols = for { i <- 0 until 3; j <- (i + 1) until 3 } yield {
      val (a, b) = (col(s"c$i"), col(s"c$j")) // a ranked above b
      struct(
        concat(least(a, b), lit("#"), greatest(a, b)).as("key"),
        when(a < b, 1L).otherwise(0L).as("bit"))
    }
    val pairs = cs.select(explode(array(pairCols: _*)).as("pb"))
      .select(col("pb.key"), col("pb.bit"))
    // tiny relation (≤ C(n,2) rows): collect once (bounded), continue locally
    val dominations = collectDominations(
      pairs.groupBy(col("key"))
        .agg(sum(col("bit")).as("ones"), count(lit(1)).as("total"))
        .select(
          when(col("ones") * 2 > col("total"),
            substring_index(col("key"), "#", 1))
            .otherwise(substring_index(col("key"), "#", -1)).as("winner"),
          when(col("ones") * 2 > col("total"),
            substring_index(col("key"), "#", -1))
            .otherwise(substring_index(col("key"), "#", 1)).as("loser"))
        .as[(String, String)], maxCandidates)

    resolveWinner(spark, dominations)
  }

  /** Hadoop quick-start word count (HADOOP_INSTALL.md §Quick Start). */
  def wordCount(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    MapleJuice.maple(lines)(l => l.split("\\s+").iterator.filter(_.nonEmpty))
      .toDF("word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")
  }
}
