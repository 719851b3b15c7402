package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{MapleJuice, Scratch}
import graft.workloads.Workloads
import graft.{SessionHygiene, SparkEntry}

/** The benchmark's JVM side: runs one workload's ops closed-loop from
  * one client and writes a raw record (`raw.json`) for `run.py`, which
  * computes the metrics and checks the outputs.
  *
  * Arguments are `key=value`:
  *   workload  maplejuice_100mb | iterative_warm, or oracles (only
  *             write the ops' oracle SQL)
  *   ops       comma-separated op names, in pass order
  *   data      input directory of the workload
  *   out       output directory (raw.json, query results)
  *   local     Spark's local directory
  *   exes      directory of the external MapleJuice executables
  *   passes    number of whole passes over `ops` in the timed window
  *   trace     1 records spans, Spark jobs, tasks and plan phases
  *
  * Every op is driven through the engine's public entry points; the
  * harness times each call from outside. */
object Harness {

  val Cores = 4
  /** Local property that links a Spark job to the op that launched it. */
  val OpProp = "perfbench.op"

  final case class Op(id: Int, name: String, pass: Int, start: Long,
      buildEnd: Long, end: Long, error: String, builds: Long,
      rows: Seq[String], blocksMb: Double, hygieneNs: Long, gcMs: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val ops = opt("ops").split(",").toSeq
    val data = opt("data")
    val out = Paths.get(opt("out"))
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    Files.createDirectories(out)
    if (workload == "oracles") { // the oracle SQL of the ops, no session
      val j = new Json
      j.obj(ops.foreach(n => SparkEntry.oracleSql.get(n).foreach(j.field(n, _))))
      Files.write(out.resolve("oracle_sql.json"), j.result.getBytes(UTF_8))
      return
    }

    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.queryExecutionListeners",
        if (trace) classOf[PlanListener].getName else "")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    // load the whole query registry before the first job, as graft.Bench
    // does, so late class loading never lands inside a timed op
    require(SparkEntry.queries.nonEmpty, "query registry is empty")
    val sessionEnd = System.nanoTime()

    val exes = opt("exes")
    def mjInput(dir: String, kind: String, shard: Option[Int]): String =
      shard.fold(s"$dir/$kind")(i => s"$dir/$kind/part-$i.txt")

    /** The op's DataFrame: a MapleJuice job over the workload's text
      * (or one shard of it), or a declared query. */
    def build(name: String, dir: String, shard: Option[Int]): DataFrame = {
      val edges = mjInput(dir, "edges", shard)
      val ballots = mjInput(dir, "ballots", shard)
      name match {
        case "wg_columnar" =>
          val e = spark.read.schema("from_n STRING, to_n BIGINT").csv(edges)
            .filter(col("to_n").between(1, 50)).select(col("to_n").as("key"))
          MapleJuice.juiceAgg(e, Seq(col("key")), Seq(count(lit(1)).as("cnt")))
        case "wg_typed" =>
          Workloads.webGraphInDegree(spark.read.textFile(edges), 1, 50)
        case "wg_pipe" =>
          import spark.implicits._
          val kv = MapleJuice.pipeMaple(spark.read.textFile(edges),
              Seq("python3", s"$exes/wg_maple.py", "1", "50"))
            .map { l => val i = l.indexOf(','); (l.substring(0, i), l.substring(i + 1)) }
          MapleJuice.pipeJuice(kv, Seq("python3", s"$exes/wg_juice.py"), Cores)
            .toDF("value")
        case "condorcet_typed" => Workloads.condorcet(spark.read.textFile(ballots))
        case "condorcet_columnar" =>
          Workloads.condorcetColumnar(spark.read.textFile(ballots))
        case q => SparkEntry.queries(q)(spark, dir)
      }
    }
    val isMj = workload.startsWith("maplejuice")

    def rowText(df: DataFrame): Seq[String] =
      df.collect().toSeq.map(r => r.toSeq.map(String.valueOf).mkString("\t"))

    def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6

    val records = ArrayBuffer[Op]()
    var opId = 0
    /** One op: build, action, then between-op bookkeeping (storage
      * sample, session hygiene) outside the op's timed interval. */
    def runOp(name: String, pass: Int, dir: String, shard: Option[Int],
        sink: Option[Path]): Op = {
      opId += 1
      spark.sparkContext.setLocalProperty(OpProp, opId.toString)
      val b0 = Scratch.buildCount
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      var t1 = t0
      var rows = Seq.empty[String]
      val err = try {
        val df = build(name, dir, shard)
        t1 = System.nanoTime()
        sink match {
          case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p.toString)
          case None if isMj => rows = rowText(df)
          case None => df.write.format("noop").mode("overwrite").save()
        }
        ""
      } catch { case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val t2 = System.nanoTime()
      val gc = gcMs() - gc0
      spark.sparkContext.setLocalProperty(OpProp, null)
      val blocks = if (trace) storageMb() else 0.0
      val h0 = System.nanoTime()
      SessionHygiene.dropDeadCheckpoints(spark)
      Op(opId, name, pass, t0, t1, t2, err, Scratch.buildCount - b0,
        rows, blocks, System.nanoTime() - h0, gc)
    }

    // ── set-up ──
    val setupPass: Seq[Op] =
      if (isMj) // each variant once on one shard (a quarter of the input)
        ops.map(n => runOp(n, 0, data, Some(0), None))
      else // one pass writing every result: warms the JIT, builds every
        // Scratch artifact, and leaves the outputs for the oracle check
        ops.map(n => runOp(n, 0, data, None, Some(out.resolve("results").resolve(n))))
    val scratchRoot = sys.env.get("GRAFT_SCRATCH_DIR").map(Paths.get(_))
    def scratchBytes(): Long = scratchRoot.filter(Files.exists(_)).fold(0L) { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    val scratchBefore = scratchBytes()

    // ── timed window: a fixed number of whole passes over the op list,
    // so every run measures the same mix of ops and the same sample count ──
    val windowStart = System.nanoTime()
    (1 to passes).foreach(p => ops.foreach(n => records += runOp(n, p, data, None, None)))
    val windowEnd = System.nanoTime()
    val scratchAfter = scratchBytes()

    tracer.foreach(_.drain())

    val oracle = SparkEntry.oracleSql
    val j = new Json
    j.obj {
      j.field("workload", workload)
      j.field("epoch_ms_at_nano0", System.currentTimeMillis() - System.nanoTime() / 1e6)
      j.field("session_start", sessionStart / 1e6); j.field("session_end", sessionEnd / 1e6)
      j.field("window_start", windowStart / 1e6); j.field("window_end", windowEnd / 1e6)
      j.field("scratch_bytes_setup", scratchBefore.toDouble)
      j.field("scratch_bytes_window", (scratchAfter - scratchBefore).toDouble)
      j.field("scratch_builds", Scratch.buildCount.toDouble)
      j.arr("built_prefixes")(Scratch.builtPrefixList.foreach(j.value))
      j.objField("oracle_sql") {
        ops.filterNot(_ => isMj).foreach(n => oracle.get(n).foreach(j.field(n, _)))
      }
      for ((key, list) <- Seq("setup" -> setupPass, "ops" -> records.toSeq))
        j.arr(key)(list.foreach(writeOp(j, _)))
      tracer.foreach { t =>
        j.arr("jobs")(t.jobRecords.foreach { r => j.obj {
          j.field("op", r.op.toDouble); j.field("start", r.start.toDouble)
          j.field("end", r.end.toDouble); j.field("stages", r.stages.toDouble)
          j.field("tasks", r.tasks.toDouble)
          for ((k, v) <- r.metrics) j.field(k, v.toDouble)
        }})
        j.arr("plans")(PlanListener.phases.asScala.foreach { case (s, e, name) =>
          j.obj { j.field("start", s.toDouble); j.field("end", e.toDouble); j.field("phase", name) }
        })
      }
    }
    Files.write(out.resolve("raw.json"), j.result.getBytes(UTF_8))
    spark.stop()
  }

  private def writeOp(j: Json, o: Op): Unit = j.obj {
    j.field("id", o.id.toDouble); j.field("name", o.name); j.field("pass", o.pass.toDouble)
    j.field("start", o.start / 1e6); j.field("build_end", o.buildEnd / 1e6)
    j.field("end", o.end / 1e6); j.field("error", o.error)
    j.field("builds", o.builds.toDouble); j.field("blocks_mb", o.blocksMb)
    j.field("hygiene_ms", o.hygieneNs / 1e6); j.field("gc_ms", o.gcMs)
    j.arr("rows")(o.rows.foreach(j.value))
  }

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
}
