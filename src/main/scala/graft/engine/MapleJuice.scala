package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Shuffle partitioning strategies of the reference engine.
  *
  * Reference: `JuiceJob.java:3-6` (enum HASH/RANGE), dispatched in
  * `MapleJuice.java:668-695` — hash = `abs(hash(file)) % taskNum`
  * (668-679), range = sorted filename runs (680-693). Here they map to
  * Spark's `HashPartitioner` / `RangePartitioner` via `repartition` /
  * `repartitionByRange`; partitioning never changes declared results.
  */
sealed trait ShuffleOption
object ShuffleOption {
  case object Hash  extends ShuffleOption
  case object Range extends ShuffleOption
}

/** The core MapleJuice dataflow surface re-expressed Spark-first.
  *
  * The reference runs user executables map-side ("maple",
  * `MapleJuice.java:371-439`) and reduce-side ("juice",
  * `MapleJuice.java:615-665`) over line-oriented `key,value` files, with
  * the master materializing one intermediate file per key
  * (`MapleJuice.java:250-276`). Spark subsumes the materialization with
  * its in-engine shuffle; we keep the reference's *names and semantics*
  * as thin wrappers so every reference workload (web-graph in-degree,
  * Condorcet election, word count) is expressible 1:1, while Catalyst
  * keeps whole-stage codegen for the columnar forms.
  *
  * Two API levels:
  *   - columnar (`mapleCols`, `juiceAgg`): Catalyst expressions, fully
  *     codegen'd — preferred; used by all declared queries.
  *   - typed (`maple`, `juice`): arbitrary Scala closures, mirroring the
  *     reference's arbitrary user executables (UDTF semantics: 0..n
  *     outputs per input, `MapleJuice.java:410-412` / `wg_maple.py`).
  *   - `pipeMaple` / `pipeJuice`: true external-executable fidelity via
  *     `RDD.pipe`, the literal analog of the reference's subprocess exec
  *     (`Utility.runCommand`, `Utility.java:175-190`).
  */
object MapleJuice {

  /** First of base, base1, base2, … whose name AND derived `_c`
    * aggregate name are free — single definition for every helper
    * column the join operators (and Merge's key-contract probe)
    * inject, so collision avoidance can't drift between them. */
  private[engine] def freshName(taken: Set[String], base: String): String =
    (Iterator(base) ++ Iterator.from(1).map(i => s"$base$i"))
      .find(n => !taken(n) && !taken(s"${n}_c")).get

  /** Typed maple = flatMap (reference D1: 0..n `(k,v)` outputs per
    * input record — a UDTF). `MapleJuice.java:371-439`. */
  def maple[I, O: Encoder](ds: Dataset[I])(fn: I => IterableOnce[O]): Dataset[O] =
    ds.flatMap(fn)

  /** Columnar maple: projection/filter/generator expressed as Catalyst
    * columns (codegen'd). Generators like `explode`/`posexplode` give
    * the flatMap expansion shape of `win_maple1.py:9-22`. */
  def mapleCols(df: DataFrame)(cols: Column*): DataFrame =
    df.select(cols: _*)

  /** Reference D4/D5: explicit re-partitioning between maple and juice.
    * `MapleJuice.java:668-695`. Results must never depend on this —
    * Spark guarantees that; the reference relied on it implicitly. */
  def shuffle(df: DataFrame, opt: ShuffleOption, numPartitions: Int, keys: Column*): DataFrame =
    opt match {
      case ShuffleOption.Hash  => df.repartition(numPartitions, keys: _*)
      case ShuffleOption.Range => df.repartitionByRange(numPartitions, keys: _*)
    }

  /** Typed juice = group-by-key + per-key reduction closure (reference
    * D6: `juice_exe(key, fileOfValues)`, `MapleJuice.java:615-665`).
    * `flatMapGroups` so a juice may emit 0..n results, matching the
    * executable contract (stdout lines, `win_juice2.py:48-56`).
    *
    * It shuffles every value: there is no map-side combine, since the
    * closure sees the whole group at once. For an associative fold use
    * a typed `Aggregator` via `groupByKey(...).agg(agg.toColumn)`
    * instead, which Spark plans partial + final like `juiceAgg` —
    * `Workloads.condorcet` does so with `graft.functions.MajorityVote`. */
  def juice[I, K: Encoder, O: Encoder](ds: Dataset[I])(key: I => K)(
      fn: (K, Iterator[I]) => IterableOnce[O])(implicit kv: Encoder[(K, I)]): Dataset[O] =
    ds.groupByKey(key).flatMapGroups((k: K, it: Iterator[I]) => fn(k, it).iterator)

  /** Columnar juice: group-by + aggregate expressions. Spark plans this
    * as partial (map-side combine) + final `HashAggregateExec` — the
    * combiner the reference only had in its Hadoop twin
    * (`app/WebGraph.java:61`). Preferred at scale: shuffles only
    * partial aggregates, not raw rows. */
  def juiceAgg(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Reference D7 job chaining (`MapleJuice.java:1132-1136`): juice of
    * stage N feeds maple of stage N+1. With lazy DataFrame lineage this
    * is plain function composition — no SDFS round-trip in between. */
  def chain(df: DataFrame, stages: (DataFrame => DataFrame)*): DataFrame =
    stages.foldLeft(df)((acc, f) => f(acc))

  /** Skew-resistant equi join: replicate the (small) build side `salt`
    * ways and scatter the probe side deterministically, so one hot key
    * spreads over `salt` reducers instead of melting one executor.
    * Results are identical to a plain equi join — salting is purely a
    * partitioning concern (the reference's hash shuffle D4 had the same
    * single-hot-bucket failure mode, unaddressed). AQE's skew-join
    * handles sort-merge skew automatically; this helper is for the
    * hash-partitioned aggregate/join shapes AQE can't rewrite.
    *
    * POLICY — salt only diagnosed hot keys, never by default: the
    * build-side ×`salt` replication is pure overhead on unskewed data
    * (measured 10× on the bench corpus: q_join_salted 9.3 s vs
    * q_join_equi 0.87 s at sf0.1, BENCH_r01). Reach for it when AQE
    * skew stats / stage timelines show one straggler partition on a
    * hash join or aggregate, and size `salt` to the hot key's multiple
    * of the median partition, not higher. See SCALE.md "Salting". */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: Column,
      buildKey: Column, salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt > 0)
    // right/full outer would surface each unmatched build row once PER
    // SALT REPLICA — plain-join equivalence only holds probe-side
    require(Set("inner", "left", "leftouter", "leftsemi")
      .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left joins only, got $joinType")
    // helper column names must not collide with user columns — an input
    // already containing __salt_p/__salt_b would turn the salt equality
    // into an ambiguous reference or a wrong-column comparison
    val taken = (probe.columns ++ build.columns).toSet
    val saltP = freshName(taken, "__salt_p")
    val saltB = freshName(taken, "__salt_b")
    val p = probe.withColumn(saltP, pmod(hash(probeKey), lit(salt)))
    val b = build.withColumn(saltB, explode(array((0 until salt).map(lit(_)): _*)))
    p.join(b, probeKey === buildKey && col(saltP) === col(saltB), joinType)
      .drop(saltP, saltB)
  }

  /** The SCALE.md salting policy as an operator: salt ONLY keys whose
    * probe-side frequency exceeds `hotThreshold`; everything else takes
    * the plain equi-join path, so the ×`salt` build replication is paid
    * exactly where skew is diagnosed. One aggregate pass over the probe
    * side computes key frequencies (at cluster scale, run it on a
    * sample or read AQE's shuffle stats instead); the hot-key set is
    * assumed broadcast-small (skew means FEW keys are hot — a corpus
    * where millions of keys are hot has a modelling problem, not a
    * partitioning one). Results are identical to a plain equi join:
    * every probe row takes exactly one of the two disjoint paths. */
  def saltedJoinHot(probe: DataFrame, build: DataFrame, probeKey: Column,
      buildKey: Column, salt: Int, hotThreshold: Long,
      joinType: String = "inner"): DataFrame = {
    require(hotThreshold > 0)
    val taken = (probe.columns ++ build.columns).toSet
    val hotK = freshName(taken, "__hot_k")
    val hot = probe.groupBy(probeKey.as(hotK))
      .agg(count(lit(1)).as(s"${hotK}_c"))
      .filter(col(s"${hotK}_c") > hotThreshold)
      .select(hotK)
    val pHot = probe.join(broadcast(hot), probeKey === col(hotK), "leftsemi")
    val pRest = probe.join(broadcast(hot), probeKey === col(hotK), "leftanti")
    // the salted branch only needs the build rows of hot keys
    val bHot = build.join(broadcast(hot), buildKey === col(hotK), "leftsemi")
    saltedJoin(pHot, bHot, probeKey, buildKey, salt, joinType)
      .unionByName(pRest.join(build, probeKey === buildKey, joinType))
  }

  /** External-executable compatibility shim: stream a partition's lines
    * through a subprocess, one line in / 0..n lines out — the literal
    * equivalent of the reference's `python3 exe` fork
    * (`MapleJuice.java:410-412`, batching is Spark's concern). */
  def pipeMaple(ds: Dataset[String], command: Seq[String]): Dataset[String] = {
    val spark = ds.sparkSession
    import spark.implicits._
    spark.createDataset(ds.rdd.pipe(command))
  }

  /** Fork `command`, close stdin, read stdout to completion while a
    * daemon thread drains stderr into a bounded tail buffer. Both
    * batch shims block on `readAllBytes(stdout)`; without the drain,
    * an exe writing more than the ~64 KiB pipe buffer to stderr
    * fills the pipe, blocks on its own write, and deadlocks the task
    * (classic Runtime.exec hang). The tail (last ~4 KiB) rides the
    * failure message so a nonzero exit is diagnosable. */
  private def runDraining(command: Seq[String]): (Int, String, String) = {
    val p = new ProcessBuilder(command: _*).redirectErrorStream(false).start()
    p.getOutputStream.close()
    val errTail = new StringBuilder
    val drainer = new Thread { override def run(): Unit = {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        p.getErrorStream, java.nio.charset.StandardCharsets.UTF_8))
      try {
        var line = r.readLine()
        while (line != null) {
          errTail.synchronized {
            errTail.append(line).append('\n')
            if (errTail.length > 8192) errTail.delete(0, errTail.length - 4096)
          }
          line = r.readLine()
        }
      } catch { case _: java.io.IOException => () } finally r.close()
    }}
    drainer.setDaemon(true)
    drainer.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val rc = p.waitFor()
    drainer.join(10000L)
    // a wedged/slow stderr stream must not read as "the exe printed
    // nothing": mark the tail as truncated when the drainer is still
    // alive after the bounded join, so failure diagnostics are honest
    val tail = errTail.synchronized(errTail.toString) +
      (if (drainer.isAlive) "\n(stderr tail truncated: drain still running)"
       else "")
    (rc, out, tail)
  }

  /** ARGV-BATCH external maple — the reference's exact maple argv
    * contract (`MapleJuice.java:41,408-412`: every `LINE_PROCESS` = 50
    * input lines are passed to the executable as ONE argv string,
    * newline-joined, one subprocess per batch; its `wg_maple.py` reads
    * `sys.argv[1]`), so a maple executable written for the reference
    * runs UNMODIFIED — the pair of [[pipeJuiceFiles]], closing the
    * exe-contract surface from both stages. [[pipeMaple]] remains the
    * scale path (one process per PARTITION, stdin streaming); this
    * shim forks one process per batch, and argv length bounds the
    * batch size, so it exists for compatibility, not throughput. */
  def pipeMapleArgv(ds: Dataset[String], command: Seq[String],
      batchSize: Int = 50): Dataset[String] = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // the reference accumulates `line + "\n"` per line, so the
        // argv string carries a trailing newline too
        val arg = batch.mkString("", "\n", "\n")
        // Linux bounds a SINGLE argv string at MAX_ARG_STRLEN (32
        // pages ≈ 128 KiB); past it the fork fails with E2BIG. Fail
        // with the remedy named instead of a bare exec error.
        require(arg.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
            < 128 * 1024,
          s"pipeMapleArgv: ${batch.size}-line batch exceeds Linux's " +
            "~128 KiB MAX_ARG_STRLEN argv bound — lower batchSize or " +
            "use pipeMaple (stdin streaming contract)")
        val (rc, out, err) = runDraining(command :+ arg)
        require(rc == 0, s"pipeMapleArgv: exe exited $rc; stderr tail:\n$err")
        out.split("\n").iterator.filter(_.nonEmpty)
      }
    }
  }

  /** External juice: partition by key (hash or range, D4/D5) so each
    * key's values are contiguous within a partition, sort, then pipe
    * `key,value` lines through the executable — the Hadoop-streaming
    * reducer contract (reference `MapleJuice.java:645-649` gave the
    * exe one file per key; the sorted stream subsumes it). */
  def pipeJuice(kv: Dataset[(String, String)], command: Seq[String],
      numPartitions: Int, opt: ShuffleOption = ShuffleOption.Hash): Dataset[String] = {
    val spark = kv.sparkSession
    import spark.implicits._
    val parted = opt match {
      case ShuffleOption.Hash  => kv.repartition(numPartitions, col("_1"))
      case ShuffleOption.Range => kv.repartitionByRange(numPartitions, col("_1"))
    }
    val lines = parted.sortWithinPartitions("_1").map { case (k, v) => s"$k,$v" }
    spark.createDataset(lines.rdd.pipe(command))
  }

  /** FILE-PER-KEY external juice — the reference's exact argv contract
    * (`MapleJuice.java:645-648`: `python3 exe key path-of-values-file`,
    * one subprocess invocation per key, the file holding that key's
    * values one per line), so a juice executable written for the
    * reference runs UNMODIFIED (CliSpec drives the reference's own
    * `wg_juice.py` through this). [[pipeJuice]] remains the scale
    * path — one process per PARTITION streaming the Hadoop contract;
    * this shim forks one process per KEY, so it is gated: each task
    * counts its keys and fails loudly above `maxKeysPerTask` rather
    * than silently fork-bombing an executor. Distribution shape is
    * unchanged (same keyed repartition + in-partition sort; per-key
    * value files are task-local tmpfs, deleted as soon as the process
    * exits). */
  def pipeJuiceFiles(kv: Dataset[(String, String)], command: Seq[String],
      numPartitions: Int, opt: ShuffleOption = ShuffleOption.Hash,
      maxKeysPerTask: Int = 10000): Dataset[String] = {
    val spark = kv.sparkSession
    import spark.implicits._
    val parted = opt match {
      case ShuffleOption.Hash  => kv.repartition(numPartitions, col("_1"))
      case ShuffleOption.Range => kv.repartitionByRange(numPartitions, col("_1"))
    }
    parted.sortWithinPartitions("_1").mapPartitions { it =>
      var keysSeen = 0
      // contiguous sorted runs → one temp file + one subprocess per key
      new Iterator[Iterator[String]] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): Iterator[String] = {
          val key = buf.head._1
          keysSeen += 1
          require(keysSeen <= maxKeysPerTask,
            s"pipeJuiceFiles: > $maxKeysPerTask keys in one task — " +
              "use pipeJuice (streaming contract) or raise maxKeysPerTask")
          val f = java.nio.file.Files.createTempFile("juice_", "_vals")
          val w = java.nio.file.Files.newBufferedWriter(f)
          try {
            while (buf.hasNext && buf.head._1 == key) {
              w.write(buf.next()._2); w.newLine()
            }
          } finally w.close()
          try {
            val (rc, out, err) = runDraining(command :+ key :+ f.toString)
            require(rc == 0,
              s"pipeJuiceFiles: exe exited $rc for key $key; stderr tail:\n$err")
            out.split("\n").iterator.filter(_.nonEmpty)
          } finally java.nio.file.Files.deleteIfExists(f)
        }
      }.flatten
    }
  }
}
