package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Streaming state-store evidence harness (dev tool, the r14-verdict
  * items #3/#7): runs the stateful streaming catalog rows — ev4
  * (flatMapGroupsWithState sessionization), ev6 (stateful dedup), ev9
  * (stream-stream join) — under BOTH state-store backends Spark ships:
  *
  *   hdfs    — HDFSBackedStateStoreProvider (the default): every commit
  *             rewrites the store's delta file from an in-memory map;
  *             snapshot maintenance copies the WHOLE map. At 100 TB the
  *             map must fit the executor heap and snapshot cost grows
  *             with total state, not the batch — the scale risk the
  *             r14 verdict flagged behind ev4's last-decade 11.2x.
  *   rocksdb — RocksDBStateStoreProvider: state lives off-heap in a
  *             native LSM keyed store; commits are incremental
  *             changelogs, memory is bounded by block cache. The 100 TB
  *             posture candidate.
  *
  * Beyond wall seconds, the harness pulls the state-operator telemetry
  * the verdict asked for from StreamingQueryProgress — per-run sums of
  * commitTimeMs (state checkpoint cost), allUpdatesTimeMs (processing
  * cost inside the store), and the final numRowsTotal / peak
  * memoryUsedBytes — so "state-store commit time" is SPLIT from
  * "processing time" per backend, measured not asserted.
  *
  * Both backends must return the SAME rows (asserted here on a
  * sorted-row fingerprint); the rows' correctness against the SQL
  * oracle is already pinned by the ev4/ev6/ev9 gate entries.
  *
  * Usage: `sbt "runMain graft.tools.StateStoreBench /tmp/sf1"`
  * (min-of-2 per cell; one JSON line on stdout).
  */
object StateStoreBench {

  /** Per-streaming-run telemetry summed over micro-batches. */
  final case class StoreStats(
      var batches: Long = 0L,
      var commitMs: Long = 0L,
      var updatesMs: Long = 0L,
      var removalsMs: Long = 0L,
      var triggerMs: Long = 0L,
      var rowsTotal: Long = 0L,
      var memPeak: Long = 0L)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val spark = graft.util.Sessions(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
    spark.sparkContext.setLogLevel("WARN")

    // one listener for the whole run: progress events are delivered
    // ASYNCHRONOUSLY on the listener bus, so stats bucket by the
    // event's OWN identity (the query runId — unambiguous however late
    // the event lands), never by mutable which-cell-is-running state: a
    // final-batch event arriving after the collect returned must still
    // count toward ITS run, not the next cell's
    val statsByRun = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, StoreStats]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val s = statsByRun.computeIfAbsent(p.runId, _ => StoreStats())
        s.synchronized {
          s.batches += 1
          Option(p.durationMs.get("triggerExecution")).foreach(s.triggerMs += _)
          p.stateOperators.foreach { op =>
            s.commitMs += op.commitTimeMs
            s.updatesMs += op.allUpdatesTimeMs
            s.removalsMs += op.allRemovalsTimeMs
            s.rowsTotal = math.max(s.rowsTotal, op.numRowsTotal)
            s.memPeak = math.max(s.memPeak, op.memoryUsedBytes)
          }
        }
      }
    }
    spark.streams.addListener(listener)

    // there is no public bus-drain API, so drain by quiescence: wait
    // until no streaming query is active AND the progress-event count
    // has been stable across two consecutive polls (bounded)
    def drainBus(): Unit = {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 10L * 1000000000L
      var last = -1L
      var stable = 0
      while (System.nanoTime() < deadline && stable < 2) {
        val now = statsByRun.values.asScala.map(_.batches).sum
        if (now == last && spark.streams.active.isEmpty) stable += 1
        else stable = 0
        last = now
        Thread.sleep(150)
      }
    }

    // telemetry for one attempt = the union over every run the attempt
    // started (identified by runId set difference around the attempt)
    def sumStats(runs: Iterable[StoreStats]): StoreStats = {
      val m = StoreStats()
      runs.foreach { s =>
        s.synchronized {
          m.batches += s.batches; m.commitMs += s.commitMs
          m.updatesMs += s.updatesMs; m.removalsMs += s.removalsMs
          m.triggerMs += s.triggerMs
          m.rowsTotal = math.max(m.rowsTotal, s.rowsTotal)
          m.memPeak = math.max(m.memPeak, s.memPeak)
        }
      }
      m
    }

    // optional 2nd arg: comma-separated subset (e.g. just ev4 on the
    // sf100 leg, where ev9's state would make the full trio an hour)
    val all = Seq(
      "ev4_stream_sessions" -> (graft.queries.Queries.ev4_stream_sessions _),
      "ev6_stream_dedup" -> (graft.queries.Queries.ev6_stream_dedup _),
      "ev9_stream_stream_join" -> (graft.queries.Queries.ev9_stream_stream_join _))
    val rows = args.lift(1) match {
      case Some(names) =>
        val want = names.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val sel = all.filter { case (n, _) => want(n) }
        require(sel.map(_._1).toSet == want,
          s"unknown row name(s): ${want -- sel.map(_._1)}")
        sel
      case None => all
    }

    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // fingerprint(provider -> row -> hash) for the identity assertion
    val fps = mutable.LinkedHashMap.empty[(String, String), (Long, Long)]
    val cells = mutable.LinkedHashMap.empty[(String, String), (Double, StoreStats)]

    for ((provName, provClass) <- providers; (name, fn) <- rows) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provClass)
      var best = Double.MaxValue
      var bestStats = StoreStats()
      var fp: (Long, Long) = (0L, 0L)
      for (_ <- 1 to 2) {
        System.gc()
        import scala.jdk.CollectionConverters._
        val runsBefore = statsByRun.keySet.asScala.toSet
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        // order-insensitive content fingerprint: count + xor of row hashes
        // (xor, not sum: ANSI mode overflows a sum of 2^63-scale hashes)
        val agg = df.selectExpr("xxhash64(*) AS h")
          .selectExpr("count(*) AS n", "bit_xor(h) AS s").collect()(0)
        val sec = (System.nanoTime() - t0) / 1e9
        // the drain is OUTSIDE the timed window: it waits on listener
        // delivery, not query execution
        drainBus()
        if (sec < best) {
          best = sec
          bestStats = sumStats(statsByRun.asScala.collect {
            case (id, s) if !runsBefore(id) => s
          })
        }
        fp = (agg.getLong(0), agg.getLong(1))
        System.err.println(f"[ssb] $provName $name $sec%.2fs")
      }
      fps((provName, name)) = fp
      cells((provName, name)) = (best, bestStats)
    }
    spark.streams.removeListener(listener)

    // both backends must produce identical result sets, row for row
    for ((name, _) <- rows) {
      val a = fps(("hdfs", name)); val b = fps(("rocksdb", name))
      require(a == b, s"$name: hdfs/rocksdb result fingerprints differ: $a vs $b")
    }

    val cellJson = cells.map { case ((prov, name), (sec, s)) =>
      s""""$prov/$name":{"sec":${f"$sec%.3f"},"batches":${s.batches},""" +
        s""""commit_ms":${s.commitMs},"updates_ms":${s.updatesMs},""" +
        s""""removals_ms":${s.removalsMs},"trigger_ms":${s.triggerMs},""" +
        s""""state_rows":${s.rowsTotal},"state_mem_bytes":${s.memPeak}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"statestore_bench","sf":"$dir","results_identical":true,"cells":$cellJson}""")
    spark.stop()
  }
}
