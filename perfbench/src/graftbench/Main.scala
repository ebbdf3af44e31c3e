package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graftbench.Gen.Change

/** Benchmark entry point:
  * {{{
  *   graftbench.Main --workload <cdc|table_serve>
  *     --seed N --seconds S --trace 0|1 --work DIR --record FILE
  * }}}
  * Prints one `name value unit` line per metric after a marker line and
  * writes the full record (metrics, diagnostics, input digest) as JSON.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = new Bench(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work")), Paths.get(kv("record")),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    val ok = try { bench.run(); true }
    catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    } finally bench.stop()
    System.exit(if (ok) 0 else 1)
  }
}

final class Bench(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  work: Path, recordPath: Path, cores: Int) {
  /** Setups per run; `setup_s` is their median. */
  val SetupReps = 3

  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val diag = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val runStart = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[String]
  /** Heap in use after a full collection at the end of each phase, in MB. */
  private val liveHeap = mutable.ArrayBuffer.empty[Double]
  /** Mark the end of a phase of the run (diagnostic `phase_s`) and measure
    * the heap it left live. Phase ends are outside every timed window.
    */
  private def phase(name: String): Unit = {
    phases += f""""$name":${secs(runStart)}%.2f"""
    System.gc()
    liveHeap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val lineitemLayout = Layout("lineitem", Gen.lineitem,
    Smt(Set("l_comment"), Set("l_shipinstruct"), Map("l_shipmode" -> 3)), Gen.lineitemRow)
  private val ordersLayout = Layout("orders", Gen.orders,
    Smt(Set.empty, Set("o_clerk"), Map("o_orderpriority" -> 1)), Gen.ordersRow)

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  // ----------------------------------------------------------- helpers

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9
  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile. */
  private def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  private def ms(ns: Long): Double = ns / 1e6

  private def freshSession(catRoot: Path): Unit = {
    stop()
    spark = Engine.session(cores, work, catRoot)
    if (trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.streams.addListener(t.queryListener)
      tracer = Some(t)
    }
  }

  private def check(what: String, ops: Long, bad: Long): Unit = {
    attempted += ops
    failed += math.min(ops, bad)
    if (bad > 0) System.err.println(s"[graftbench] $what: $bad of $ops wrong")
  }

  /** Encode `changes` as transactions of `txRows`, `txPerSeg` per segment. */
  private def segments(enc: Gen.Encoder, changes: Seq[Change], txRows: Int,
                       txPerSeg: Int): Seq[(Array[Byte], Seq[Change])] =
    changes.grouped(txRows * txPerSeg).map { seg =>
      (enc.segment(seg.grouped(txRows).toSeq), seg)
    }.toSeq

  /** Write segments as generations `firstGen`…; returns their names. */
  private def writeSegs(dir: Path, segs: Seq[(Array[Byte], Seq[Change])],
                        firstGen: Long): Seq[String] = {
    Files.createDirectories(dir)
    segs.zipWithIndex.map { case ((b, cs), i) =>
      val name = Gen.segmentName(firstGen + i, cs.size)
      Gen.publish(dir, name, b)
      name
    }
  }

  /** Input determinism self-check: regenerating with the same seed gives
    * byte-identical segments; another seed gives a different first segment.
    */
  private def selfCheck(segs: Seq[(Array[Byte], Seq[Change])], again: Long => Seq[Array[Byte]],
                        L: Layout, nSnap: Int): Unit = {
    val digest = Gen.digest(segs.iterator.map(_._1))
    require(Gen.digest(again(seed).iterator) == digest, "generator is not deterministic for one seed")
    val other = new Gen.History(seed + 1, L.cols, nSnap, L.rowOf).snapshot.take(segs.head._2.size)
    require(!java.util.Arrays.equals(new Gen.Encoder(L.table, L.cols).segment(Seq(other)), segs.head._1),
      "generator ignores its seed")
    diag("input_digest") = s""""$digest""""
  }

  /** Each non-empty epoch of the progress log, in batch order, with the
    * changes it applied: batch `id` holds the segments after the previous
    * batch's frontier up to its own.
    */
  private def epochChanges(progress: Seq[StreamingQueryProgress], segNames: Seq[String],
                           segChanges: Seq[Seq[Change]]): Seq[(Long, Seq[Change])] = {
    var prev = ""
    progress.filter(_.numInputRows > 0).sortBy(_.batchId).map { p =>
      val end = Engine.endFile(p)
      val cs = segNames.indices.filter(i => segNames(i) > prev && segNames(i) <= end)
        .flatMap(segChanges(_))
      prev = end
      (p.batchId, cs)
    }
  }

  /** Commit stream epochs to the model from the progress log. */
  private def commitEpochs(model: Model, layout: Layout, progress: Seq[StreamingQueryProgress],
                           segNames: Seq[String], segChanges: Seq[Seq[Change]],
                           epochBase: Long): Unit =
    epochChanges(progress, segNames, segChanges).foreach { case (id, cs) =>
      model.commit(id + epochBase, cs.map(layout.modelChange))
    }

  private def view(t: Served) =
    spark.table(t.ident).filter(col("op") =!= "d").select(col("after.*"))

  /** Final state of every table, both ways under `exceptAll`. */
  private def verifyTables(ts: Seq[Served]): Unit = ts.foreach { t =>
    val bad = t.model.mismatches(spark, view(t), t.model.current)
    check(s"final state of ${t.ident}", t.model.current.size.toLong, bad)
  }

  private def storedBytesPerRow(ts: Seq[Served]): Double =
    ts.map(t => Engine.files(t.dir).values.map(_._1).sum).sum.toDouble /
      ts.map(_.model.current.size).sum

  // --------------------------------------------------------- workloads

  def run(): Unit = {
    Files.createDirectories(work)
    workload match {
      case "cdc" => cdc()
      case "table_serve" => serve()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val st = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
    e2e("peak_rss_mb") = (st.getOrElse(Double.NaN), "MB")
    e2e("live_heap_mb") = (liveHeap.max, "MB")
    diag("live_heap_mb_each") = liveHeap.map(x => f"$x%.1f").mkString("[", ",", "]")
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
    layer("jvm.gc_s") = (gc, "s")
    e2e("failed_frac") = (failed.toDouble / math.max(1L, attempted), "ratio")
    diag("phase_s") = phases.mkString("{", ",", "}")
    emit()
  }

  /** `setup_s`: median over [[SetupReps]] of session start plus `body`. */
  private def setups[T](body: (Int, Path) => T): T = {
    var last: Option[T] = None
    val times = (0 until SetupReps).map { rep =>
      val catRoot = work.resolve(s"cat$rep")
      Engine.deleteTree(catRoot)
      val t0 = now
      freshSession(catRoot)
      last = Some(body(rep, catRoot))
      val s = secs(t0)
      if (rep < SetupReps - 1) { stop(); Engine.deleteTree(catRoot) }
      s
    }
    e2e("setup_s") = (median(times), "s")
    diag("setup_s_each") = times.map(t => f"$t%.4f").mkString("[", ",", "]")
    last.get
  }

  /** The client's operation mix: 7 read slots and 3 DML statements, with
    * the DML spread evenly so any prefix keeps about that ratio.
    */
  private val opCycle = Seq("point", "update", "asof", "point", "delete",
    "changes", "point", "merge", "asof", "changes")
  /** Reads per read slot of [[opCycle]]: 28 reads to 3 DML statements, so
    * a run's 84 reads leave eight beyond their p90.
    */
  private val ReadsPerSlot = 4

  /** The client pass of a traced `cdc` run: each operation type once,
    * plus a second point read.
    */
  private val cdcPass = Seq("point", "update", "asof", "delete", "changes", "merge", "point")

  /** Both CDC apply loops of the paper's use case, in one JVM.
    *  - Backfill, closed loop: one AvailableNow drain of a snapshot plus a
    *    change stream into a fresh bucketed table. `apply_rows_per_s` is
    *    the median per-epoch rate after two warm-up epochs.
    *  - Trickle, open loop: a generator thread commits one 25-row
    *    transaction every 50 ms into the wire, on schedule whatever the
    *    engine does, while a back-to-back stream applies it to an LSM table
    *    loaded with a snapshot during set-up. The apply latencies come from
    *    here.
    */
  private def cdc(): Unit = {
    val nBackfill = 18000; val nChanges = 10000; val maxRecords = 4500L; val warmEpochs = 2
    val nSnap = 12000
    // 500 rows/s, well below this path's apply capacity on 4 cores (about
    // 1.7k rows/s): near capacity, a slower epoch admits a bigger next one
    // and latency feeds on itself
    val txRows = 25; val intervalMs = 50; val warmMs = 1000
    // the first transactions are published at once and applied before the
    // clock starts, so the stream's first (compiling) epochs are not timed
    val nWarm = 10
    val nTx = nWarm + seconds * 1000 / intervalMs
    val L = lineitemLayout
    val t0 = now
    // two seeded histories, one per loop
    def gen(s: Long) = {
      val hb = new Gen.History(s, L.cols, nBackfill, L.rowOf)
      val eb = new Gen.Encoder(L.table, L.cols)
      val backfill = segments(eb, hb.snapshot, 2000, 1) ++
        segments(eb, Seq.fill(nChanges)(hb.next()), 100, 20)
      val ht = new Gen.History(s * 31 + 7, L.cols, nSnap, L.rowOf)
      val et = new Gen.Encoder(L.table, L.cols)
      (backfill, segments(et, ht.snapshot, 2000, 1),
        segments(et, Seq.fill(nTx * txRows)(ht.next()), txRows, 1))
    }
    val (backfillSegs, snapSegs, txSegs) = gen(seed)
    val wire = work.resolve("wire_backfill")
    val snapWire = work.resolve("wire_snapshot")
    Seq(wire, snapWire).foreach(Engine.deleteTree)
    val names = writeSegs(wire, backfillSegs, 1)
    writeSegs(snapWire, snapSegs, 1)
    val txNames = txSegs.zipWithIndex.map { case ((_, cs), i) => Gen.segmentName(i + 1L, cs.size) }
    selfCheck(backfillSegs ++ snapSegs ++ txSegs,
      s => { val g = gen(s); (g._1 ++ g._2 ++ g._3).map(_._1) }, L, nBackfill)
    diag("gen_s") = f"${secs(t0)}%.3f"
    phase("gen")
    val rows = backfillSegs.map(_._2.size).sum

    val props = Map("buckets" -> "16")
    val (t, schema) = setups { (rep, catRoot) =>
      val schema = L.sinkSchema(spark)
      val dir = Engine.createTable(spark, catRoot, "lsm", "li", schema, props)
      val snap = L.transform(L.envelope(Engine.readWire(spark, snapWire)))
      Engine.sinkFor("lsm", dir, props).merge(snap, 0L)
      val model = new Model(L.outCols)
      model.commit(0L, snapSegs.flatMap(_._2).map(L.modelChange))
      (new Served("lsm", "li", dir, props, L, model, "l_shipinstruct", seed, nSnap), schema)
    }
    val catRoot = work.resolve(s"cat${SetupReps - 1}")
    phase("setup")

    // ---- backfill
    def drain(name: String, tracer: Option[Tracer]): (Served, Seq[Double], StreamingQuery, Engine.Stream) = {
      val dir = Engine.createTable(spark, catRoot, "bucketed", name, schema, props)
      val st = new Engine.Stream(spark, name, wire, work.resolve(s"ckpt_$name"), L,
        Seq(("bucketed", dir, Engine.sinkFor("bucketed", dir, props))), 0L,
        Trigger.AvailableNow(), Some(maxRecords), tracer)
      val q = st.start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      // an epoch's rate: the change rows its segments carry ÷ the time
      // since the previous merge returned (`numInputRows` also counts the
      // sink's second read of the batch)
      val done = progress.map(p => st.mergeDone.get(p.batchId))
      val applied = epochChanges(progress, names, backfillSegs.map(_._2)).map(_._2.size)
      val rates = progress.indices.drop(warmEpochs).map(i =>
        applied(i) / ((done(i) - done(i - 1)) / 1e9))
      val model = new Model(L.outCols)
      commitEpochs(model, L, progress, names, backfillSegs.map(_._2), 0L)
      (new Served("bucketed", name, dir, props, L, model, "l_shipinstruct", seed, nBackfill),
        rates, q, st)
    }
    val (b, rates, bq, bst) = drain("li_backfill", tracer)
    e2e("apply_rows_per_s") = (median(rates), "rows/s")
    diag("backfill_epoch_rows_per_s") = rates.map(r => f"$r%.1f").mkString("[", ",", "]")
    val backfillBytes = Engine.files(b.dir).values.map(_._1).sum
    phase("backfill")

    // ---- trickle
    val live = work.resolve("wire_live")
    Engine.deleteTree(live)
    Files.createDirectories(live)
    val st = new Engine.Stream(spark, "live", live, work.resolve("ckpt_live"), L,
      Seq(("lsm", t.dir, Engine.sinkFor("lsm", t.dir, props))), 1L,
      Trigger.ProcessingTime(0L), None, tracer)
    val before = Engine.files(t.dir)
    val q = st.start()
    def isApplied(name: String) = q.recentProgress.exists(p => Engine.endFile(p) >= name &&
      st.mergeDone.containsKey(p.batchId))
    def await(name: String): Unit = {
      val deadline = now + 60L * 1000000000L
      while (!isApplied(name) && now < deadline && q.isActive) Thread.sleep(5)
      q.exception.foreach(e => throw e)
    }
    (0 until nWarm).foreach(i => Gen.publish(live, txNames(i), txSegs(i)._1))
    await(txNames(nWarm - 1))
    val late = new Array[Long](nTx)
    val start = now + 100L * 1000000L
    val due = Array.tabulate(nTx)(i => start + (i - nWarm).toLong * intervalMs * 1000000L)
    val genThread = new Thread(() => {
      var i = nWarm
      while (i < nTx) {
        val wait = due(i) - now
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        Gen.publish(live, txNames(i), txSegs(i)._1)
        late(i) = now - due(i)
        i += 1
      }
    }, "graftbench-generator")
    genThread.start()
    genThread.join()
    await(txNames.last)
    q.stop()
    phase("trickle")
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    val ends = progress.map(p => (Engine.endFile(p), p.batchId))
    val timedTx = (0 until nTx).filter(i => due(i) >= start + warmMs * 1000000L)
    val lat = timedTx.flatMap { i =>
      ends.find(_._1 >= txNames(i)).flatMap(e => Option(st.mergeDone.get(e._2)))
        .map(d => ms(d - due(i)))
    }
    check("transactions visible", timedTx.size.toLong, (timedTx.size - lat.size).toLong)
    e2e("apply_latency_p50_ms") = (pct(lat, 0.5), "ms")
    e2e("apply_latency_p90_ms") = (pct(lat, 0.9), "ms")
    val timedProg = progress.filter(p => Engine.endFile(p) > txNames(nWarm - 1))
    diag("trickle_epoch_ms") = timedProg.map(_.durationMs.get("triggerExecution")).mkString("[", ",", "]")
    diag("latency_samples") = lat.size.toString
    layer("gen_late_ms_max") = (late.max / 1e6, "ms")
    val applied = txSegs.map(_._2.size).sum
    // the size metrics come from the backfill, whose epochs are the same in
    // every run; how many LSM compactions fall in the trickle's window moves
    // with machine speed, so its figures are diagnostics
    val trickleBytes = Engine.written(before, Engine.files(t.dir))._2
    e2e("write_amp") = (backfillBytes.toDouble / backfillSegs.map(_._1.length.toLong).sum, "ratio")
    diag("trickle_write_amp") = f"${trickleBytes.toDouble / txSegs.map(_._1.length.toLong).sum}%.4f"
    commitEpochs(t.model, L, progress, txNames, txSegs.map(_._2), 1L)
    e2e("stored_bytes_per_row") = (storedBytesPerRow(Seq(b)), "B/row")
    diag("trickle_stored_bytes_per_row") = f"${storedBytesPerRow(Seq(t))}%.2f"

    tracer.foreach { tr =>
      // per-row costs from the backfill epochs, per-epoch costs from the
      // trickle epochs
      val perRow = Set("sources.v2.rows_read_per_row_applied", "streaming.merge_task_s_per_epoch",
        "streaming.bytes_written_per_epoch", "streaming.files_written_per_epoch")
      val bf = streamLayers(tr, Seq(bq), Seq(bst), rows.toDouble)
      val tk = streamLayers(tr, Seq(q), Seq(st), applied.toDouble)
      layer ++= tk.filter(kv => !perRow(kv._1)) ++ bf.filter(kv => perRow(kv._1))
      val resid = "streaming.epoch_split_residual_max"
      layer(resid) = (math.max(bf(resid)._1, tk(resid)._1), "ratio")
      // transactions published but not yet visible when each epoch's merge
      // returned
      val published = due.indices.map(i => due(i) + late(i))
      layer("sources.v2.backlog_tx_max") = (ends.map { case (end, id) =>
        val done = st.mergeDone.get(id)
        published.indices.count(i => published(i) <= done && txNames(i) > end).toDouble
      }.max, "count")
      prefixReplay(tr, L, backfillSegs)
    }
    phase("trickle_check")
    // reads go to the bucketed table: an LSM read's cost depends on how
    // many deltas the last compaction left, which moves with epoch timing
    cdcReads(b)
    phase("reads")
    verifyTables(Seq(b, t))
    phase("verify")
    tracer.foreach(tr => layer("trace.overhead_frac") = (tr.handlerSeconds / secs(runStart), "ratio"))

    // single-thread baseline of the same drain, untraced, in a local[1]
    // session
    if (trace) {
      stop()
      spark = Engine.session(1, work, catRoot)
      layer("spark.local1_ratio") = (median(rates) / median(drain("li_local1", None)._2), "ratio")
    }
  }

  /** Closed loop, one client: a seeded read/DML mix round-robin over four
    * catalog tables, one per sink kind, fed by one change stream.
    */
  private def serve(): Unit = {
    val nKeys = 3000; val histRows = 300
    val L = ordersLayout
    val t0 = now
    def gen(s: Long) = {
      val h = new Gen.History(s, L.cols, nKeys, L.rowOf)
      val enc = new Gen.Encoder(L.table, L.cols)
      (segments(enc, h.snapshot, nKeys, 1), segments(enc, Seq.fill(histRows)(h.next()), histRows, 1))
    }
    val (snapSegs, histSegs) = gen(seed)
    val segs = snapSegs ++ histSegs
    val wire = work.resolve("wire")
    val histWire = work.resolve("wire_history")
    Seq(wire, histWire).foreach(Engine.deleteTree)
    val snapNames = writeSegs(wire, snapSegs, 1)
    val histNames = writeSegs(histWire, histSegs, 1)
    selfCheck(segs, s => { val g = gen(s); (g._1 ++ g._2).map(_._1) }, L, nKeys)
    diag("gen_s") = f"${secs(t0)}%.3f"
    phase("gen")
    val wireBytesPerRow = segs.map(_._1.length.toLong).sum.toDouble / segs.map(_._2.size).sum

    val kinds = Seq("full", "bucketed", "lsm", "scd2")
    val propsOf = Map(
      "full" -> Map("changefeed" -> "true"),
      "bucketed" -> Map("buckets" -> "16", "changefeed" -> "true"),
      "lsm" -> Map("buckets" -> "16"),
      "scd2" -> Map("buckets" -> "16", "changefeed" -> "true"))
    /** One stream from `dir` into every table, epochs from `base`. */
    def feed(name: String, dir: Path, base: Long, tables: Seq[(String, Path)])
        : (StreamingQuery, Engine.Stream) = {
      val st = new Engine.Stream(spark, name, dir, work.resolve(s"ckpt_$name"), L,
        tables.map { case (k, d) => (k, d, Engine.sinkFor(k, d, propsOf(k))) }, base,
        Trigger.AvailableNow(), None, tracer)
      val q = st.start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      (q, st)
    }
    val (dirs, snapQ, snapSt) = setups { (rep, catRoot) =>
      val schema = L.sinkSchema(spark)
      val dirs = kinds.map(k => Engine.createTable(spark, catRoot, k, "orders", schema, propsOf(k)))
      val (q, st) = feed(s"snapshot$rep", wire, 0L, kinds.zip(dirs))
      (dirs, q, st)
    }
    // one history epoch after the set-up, so AS OF has an older epoch
    // and $changes a recent one
    val (histQ, histSt) = feed("history", histWire, 1L, kinds.zip(dirs))
    val tables = kinds.zip(dirs).map { case (k, d) =>
      val m = new Model(L.outCols)
      commitEpochs(m, L, snapQ.recentProgress.toSeq, snapNames, snapSegs.map(_._2), 0L)
      commitEpochs(m, L, histQ.recentProgress.toSeq, histNames, histSegs.map(_._2), 1L)
      new Served(k, "orders", d, propsOf(k), L, m, "o_comment", seed + k.hashCode, nKeys)
    }
    require(tables.forall(_.model.epochs == Seq(0L, 1L)),
      s"expected epochs 0 and 1, got ${tables.head.model.epochs}")
    tracer.foreach { tr =>
      layer ++= streamLayers(tr, Seq(snapQ, histQ), Seq(snapSt, histSt), segs.map(_._2.size).sum.toDouble)
      prefixReplay(tr, L, segs)
    }

    phase("setup")
    serveWindow(tables, wireBytesPerRow)
    phase("client")
    verifyTables(tables)
    phase("verify")
    e2e("stored_bytes_per_row") = (storedBytesPerRow(tables), "B/row")
    tracer.foreach(tr => layer("trace.overhead_frac") = (tr.handlerSeconds / secs(runStart), "ratio"))
  }

  /** table_serve's client: `3 × seconds` slots of [[opCycle]] (about the
    * run's seconds on 4 cores), round-robin over the tables, each table
    * walking the cycle from its own offset so every operation type comes up
    * within two rounds. A read slot issues [[ReadsPerSlot]] reads of
    * separately drawn keys. Tails are p90: a p99 of a run's reads is its
    * slowest one or two, and spread 0.2 to 0.3 between seeds. A fixed
    * count, not a deadline, keeps the mix of kinds and operations the same
    * in every run.
    */
  private def serveWindow(tables: Seq[Served], wireBytesPerRow: Double): Unit = {
    // two untimed reads of each type per table first: reads get faster
    // while the JIT compiles their code paths, and cold first reads would
    // otherwise set read_latency_p90_ms
    val warm = new Serve(spark, None)
    for (_ <- 0 until 2; t <- tables; op <- Seq("point", "asof", "changes")) warm.run(t, op)
    check("warm-up reads", warm.results.size.toLong, warm.results.count(!_.ok).toLong)
    val client = new Serve(spark, tracer)
    val before = tables.map(t => Engine.files(t.dir))
    val start = now
    val n = tables.size
    var i = 0
    while (i < 3 * seconds) {
      val t = i % n
      val op = opCycle((i / n + 2 * t) % opCycle.size)
      val reps = if (Set("point", "asof", "changes")(op)) ReadsPerSlot else 1
      (0 until reps).foreach(_ => client.run(tables(t), op))
      i += 1
    }
    val wallS = secs(start)
    val rs = client.results.toSeq
    check("client operations", rs.size.toLong, rs.count(!_.ok).toLong)
    val reads = rs.filter(r => Set("point", "asof", "changes")(r.op)).map(_.ms)
    val dml = rs.filter(r => Set("update", "delete", "merge")(r.op))
    e2e("read_latency_p50_ms") = (pct(reads, 0.5), "ms")
    e2e("read_latency_p90_ms") = (pct(reads, 0.9), "ms")
    e2e("dml_latency_p50_ms") = (pct(dml.map(_.ms), 0.5), "ms")
    e2e("dml_latency_p99_ms") = (pct(dml.map(_.ms), 0.99), "ms")
    // DML is this workload's apply path: a statement's rows are applied
    // once it commits and visible once a read returns them
    e2e("apply_rows_per_s") = (dml.map(_.rowsChanged).sum / (dml.map(_.ms).sum / 1000), "rows/s")
    e2e("apply_latency_p50_ms") = (pct(dml.map(_.visibleMs), 0.5), "ms")
    e2e("apply_latency_p90_ms") = (pct(dml.map(_.visibleMs), 0.9), "ms")
    val bytes = tables.zip(before).map { case (t, b) => Engine.written(b, Engine.files(t.dir))._2 }.sum
    e2e("write_amp") = (bytes / (dml.map(_.rowsChanged).sum * wireBytesPerRow), "ratio")
    diag("client_ops") = rs.size.toString
    diag("client_op_ms") = rs.map(r => f""""${r.op}/${r.kind}:${r.ms}%.0f"""").mkString("[", ",", "]")
    diag("client_ops_per_s") = f"${rs.size / wallS}%.3f"
    tracer.foreach(sinkLayers(_, rs))
  }

  /** A CDC workload's downstream reads: point reads of the table the stream
    * maintains, sixty to warm up and forty timed. Reads get faster while
    * the JIT compiles their code paths, from about 600 ms to about 140 ms
    * over the first fifty; after only twenty warm-up reads, the timed
    * reads were still on that slope, and their median spread 0.19 between
    * seeds. A traced run then also runs [[cdcPass]], which times every
    * `sinks.v2` operation.
    */
  private def cdcReads(t: Served): Unit = {
    val warm = 60
    val client = new Serve(spark, None)
    (0 until warm + 40).foreach(_ => client.run(t, "point"))
    val rs = client.results.toSeq
    check("point reads", rs.size.toLong, rs.count(!_.ok).toLong)
    val reads = rs.drop(warm).map(_.ms)
    e2e("read_latency_p50_ms") = (pct(reads, 0.5), "ms")
    e2e("read_latency_p90_ms") = (pct(reads, 0.9), "ms")
    diag("read_ms") = rs.map(r => f"${r.ms}%.0f").mkString("[", ",", "]")
    tracer.foreach { tr =>
      val pass = new Serve(spark, tracer)
      cdcPass.foreach(pass.run(t, _))
      val prs = pass.results.toSeq
      check("client pass", prs.size.toLong, prs.count(!_.ok).toLong)
      sinkLayers(tr, prs)
    }
  }

  // ------------------------------------------------------------ layers

  /** Per-epoch split of the streaming path, from the progress log and the
    * merge spans of the given queries.
    */
  private def streamLayers(tr: Tracer, qs: Seq[StreamingQuery], sts: Seq[Engine.Stream],
                           rowsApplied: Double): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val prog = qs.flatMap(_.recentProgress.toSeq).filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def mergesOf(p: StreamingQueryProgress) =
      tr.named("streaming.merge").filter(_.tag.startsWith(s"${p.name}/")).filter(_.tag.endsWith(s":${p.batchId}"))
    val plan = prog.map(p => d(p, "latestOffset") + d(p, "getBatch") + d(p, "queryPlanning"))
    val wrapper = prog.zip(plan).map { case (p, pl) => d(p, "triggerExecution") - d(p, "addBatch") - pl }
    out("sources.v2.plan_ms_p50") = (median(plan), "ms")
    out("streaming.wrapper_ms_p50") = (median(wrapper), "ms")
    out("sources.v2.rows_read_per_row_applied") = (prog.map(_.numInputRows).sum / rowsApplied, "ratio")
    val merges = prog.flatMap(mergesOf)
    out("streaming.merge_ms_p50") = (median(merges.map(_.ms)), "ms")
    out("streaming.merge_ms_p99") = (pct(merges.map(_.ms), 0.99), "ms")
    out("streaming.merge_driver_ms_p50") = (median(merges.map(tr.selfMs)), "ms")
    val jobs = merges.map(tr.jobsUnder)
    out("streaming.merge_jobs_per_epoch") = (jobs.map(_.size).sum.toDouble / merges.size, "count")
    out("streaming.merge_task_s_per_epoch") =
      (jobs.map(_.map(_.counters.getOrElse("task_s", 0.0)).sum).sum / merges.size, "s")
    val writes = sts.flatMap(_.epochWrites.asScala)
    out("streaming.bytes_written_per_epoch") = (writes.map(_._4).sum.toDouble / writes.size, "B")
    out("streaming.files_written_per_epoch") = (writes.map(_._3).sum.toDouble / writes.size, "count")
    // an LSM compaction epoch rewrites its base: the merges that wrote
    // more than twice the median bytes
    val medBytes = median(writes.map(_._4.toDouble))
    val compact = writes.filter(_._4 > 2 * medBytes).flatMap(w =>
      merges.find(_.tag.endsWith(s"/${w._1}:${w._2}")).map(_.ms))
    if (compact.nonEmpty) out("streaming.compact_ms_p50") = (median(compact), "ms")
    // each epoch's planning + wrapper + envelope/SMT plan building + merge
    // time (self + jobs; their union when a stream merges into several
    // tables at once) + trace-only listings, against its triggerExecution
    val resid = prog.zip(plan).zip(wrapper).map { case ((p, pl), w) =>
      val ms = mergesOf(p)
      val mergeMs = if (ms.isEmpty) 0.0
        else tr.covered(ms.map(m => (m.start, m.end)), ms.map(_.start).min, ms.map(_.end).max) / 1e6
      val listingMs = sts.filter(_.name == p.name).map(_.traceNs.getOrDefault(p.batchId, 0L)).sum / 1e6
      // the SMT span encloses the envelope span
      val buildMs = tr.named("operators.smt").filter(_.tag == s"${p.name}:${p.batchId}").map(_.ms).sum
      math.abs(pl + w + buildMs + mergeMs + listingMs - d(p, "triggerExecution")) / d(p, "triggerExecution")
    }
    out("streaming.epoch_split_residual_max") = (resid.max, "ratio")
    out("streaming.epoch_split_residual_p50") = (median(resid), "ratio")
    out.toMap
  }

  /** Cumulative prefixes of the apply path over the workload's input
    * (repeated up to at least 60k rows so each layer's share stands clear
    * of run-to-run noise), each ending in a `noop` write; neighbouring
    * differences are layer times.
    */
  private def prefixReplay(tr: Tracer, L: Layout, segs: Seq[(Array[Byte], Seq[Change])]): Unit = {
    val copies = math.ceil(60000.0 / segs.map(_._2.size).sum).toInt
    val wire = work.resolve("wire_replay")
    Engine.deleteTree(wire)
    writeSegs(wire, Seq.fill(copies)(segs).flatten, 1)
    val rows = copies * segs.map(_._2.size).sum
    def raw = Engine.readWire(spark, wire)
    def env = L.envelope(raw)
    def smt = L.transform(env)
    def reduce = graft.operators.Materialize.reduceToBuckets(smt, 16, 0)
    val prefixes = Seq[(String, () => Unit)](
      "decode" -> (() => raw.write.format("noop").mode("overwrite").save()),
      "envelope" -> (() => env.write.format("noop").mode("overwrite").save()),
      "smt" -> (() => smt.write.format("noop").mode("overwrite").save()),
      "reduce" -> (() => reduce.write.format("noop").mode("overwrite").save()))
    val times = prefixes.map { case (name, f) =>
      f() // warm
      val ts = (0 until 3).map { _ =>
        val t0 = now
        tr.span(s"replay.$name")(f())
        secs(t0)
      }
      name -> median(ts)
    }.toMap
    val mergeDir = work.resolve("replay_merge")
    val mergeS = (0 until 2).map { i =>
      Engine.deleteTree(mergeDir)
      val sink = new graft.streaming.BucketedMergeSink(mergeDir.toString, 16)
      val t0 = now
      sink.merge(smt, 0L)
      secs(t0)
    }.last
    Engine.deleteTree(mergeDir)
    Engine.deleteTree(wire)
    val shuffle = tr.named("replay.reduce").flatMap(tr.jobsUnder)
      .map(_.counters.getOrElse("shuffle_write_bytes", 0.0)).sum / 3
    layer("sources.wire.decode_rows_per_s") = (rows / times("decode"), "rows/s")
    layer("model.envelope_parse_s") = (times("envelope") - times("decode"), "s")
    layer("operators.smt_chain_s") = (times("smt") - times("envelope"), "s")
    layer("operators.reduce_s") = (times("reduce") - times("smt"), "s")
    layer("operators.reduce_shuffle_bytes_per_row") = (shuffle / rows, "B/row")
    diag("replay_merge_s") = f"$mergeS%.4f"
  }

  private def sinkLayers(tr: Tracer, rs: Seq[OpResult]): Unit = {
    val ops = Seq("point", "asof", "changes", "update", "delete", "merge")
    val spans = ops.map(o => o -> tr.named(s"sinks.v2.$o")).toMap
    ops.foreach(o => layer(s"sinks.v2.${o}_ms_p50") = (median(spans(o).map(_.ms)), "ms"))
    val reads = Seq("point", "asof", "changes").flatMap(spans)
    val dmls = Seq("update", "delete", "merge").flatMap(spans)
    Seq("full", "bucketed", "lsm", "scd2").foreach { k =>
      val r = reads.filter(_.tag == k); val w = dmls.filter(_.tag == k)
      if (r.nonEmpty) layer(s"sinks.v2.$k.read_ms_p50") = (median(r.map(_.ms)), "ms")
      if (w.nonEmpty) layer(s"sinks.v2.$k.dml_ms_p50") = (median(w.map(_.ms)), "ms")
    }
    layer("sinks.v2.jobs_per_read") = (reads.map(tr.jobsUnder(_).size).sum.toDouble / reads.size, "count")
    layer("sinks.v2.jobs_per_dml") = (dmls.map(tr.jobsUnder(_).size).sum.toDouble / dmls.size, "count")
    layer("sinks.v2.driver_ms_per_dml") = (dmls.map(tr.selfMs).sum / dmls.size, "ms")
    val scanned = reads.flatMap(tr.jobsUnder).map(_.counters.getOrElse("records_read", 0.0)).sum
    val returned = rs.filter(r => Set("point", "asof", "changes")(r.op)).map(_.rowsReturned).sum.toDouble
    layer("sinks.v2.rows_scanned_per_row_returned") = (scanned / math.max(1.0, returned), "ratio")
  }

  // ------------------------------------------------------------ output

  private def emit(): Unit = {
    val shown = if (trace) layer else e2e
    val all = e2e ++ layer
    println("--- graftbench metrics ---")
    all.foreach { case (k, (v, u)) => println(s"$k $v $u") }
    println(s"attempted $attempted count")
    println(s"failed $failed count")
    tracer.foreach(_.dump(recordPath.resolveSibling(recordPath.getFileName.toString
      .stripSuffix(".json") + ".spans.jsonl"), runStart))
    def obj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val rec =
      s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$trace,""" +
        s""""cores":$cores,"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${obj(shown)},"end_to_end":${obj(e2e)},"per_layer":${obj(layer)},""" +
        s""""diagnostics":{${diag.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    Files.createDirectories(recordPath.getParent)
    Files.write(recordPath, rec.getBytes("UTF-8"))
  }
}
