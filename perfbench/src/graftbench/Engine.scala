package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.v2.ChangeLogSource
import graft.streaming.CdcSink
import graftbench.Gen.Col

/** One table's shape on the wire and in the sink: its columns, the JSON
  * schemas the envelope parse uses, and the SMT chain.
  */
final case class Layout(table: String, cols: Seq[Col], smt: Smt,
                        rowOf: (Long, java.util.Random) => Array[String]) {
  private def sparkType(oid: Int): DataType = oid match {
    case Gen.Int8 => LongType
    case Gen.Int4 => IntegerType
    case Gen.Float8 => DoubleType
    case Gen.Date => DateType
    case _ => StringType
  }
  val keySchema: StructType =
    StructType(cols.filter(_.key).map(c => StructField(c.name, sparkType(c.oid))))
  val payloadSchema: StructType =
    StructType(cols.map(c => StructField(c.name, sparkType(c.oid))))
  val outCols: Seq[Col] = smt.cols(cols)
  val keyName: String = cols.find(_.key).get.name

  /** Envelope parse, in `ChangeLogPipeline.run`'s shape. */
  def envelope(wire: DataFrame): DataFrame = wire.select(
    from_json(col("key_json"), keySchema).as("key"),
    lit(null).cast(payloadSchema).as("before"),
    from_json(col("payload_json"), payloadSchema).as("after"),
    col("op"),
    struct(col("pos")).as("source"),
    lit(null).cast("string").as("transaction"),
    col("pos").as("ts_ms"))

  /** The SMT chain (`graft.Pipeline.apply`). */
  def transform(env: DataFrame): DataFrame = graft.Pipeline(env, smt.spec)

  /** Envelope schema the sink stores (what the SMT chain emits). */
  def sinkSchema(spark: SparkSession): StructType =
    transform(envelope(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ChangeLogSource.schema))).schema

  /** Model-layout change (SMT applied to the generated row). */
  def modelChange(c: Gen.Change): Gen.Change =
    c.copy(row = c.row.map(smt.row(cols, _)))
}

/** Helpers around the engine's public entry points. */
object Engine {
  val Catalog = "graft"

  def session(cores: Int, work: Path, catRoot: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.GraftSparkExtensions())
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config(s"spark.sql.catalog.$Catalog", classOf[graft.sinks.v2.GraftSinkCatalog].getName)
      .config(s"spark.sql.catalog.$Catalog.root", catRoot.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readWire(spark: SparkSession, dir: Path): DataFrame =
    spark.read.format(classOf[ChangeLogSource].getName)
      .option("path", dir.toString).load()

  /** A catalog sink table, created by DDL; returns its directory. */
  def createTable(spark: SparkSession, catRoot: Path, kind: String, name: String,
                  schema: StructType, props: Map[String, String]): Path = {
    val tp = props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ")
    spark.sql(s"CREATE TABLE $Catalog.$kind.$name (${schema.toDDL})" +
      (if (tp.isEmpty) "" else s" TBLPROPERTIES ($tp)"))
    catRoot.resolve(kind).resolve(name)
  }

  def sinkFor(kind: String, dir: Path, props: Map[String, String]): CdcSink =
    graft.sinks.v2.GraftSinkCatalog.sinkFor(kind, dir.toString, props)

  /** path -> (size, mtime) of every file under `dir` except checkpoints. */
  def files(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else scala.util.Using.resource(Files.walk(dir)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.toString.contains("_checkpoint"))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    }

  /** (files, bytes) written between two listings: new or changed files. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Int, Long) = {
    val w = after.filter { case (p, v) => !before.get(p).contains(v) }
    (w.size, w.values.map(_._1).sum)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }

  /** A change stream from a wire directory into one or more sinks.
    * `mergeDone(batchId)` is the nanoTime at which every sink's merge of
    * that micro-batch had returned.
    */
  final class Stream(spark: SparkSession, val name: String, wire: Path, ckpt: Path, layout: Layout,
                     targets: Seq[(String, Path, CdcSink)], epochBase: Long,
                     trigger: Trigger, maxRecords: Option[Long],
                     tracer: Option[Tracer]) {
    val mergeDone = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    /** (kind, batchId, files, bytes) written per merge; traced runs only. */
    val epochWrites = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int, Long)]()
    /** Trace-only listing time spent inside each micro-batch, in ns. */
    val traceNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(targets.size, (r: Runnable) => {
      val t = new Thread(r, s"graftbench-merge-$name"); t.setDaemon(true); t
    })

    def start(): StreamingQuery = {
      deleteTree(ckpt) // a fresh query: never resume an earlier run's offsets
      var r = spark.readStream.format(classOf[ChangeLogSource].getName)
        .option("path", wire.toString)
      maxRecords.foreach(m => r = r.option("maxRecordsPerTrigger", m.toString))
      r.load().writeStream
        .queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val out = Trace.around(tracer, "operators.smt", s"$name:$id")(
            layout.transform(Trace.around(tracer, "model.envelope", s"$name:$id")(
              layout.envelope(batch))))
          // one table's merge per thread: the sinks are independent tables
          val merges = targets.map { case (kind, dir, sink) => pool.submit[Unit](() => {
            val t0 = System.nanoTime()
            val before = tracer.map(_ => files(dir))
            val t1 = System.nanoTime()
            Trace.around(tracer, "streaming.merge", s"$name/$kind:$id")(sink.merge(out, id + epochBase))
            tracer.foreach { t =>
              val t2 = System.nanoTime()
              val (n, b) = written(before.get, files(dir))
              epochWrites.add((kind, id, n, b))
              val ns = System.nanoTime() - t2 + t1 - t0
              t.addOverhead(ns)
              traceNs.merge(id, ns, (a: Long, b: Long) => a + b)
            }
          })}
          merges.foreach(_.get())
          mergeDone.put(id, System.nanoTime())
          ()
        }
        .start()
    }
  }

  /** Segment frontier of a progress record (`{"file":"<name>"}`). */
  def endFile(p: org.apache.spark.sql.streaming.StreamingQueryProgress): String = {
    val j = p.sources(0).endOffset
    val m = """"file":"([^"]*)"""".r.findFirstMatchIn(j)
    m.map(_.group(1)).getOrElse("")
  }
}

object Trace {
  def around[T](t: Option[Tracer], name: String, tag: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name, tag)(body)
      case None => body
    }
}
