package graftbench

import java.nio.file.Path

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graftbench.Gen.{Change, Col}

/** A catalog table the client serves, with its model. */
final class Served(val kind: String, val name: String, val dir: Path,
                   val props: Map[String, String], val layout: Layout,
                   val model: Model, val dmlCol: String, hotSeed: Long, ids: Int) {
  val ident = s"${Engine.Catalog}.$kind.$name"
  val changesIdent = s"${Engine.Catalog}.$kind.`$name$$changes`"
  private val r = new java.util.Random(hotSeed)
  private val hot: Array[Long] = {
    val a = Array.tabulate(ids)(i => i + 1L)
    var i = ids - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  private val zipf = new Gen.Zipf(ids, r)
  /** MERGE inserts take ids above every id the generator hands out. */
  var nextId: Long = ids * 4L + 1L

  def rnd: java.util.Random = r
  def anyKey(): Long = hot(zipf.next())
  def liveKey(): Long = {
    var i = 0
    while (i < 8) { val k = anyKey(); if (model.current.contains(k)) return k; i += 1 }
    model.current.keysIterator.drop(r.nextInt(model.current.size)).next()
  }
  def committedEpoch: Option[Long] = Engine.sinkFor(kind, dir, props).committedEpoch
}

/** One client operation's outcome. `visibleMs` is, for DML, the time from
  * issuing the statement to a read that returns its effect.
  */
final case class OpResult(op: String, kind: String, ms: Double, ok: Boolean,
                          visibleMs: Double = 0.0, rowsChanged: Int = 0,
                          rowsReturned: Int = 0)

/** The client side of the `sinks.v2` layer: reads and row-level DML through
  * Spark SQL on catalog tables, each result checked against the model.
  */
final class Serve(spark: SparkSession, tracer: Option[Tracer]) {
  val results = mutable.ArrayBuffer.empty[OpResult]
  private var n = 0
  private val mapper = new ObjectMapper()

  private def timed[T](name: String, kind: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = Trace.around(tracer, name, kind)(f)
    (v, (System.nanoTime() - t0) / 1e6)
  }

  private def sameRow(t: Served, got: Array[Row], want: Option[Array[String]]): Boolean =
    got.length == want.size &&
      got.headOption.forall(g => g == t.model.toRow(want.get, g.schema))

  private def pointRows(t: Served, id: Long, asOf: Option[Long]): (Array[Row], Double) = {
    val v = asOf.map(e => s" VERSION AS OF $e").getOrElse("")
    timed(if (asOf.isEmpty) "sinks.v2.point" else "sinks.v2.asof", t.kind)(
      spark.sql(s"SELECT after.* FROM ${t.ident}$v WHERE key.${t.layout.keyName} = $id " +
        "AND op <> 'd'").collect())
  }

  def point(t: Served, id: Long): OpResult = {
    val (rows, ms) = pointRows(t, id, None)
    record(OpResult("point", t.kind, ms, sameRow(t, rows, t.model.current.get(id)),
      rowsReturned = rows.length))
  }

  def asOf(t: Served, id: Long, epoch: Long): OpResult = {
    val (rows, ms) = pointRows(t, id, Some(epoch))
    record(OpResult("asof", t.kind, ms, sameRow(t, rows, t.model.at(epoch).get(id)),
      rowsReturned = rows.length))
  }

  /** A changefeed `to_json` object as a row of `schema`, parsed with the
    * Jackson that Spark ships and typed as the model types its text.
    */
  private def jsonRow(t: Served, json: String, schema: StructType): Row = {
    val o = mapper.readTree(json)
    Row.fromSeq(schema.fields.toSeq.map(f => Option(o.get(f.name)).filterNot(_.isNull)
      .map(v => t.model.typed(v.asText, f.dataType)).orNull))
  }

  /** `$changes` of one epoch, reduced to the latest row per key, against the
    * model's net change of that epoch.
    */
  def changes(t: Served, epoch: Long): OpResult = {
    val (rows, ms) = timed("sinks.v2.changes", t.kind)(
      spark.read.option("fromEpoch", epoch.toString).option("toEpoch", epoch.toString)
        .table(t.changesIdent).collect())
    val latest = rows.filter(_.getLong(0) == epoch)
      .groupBy(r => mapper.readTree(r.getString(3)).get(t.layout.keyName).asLong)
      .map { case (k, rs) => k -> rs.maxBy(_.getLong(2)) }
    val schema = StructType(t.layout.payloadSchema.filter(f => t.model.cols.exists(_.name == f.name)))
    val want = t.model.diff(epoch)
    val ok = latest.keySet == want.keySet && want.forall {
      case (k, None) => latest(k).getString(1) == "d"
      case (k, Some(row)) =>
        val got = latest(k)
        got.getString(1) != "d" && got.getString(4) != null &&
          jsonRow(t, got.getString(4), schema) == t.model.toRow(row, schema)
    }
    record(OpResult("changes", t.kind, ms, ok, rowsReturned = rows.length))
  }

  private def commitDml(t: Served, op: String, sql: String, changes: Seq[Change],
                        readBack: Long): OpResult = {
    val epoch = t.model.lastEpoch.map(_ + 1).getOrElse(0L)
    val t0 = System.nanoTime()
    val (_, ms) = timed(s"sinks.v2.$op", t.kind)(spark.sql(sql))
    t.model.commit(epoch, changes)
    val (rows, _) = pointRows(t, readBack, None)
    val visible = (System.nanoTime() - t0) / 1e6
    val ok = t.committedEpoch.contains(epoch) &&
      sameRow(t, rows, t.model.current.get(readBack))
    record(OpResult(op, t.kind, ms, ok, visibleMs = visible, rowsChanged = changes.size))
  }

  def update(t: Served, id: Long): OpResult = {
    n += 1
    val v = s"upd-$n"
    val i = t.model.cols.indexWhere(_.name == t.dmlCol)
    val row = t.model.current(id).clone()
    row(i) = v
    commitDml(t, "update",
      s"UPDATE ${t.ident} SET after.${t.dmlCol} = '$v' WHERE key.${t.layout.keyName} = $id",
      Seq(Change(id, 'u', Some(row))), id)
  }

  def delete(t: Served, id: Long): OpResult =
    commitDml(t, "delete",
      s"DELETE FROM ${t.ident} WHERE key.${t.layout.keyName} = $id",
      Seq(Change(id, 'd', None)), id)

  /** MERGE INTO from a 10-row source: 5 existing keys are updated, 5 new
    * keys are inserted.
    */
  def merge(t: Served): OpResult = {
    n += 1
    val v = s"mrg-$n"
    val i = t.model.cols.indexWhere(_.name == t.dmlCol)
    val matched = Iterator.continually(t.liveKey()).distinct.take(5).toSeq
    val fresh = Seq.fill(5) { t.nextId += 1; t.nextId }
    val cols = t.model.cols
    val src = (matched ++ fresh).map { id =>
      val row = t.layout.smt.row(t.layout.cols, t.layout.rowOf(id, t.rnd))
      (id, row, s"(CAST($id AS BIGINT), '$v', named_struct(${
        cols.indices.map(c => s"'${cols(c).name}', ${sqlLit(cols(c), row(c))}").mkString(", ")}))")
    }
    val changes = src.map { case (id, row, _) =>
      t.model.current.get(id) match {
        case Some(old) => val u = old.clone(); u(i) = v; Change(id, 'u', Some(u))
        case None => Change(id, 'c', Some(row))
      }
    }
    val k = t.layout.keyName
    val sql =
      s"""MERGE INTO ${t.ident} t
         |USING (SELECT * FROM VALUES ${src.map(_._3).mkString(", ")} AS s(id, v, row)) s
         |ON t.key.$k = s.id
         |WHEN MATCHED THEN UPDATE SET t.after.${t.dmlCol} = s.v
         |WHEN NOT MATCHED THEN INSERT (key, after) VALUES (named_struct('$k', s.id), s.row)
         |""".stripMargin
    commitDml(t, "merge", sql, changes, fresh.head)
  }

  private def sqlLit(c: Col, v: String): String =
    if (v == null) "NULL"
    else c.oid match {
      case Gen.Int8 => s"CAST($v AS BIGINT)"
      case Gen.Int4 => s"CAST($v AS INT)"
      case Gen.Float8 => s"CAST($v AS DOUBLE)"
      case Gen.Date => s"DATE'$v'"
      case _ => "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    }

  /** Run one operation by name, choosing keys and epochs from the model. */
  def run(t: Served, op: String): OpResult = {
    val epochs = t.model.epochs
    try op match {
      case "point" => point(t, t.anyKey())
      case "asof" =>
        val older = epochs.dropRight(1)
        asOf(t, t.anyKey(), older(t.rnd.nextInt(older.size)))
      case "changes" =>
        // the snapshot epoch is a whole table, not a recent change
        val recent = epochs.filter(_ > 0).takeRight(3)
        changes(t, recent(t.rnd.nextInt(recent.size)))
      case "update" => update(t, t.liveKey())
      case "delete" => delete(t, t.liveKey())
      case "merge" => merge(t)
    } catch {
      case e: Exception =>
        System.err.println(s"[graftbench] $op on ${t.ident} failed: $e")
        record(OpResult(op, t.kind, 0.0, ok = false))
    }
  }

  private def record(r: OpResult): OpResult = {
    if (!r.ok) System.err.println(s"[graftbench] wrong result: $r")
    results += r
    r
  }
}
