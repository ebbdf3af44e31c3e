package graftbench

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graftbench.Gen.{Change, Col}

/** The SMT chain every stream applies, as data: the benchmark hands it to
  * the engine as a `graft.Pipeline.Spec` and the model applies it to text
  * rows by hand.
  */
final case class Smt(exclude: Set[String], mask: Set[String],
                     truncate: Map[String, Int]) {
  def spec: graft.Pipeline.Spec = graft.Pipeline.Spec(
    columnExclude = exclude,
    masks = mask.map(_ -> (graft.Pipeline.Mask.Constant("***"): graft.Pipeline.Mask)).toMap,
    truncates = truncate)

  def cols(in: Seq[Col]): Seq[Col] = in.filterNot(c => exclude(c.name))

  def row(in: Seq[Col], vs: Array[String]): Array[String] =
    in.indices.filterNot(i => exclude(in(i).name)).map { i =>
      val c = in(i).name
      val v = vs(i)
      if (v == null) null
      else if (mask(c)) "***"
      else truncate.get(c).map(n => v.take(n)).getOrElse(v)
    }.toArray
}

/** Driver-side model of one sink table: latest row per key after every
  * committed epoch, and each epoch's net change per key. It shares no code
  * with the sinks; its rows are the text forms the generator produced.
  */
final class Model(val cols: Seq[Col]) {
  type State = HashMap[Long, Array[String]]
  private val keyIdx = cols.indexWhere(_.key)
  private val versions = mutable.TreeMap.empty[Long, State]
  private val diffs = mutable.HashMap.empty[Long, Map[Long, Option[Array[String]]]]
  var current: State = HashMap.empty

  def epochs: Seq[Long] = versions.keys.toSeq
  def lastEpoch: Option[Long] = versions.lastOption.map(_._1)

  /** Apply `changes` (already in the table's column layout) as `epoch`. */
  def commit(epoch: Long, changes: Iterable[Change]): Unit = {
    require(lastEpoch.forall(_ < epoch), s"epoch $epoch is not after ${lastEpoch}")
    val diff = mutable.LinkedHashMap.empty[Long, Option[Array[String]]]
    changes.foreach { c =>
      current = c.row match {
        case Some(r) => current.updated(c.id, r)
        case None => current - c.id
      }
      diff(c.id) = c.row
    }
    versions(epoch) = current
    diffs(epoch) = diff.toMap
  }

  /** State as of `epoch` (the newest committed epoch at or below it). */
  def at(epoch: Long): State = versions.rangeTo(epoch).lastOption.map(_._2)
    .getOrElse(HashMap.empty)

  def diff(epoch: Long): Map[Long, Option[Array[String]]] = diffs(epoch)

  def keyOf(row: Array[String]): Long = row(keyIdx).toLong

  /** Typed value of a text cell for a Spark field type. */
  def typed(v: String, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case LongType => v.toLong
      case IntegerType => v.toInt
      case DoubleType => v.toDouble
      case DateType => java.sql.Date.valueOf(v)
      case _ => v
    }

  /** A model row as a Spark row of `schema` (fields matched by name). */
  def toRow(vs: Array[String], schema: StructType): Row = {
    val at = cols.map(_.name).zipWithIndex.toMap
    Row.fromSeq(schema.fields.toSeq.map(f => typed(vs(at(f.name)), f.dataType)))
  }

  def frame(spark: SparkSession, state: State, schema: StructType): DataFrame = {
    val rows = new java.util.ArrayList[Row](state.size)
    state.valuesIterator.foreach(r => rows.add(toRow(r, schema)))
    spark.createDataFrame(rows, schema)
  }

  /** Rows of `view` missing from the model plus model rows missing from
    * `view`, counted with multiplicity (`exceptAll` both ways).
    */
  def mismatches(spark: SparkSession, view: DataFrame, state: State): Long = {
    val m = frame(spark, state, view.schema)
    view.exceptAll(m).unionAll(m.exceptAll(view)).count()
  }
}
