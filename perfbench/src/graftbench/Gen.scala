package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable

import graft.sources.wire.PgOutput._

/** Seeded input generator. Everything the engine sees is the pgoutput
  * segments this writes; the row values are also handed to [[Model]],
  * which never touches engine code.
  *
  * A row is kept as its PostgreSQL text form (one string per column,
  * `null` for SQL NULL), which is exactly what the wire carries.
  */
object Gen {
  final case class Col(name: String, oid: Int, key: Boolean = false)

  val Int8 = 20; val Int4 = 23; val Float8 = 701; val Text = 25; val Date = 1082

  /** lineitem's columns plus a generated unique key `l_id`: lineitem's own
    * composite key (l_orderkey, l_linenumber) is not unique in TPC-H-style
    * data, so it cannot key a CDC table.
    */
  val lineitem: Seq[Col] = Seq(
    Col("l_id", Int8, key = true), Col("l_orderkey", Int8), Col("l_partkey", Int8),
    Col("l_suppkey", Int8), Col("l_linenumber", Int4), Col("l_quantity", Float8),
    Col("l_extendedprice", Float8), Col("l_discount", Float8), Col("l_tax", Float8),
    Col("l_returnflag", Text), Col("l_linestatus", Text), Col("l_shipdate", Date),
    Col("l_commitdate", Date), Col("l_receiptdate", Date), Col("l_shipinstruct", Text),
    Col("l_shipmode", Text), Col("l_comment", Text))

  val orders: Seq[Col] = Seq(
    Col("o_id", Int8, key = true), Col("o_custkey", Int8), Col("o_orderstatus", Text),
    Col("o_totalprice", Float8), Col("o_orderdate", Date), Col("o_orderpriority", Text),
    Col("o_clerk", Text), Col("o_shippriority", Int4), Col("o_comment", Text))

  private val words = Array("furiously", "quickly", "carefully", "blithely",
    "regular", "express", "final", "pending", "ironic", "special", "bold",
    "silent", "even", "unusual", "accounts", "deposits", "packages",
    "requests", "theodolites", "foxes", "pinto", "beans", "instructions")
  private val shipModes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR",
    "SHIP", "TRUCK")
  private val instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE",
    "TAKE BACK RETURN")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def comment(r: java.util.Random): String =
    Seq.fill(3 + r.nextInt(5))(words(r.nextInt(words.length))).mkString(" ")
  private def money(r: java.util.Random, max: Int): String =
    f"${r.nextInt(max * 100) / 100.0}%.2f"
  private def date(r: java.util.Random, base: Int): String =
    java.time.LocalDate.ofEpochDay(8035L + base + r.nextInt(2400)).toString

  def lineitemRow(id: Long, r: java.util.Random): Array[String] = Array(
    id.toString, (1 + r.nextInt(150000)).toString, (1 + r.nextInt(20000)).toString,
    (1 + r.nextInt(1000)).toString, (1 + r.nextInt(7)).toString,
    (1 + r.nextInt(50)).toString + ".0", money(r, 100000),
    f"${r.nextInt(11) / 100.0}%.2f", f"${r.nextInt(9) / 100.0}%.2f",
    "RAN".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
    date(r, 0), date(r, 30), date(r, 60), instructs(r.nextInt(instructs.length)),
    shipModes(r.nextInt(shipModes.length)), comment(r))

  def ordersRow(id: Long, r: java.util.Random): Array[String] = Array(
    id.toString, (1 + r.nextInt(15000)).toString, "OFP".charAt(r.nextInt(3)).toString,
    money(r, 500000), date(r, 0), priorities(r.nextInt(priorities.length)),
    f"Clerk#${1 + r.nextInt(1000)}%09d", "0", comment(r))

  /** One change to key `id`: op 'c' inserts, 'u' updates, 'd' deletes
    * (`row = None`).
    */
  final case class Change(id: Long, op: Char, row: Option[Array[String]])

  /** Zipf(s = 1) ranks over `n` items, by inverse-CDF lookup. */
  final class Zipf(n: Int, r: java.util.Random) {
    private val cdf = {
      val c = new Array[Double](n); var s = 0.0
      var i = 0
      while (i < n) { s += 1.0 / (i + 1); c(i) = s; i += 1 }
      c.map(_ / s)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A keyed table's seeded history: `snapshot` rows with ids 1..n, then
    * `changes` Zipf-skewed updates (hot keys are a seeded permutation of
    * the ids), about 10% deletes and about 3% re-inserts of deleted keys.
    */
  final class History(seed: Long, val cols: Seq[Col], n: Int,
                      rowOf: (Long, java.util.Random) => Array[String]) {
    private val r = new java.util.Random(seed)
    val snapshot: Vector[Change] =
      Vector.tabulate(n)(i => Change(i + 1L, 'c', Some(rowOf(i + 1L, r))))
    private val hot: Array[Long] = {
      val a = Array.tabulate(n)(i => i + 1L)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    private val zipf = new Zipf(n, r)
    private val live = mutable.ArrayBuffer.from(1L to n.toLong)
    private val liveAt = mutable.HashMap.from((1L to n.toLong).map(k => k -> (k - 1).toInt))
    private val deleted = mutable.ArrayBuffer.empty[Long]
    private val current = mutable.HashMap.from(snapshot.map(c => c.id -> c.row.get))

    private def removeLive(id: Long): Unit = {
      val i = liveAt.remove(id).get
      val last = live.remove(live.length - 1)
      if (last != id) { live(i) = last; liveAt(last) = i }
    }
    private def pickLive(): Long = {
      var tries = 0
      while (tries < 8) {
        val k = hot(zipf.next())
        if (liveAt.contains(k)) return k
        tries += 1
      }
      live(r.nextInt(live.length))
    }

    /** The next change, applied to the generator's own current state. */
    def next(): Change = {
      val u = r.nextDouble()
      if (u < 0.03 && deleted.nonEmpty) {
        val id = deleted.remove(r.nextInt(deleted.length))
        val row = rowOf(id, r)
        liveAt(id) = live.length; live += id; current(id) = row
        Change(id, 'c', Some(row))
      } else if (u < 0.13 && live.length > 1) {
        val id = pickLive()
        removeLive(id); deleted += id; current.remove(id)
        Change(id, 'd', None)
      } else {
        val id = pickLive()
        val fresh = rowOf(id, r)
        val old = current(id)
        // an update rewrites a few value columns and keeps the rest
        val row = old.indices.map(i => if (i % 3 == 2 || i == old.length - 1) fresh(i) else old(i)).toArray
        current(id) = row
        Change(id, 'u', Some(row))
      }
    }
  }

  // ------------------------------------------------------------ encoding

  val RelId = 16384

  def relation(table: String, cols: Seq[Col]): Relation =
    Relation(RelId, "public", table, 'd',
      cols.map(c => Column(if (c.key) 1 else 0, c.name, c.oid, -1)))

  private def tuple(row: Array[String]): Seq[Value] =
    row.toSeq.map(v => if (v == null) VNull else VText(v))

  /** Encodes transactions into self-contained segments (each starts with
    * the Relation message). WAL positions rise by one per frame across
    * every segment an encoder writes, so `pos` is a total order.
    */
  final class Encoder(table: String, cols: Seq[Col]) {
    private val rel = encode(relation(table, cols))
    private var lsn = 1000L
    private var xid = 500L
    private val keyIdx = cols.indexWhere(_.key)

    /** One segment holding the given transactions. */
    def segment(txs: Seq[Seq[Change]]): Array[Byte] = {
      val frames = mutable.ArrayBuffer[(Long, Array[Byte])]()
      def frame(b: Array[Byte]): Unit = { lsn += 1; frames += ((lsn, b)) }
      frame(rel)
      txs.foreach { tx =>
        xid += 1
        frame(encode(Begin(lsn + tx.size + 2, 0L, xid)))
        tx.foreach { c =>
          frame(encode((c.op, c.row) match {
            case ('u', Some(row)) => Update(RelId, None, None, tuple(row))
            case (_, Some(row)) => Insert(RelId, tuple(row))
            case (_, None) =>
              val old = Array.tabulate[String](cols.size)(i =>
                if (i == keyIdx) c.id.toString else null)
              Delete(RelId, 'K', tuple(old))
          }))
        }
        frame(encode(Commit(0, lsn, lsn + 1, 0L)))
      }
      writeSegment(frames.toSeq)
    }
  }

  /** Committed segment name, in the transport's `part-g<gen>-…-n<count>`
    * form (the count lets admission control skip content reads).
    */
  def segmentName(gen: Long, count: Int): String =
    graft.sources.v2.ChangeLogSource.segmentName(gen, None, 0, count)
      .stripSuffix(".log") + ".pgo"

  /** Publish a segment atomically: a dot-prefixed staging name is
    * invisible to the source until the rename.
    */
  def publish(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def digest(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }
}
