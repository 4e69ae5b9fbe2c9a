package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One orders-shaped table row. `priceCents` is the exact price; the table
  * stores `o_totalprice = priceCents / 100.0`. */
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: String, o_orderpriority: String,
    o_clerk: String, o_shippriority: Int, o_comment: String) {
  def priceCents: Long = math.round(o_totalprice * 100)

  /** Payload JSON in the column order of the table schema. */
  def json: String = {
    val b = new StringBuilder(200)
    b.append("{\"o_orderkey\":").append(o_orderkey)
      .append(",\"o_custkey\":").append(o_custkey)
      .append(",\"o_orderstatus\":\"").append(o_orderstatus)
      .append("\",\"o_totalprice\":").append(o_totalprice)
      .append(",\"o_orderdate\":\"").append(o_orderdate)
      .append("\",\"o_orderpriority\":\"").append(o_orderpriority)
      .append("\",\"o_clerk\":\"").append(o_clerk)
      .append("\",\"o_shippriority\":").append(o_shippriority)
      .append(",\"o_comment\":\"").append(o_comment).append("\"}")
    b.toString
  }

  /** The row as one string, the unit of the content hashes. */
  def canonical: String =
    s"$o_orderkey|$o_custkey|$o_orderstatus|$o_totalprice|$o_orderdate|" +
      s"$o_orderpriority|$o_clerk|$o_shippriority|$o_comment"
}

/** Seeded input generators. Every generated value is a pure function of
  * the seed (and, for table rows, of key and row version), so the same
  * seed gives byte-identical inputs and the model can recompute any row
  * instead of storing it. */
object Gen {
  val Statuses = Array("O", "F", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** SplitMix64 finalizer: decorrelates (seed, key, version) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 31 + salt))

  def order(seed: Long, key: Long, version: Int): Order = {
    val r = new SplittableRandom(mix(mix(seed) ^ (key * 0x2545F4914F6CDD1DL) ^ version))
    val words = (0 until 3 + r.nextInt(5)).map { _ =>
      val n = 3 + r.nextInt(6)
      (0 until n).map(_ => Letters.charAt(r.nextInt(26))).mkString
    }
    Order(key, 1 + r.nextInt(150000), Statuses(r.nextInt(3)),
      (100 + r.nextLong(50000000L)) / 100.0,
      f"${1992 + r.nextInt(7)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
      Priorities(r.nextInt(5)), f"Clerk#${1 + r.nextInt(1000)}%09d",
      r.nextInt(2), words.mkString(" "))
  }

  def keyJson(key: Long): String = s"""{"o_orderkey":$key}"""
}

/** One generated change record: operation, key and the row version an
  * upsert writes (ignored for deletes). */
final case class Change(seq: Long, op: String, key: Long, version: Int)

/** Key → current row version (-1 = absent) for keys 1..maxKey, updated as
  * changes are generated: the model the table must match once a batch is
  * acknowledged. Aggregates by status are kept incrementally so each read
  * can be checked without a scan of the model. */
final class OrdersModel(val seed: Long, initialKeys: Int) {
  private var ver = Array.fill(math.max(16, initialKeys * 2))(-1)
  var maxKey: Long = 0
  var live: Long = 0
  val statusCount = Array.fill(Gen.Statuses.length)(0L)
  val statusCents = Array.fill(Gen.Statuses.length)(0L)
  (1L to initialKeys.toLong).foreach(k => put(k, 0))

  def version(key: Long): Int =
    if (key < 1 || key > maxKey) -1 else ver(key.toInt)
  def alive(key: Long): Boolean = version(key) >= 0
  def row(key: Long): Option[Order] = {
    val v = version(key)
    if (v < 0) None else Some(Gen.order(seed, key, v))
  }

  private def account(o: Order, sign: Int): Unit = {
    val s = Gen.Statuses.indexOf(o.o_orderstatus)
    statusCount(s) += sign
    statusCents(s) += sign * o.priceCents
    live += sign
  }

  def put(key: Long, version: Int): Unit = {
    if (key >= ver.length) ver = java.util.Arrays.copyOf(ver, (key * 2).toInt)
    if (key > maxKey) {
      java.util.Arrays.fill(ver, (maxKey + 1).toInt, (key + 1).toInt, -1)
      maxKey = key
    }
    row(key).foreach(account(_, -1))
    ver(key.toInt) = version
    account(Gen.order(seed, key, version), 1)
  }

  def remove(key: Long): Unit = {
    row(key).foreach(account(_, -1))
    ver(key.toInt) = -1
  }

  def apply(c: Change): Unit =
    if (c.op == "delete") remove(c.key) else put(c.key, c.version)

  /** Order-independent content hash over the live rows and their count. */
  def contentHash: (Long, Long) = {
    var h = 0L
    var n = 0L
    var k = 1L
    while (k <= maxKey) {
      val v = ver(k.toInt)
      if (v >= 0) { h += rowHash(Gen.order(seed, k, v).canonical); n += 1 }
      k += 1
    }
    (h, n)
  }

  def snapshot(): Array[Int] = java.util.Arrays.copyOf(ver, (maxKey + 1).toInt)

  def rowHash(canonical: String): Long =
    Gen.mix(scala.util.hashing.MurmurHash3.stringHash(canonical).toLong ^
      (canonical.length.toLong << 32))
}

/** CDC change generator over an [[OrdersModel]]. `recentSkew` picks update
  * and delete keys from a power law over key age (newest first); otherwise
  * keys are uniform over the key space, retried until a live key is hit. */
final class ChangeGen(model: OrdersModel, seed: Long, createFrac: Double,
    updateFrac: Double, recentSkew: Boolean) {
  private val r = Gen.rng(seed, 7)
  private var seq = 0L
  private var nextKey = model.maxKey + 1

  private def pickLive(): Option[Long] = {
    val hi = nextKey - 1
    var tries = 0
    while (tries < 64) {
      val k =
        if (recentSkew) hi - math.floor(hi * math.pow(r.nextDouble(), 4)).toLong
        else 1 + r.nextLong(hi)
      if (model.alive(k)) return Some(k)
      tries += 1
    }
    None
  }

  def next(): Change = {
    seq += 1
    val u = r.nextDouble()
    val pick = if (u < createFrac) None else pickLive()
    val c = pick match {
      case None =>
        nextKey += 1
        Change(seq, "create", nextKey - 1, 0)
      case Some(k) if u < createFrac + updateFrac =>
        Change(seq, "update", k, model.version(k) + 1)
      case Some(k) => Change(seq, "delete", k, 0)
    }
    model(c)
    c
  }

  def batch(n: Int): IndexedSeq[Change] = IndexedSeq.fill(n)(next())
}

/** A planted-structure text corpus: unique documents, exact and near
  * duplicates of them, shared boilerplate lines, PII-shaped strings and a
  * few low-quality documents, with embeddings that copy their original's
  * direction. */
final case class Doc(docId: Long, source: String, text: String,
    embedding: Array[Double], kind: String, origin: Long)

object CorpusGen {
  val Stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val Dim = 64

  def generate(seed: Long, n: Int, exactFrac: Double = 0.10,
      nearFrac: Double = 0.20, junkFrac: Double = 0.03): IndexedSeq[Doc] = {
    val r = Gen.rng(seed, 11)
    val vocab = (0 until 3000).map { _ =>
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct.filterNot(Stops.contains)
    val boiler = (0 until 12).map { _ =>
      (0 until 8 + r.nextInt(6)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    def word(): String =
      if (r.nextInt(7) == 0) Stops(r.nextInt(Stops.size)) else vocab(r.nextInt(vocab.size))
    def pii(): String = r.nextInt(4) match {
      case 0 => s"${vocab(r.nextInt(vocab.size))}.${r.nextInt(100)}@mail.example.org"
      case 1 => s"https://site${r.nextInt(50)}.example.com/p/${r.nextInt(10000)}"
      case 2 => f"+${1 + r.nextInt(90)} ${r.nextInt(1000)}%03d ${r.nextInt(1000)}%03d ${r.nextInt(10000)}%04d"
      case _ => s"${1 + r.nextInt(254)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
    }
    def uniqueText(): String = {
      val lines = ArrayBuffer.empty[String]
      val nLines = 4 + r.nextInt(2)
      (0 until nLines).foreach { i =>
        val ws = ArrayBuffer.fill(15 + r.nextInt(16))(word())
        if (i == 0) { ws += "the"; ws += "of" }
        if (r.nextInt(4) == 0) ws.insert(r.nextInt(ws.size), pii())
        lines += ws.mkString(" ")
      }
      (0 until r.nextInt(3)).foreach(_ =>
        lines.insert(r.nextInt(lines.size + 1), boiler(r.nextInt(boiler.size))))
      lines.mkString("\n")
    }
    def embedding(): Array[Double] =
      Array.fill(Dim)((r.nextInt(201) - 100).toDouble)
    def nearEdit(text: String): String = {
      val lines = text.split("\n")
      // edit a content line (the longest): replace 2 of its words
      val li = lines.indices.maxBy(i => lines(i).length)
      val ws = lines(li).split(" ")
      (0 until 2).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size)))
      lines(li) = ws.mkString(" ")
      lines.mkString("\n")
    }
    val docs = ArrayBuffer.empty[Doc]
    val copies = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val uniques = ArrayBuffer.empty[Int]
    (1 to n).foreach { id =>
      val u = r.nextDouble()
      val source = s"src${r.nextInt(4)}"
      val origin =
        if (uniques.size < 20 || u >= exactFrac + nearFrac) None
        else {
          val o = uniques(r.nextInt(uniques.size))
          if (copies(docs(o).docId) >= 2) None else Some(o)
        }
      val d = origin match {
        case Some(o) =>
          val src = docs(o)
          copies(src.docId) += 1
          val emb = src.embedding.map(x => x + (r.nextInt(3) - 1))
          if (u < exactFrac) Doc(id, source, src.text, emb, "exact", src.docId)
          else Doc(id, source, nearEdit(src.text), emb, "near", src.docId)
        case None if u >= 1 - junkFrac =>
          Doc(id, source, (0 until 10).map(_ => word()).mkString(" "),
            embedding(), "junk", id)
        case None =>
          uniques += docs.size
          Doc(id, source, uniqueText(), embedding(), "unique", id)
      }
      docs += d
    }
    docs.toIndexedSeq
  }
}
