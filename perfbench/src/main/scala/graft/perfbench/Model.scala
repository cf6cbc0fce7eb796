package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One message row as stored: ordering within a channel is
  * (write_seq DESC, message_id DESC), the table's clustering order. */
final case class Msg(channel: Long, ws: Long, mid: String, author: String, text: String)

/** One users row version; the newest `ws` per username wins (LWW). */
final case class UserRow(userId: String, name: String, email: String, password: String, ws: Long)

/** Draws ranks 0..n-1 with probability ∝ 1/(rank+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def draw(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Words {
  val vocab: Array[String] = ("spark row column table scan sort hash merge join key value " +
    "stream batch window filter group agg query plan index bucket token ring write " +
    "read commit manifest version file page order fast slow big small data part line " +
    "vector node cluster replica shard cache load store flush lookup range partition " +
    "tombstone compact upsert insert delete ttl schema").split(" ")
  def text(rng: SplittableRandom, minW: Int, maxW: Int): String =
    Array.fill(minW + rng.nextInt(maxW - minW + 1))(vocab(rng.nextInt(vocab.length))).mkString(" ")
}

/** The seeded keyspace: generated rows plus the model every result is
  * checked against. Channel sizes vary; usernames carry several versions
  * so the LWW view differs from the raw table. */
final class KeyspaceModel(seed: Long, val nChannels: Int, val meanPerChannel: Int,
    val nUsers: Int) {
  private val rng = new SplittableRandom(seed)

  val channels: Array[Long] = {
    val seen = mutable.LinkedHashSet.empty[Long]
    while (seen.size < nChannels) seen += rng.nextLong(1L, 1L << 40)
    seen.toArray
  }
  /** Keys never written: a fixed share of lookups asks for them. */
  val absentChannels: Array[Long] = Array.fill(nChannels / 10 max 1) {
    var c = rng.nextLong(1L, 1L << 40)
    while (channels.contains(c)) c = rng.nextLong(1L, 1L << 40)
    c
  }
  val usernames: Array[String] = Array.tabulate(nUsers)(i => s"user$seed-$i")
  val absentUsers: Array[String] = Array.tabulate(nUsers / 10 max 1)(i => s"nobody$seed-$i")

  val users: Array[UserRow] = {
    var ws = 1000000L
    val out = mutable.ArrayBuffer.empty[UserRow]
    // first versions of everyone, then a second round that rewrites a
    // third of them: later rounds carry larger write_seq
    for (round <- 0 until 2; (n, i) <- usernames.zipWithIndex if round == 0 || rng.nextInt(3) == 0) {
      ws += 1
      out += UserRow(s"u$i-$round", n, s"$n@r$round.example.org",
        java.lang.Long.toHexString(rng.nextLong()), ws)
    }
    out.toArray
  }

  val messages: Array[Msg] = {
    val rows = mutable.ArrayBuffer.empty[Msg]
    channels.foreach { ch =>
      val n = 1 + rng.nextInt(2 * meanPerChannel)
      for (_ <- 0 until n)
        rows += Msg(ch, 0L, "", usernames(rng.nextInt(nUsers)), Words.text(rng, 3, 12))
    }
    // write order interleaves channels; write_seq and message_id follow it
    val order = rows.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    order.zipWithIndex.map { case (r, k) =>
      rows(r).copy(ws = 2000000L + k, mid = f"m$seed%d-$k%08d")
    }
  }

  // ---- the model ------------------------------------------------------------
  private val newestFirst: Ordering[Msg] =
    Ordering.by[Msg, (Long, String)](m => (m.ws, m.mid)).reverse
  val byChannel: mutable.HashMap[Long, mutable.ArrayBuffer[Msg]] = {
    val m = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Msg]]
    messages.foreach(x => m.getOrElseUpdate(x.channel, mutable.ArrayBuffer.empty) += x)
    m.foreach { case (_, b) => b.sortInPlace()(newestFirst) }
    m
  }
  val winners: mutable.HashMap[String, UserRow] = {
    val m = mutable.HashMap.empty[String, UserRow]
    users.foreach(u => if (m.get(u.name).forall(_.ws < u.ws)) m(u.name) = u)
    m
  }

  def page(ch: Long, size: Int): Seq[Msg] =
    byChannel.get(ch).map(_.take(size).toSeq).getOrElse(Nil)

  /** Newest rows of a just-committed insert go in front (their write_seq
    * is the newest of the table). */
  def prepend(ch: Long, rows: Seq[Msg]): Unit =
    byChannel.getOrElseUpdate(ch, mutable.ArrayBuffer.empty).prependAll(rows.sorted(newestFirst))

  def messageCount: Long = byChannel.valuesIterator.map(_.size.toLong).sum
}

/** One lineitem row of the generated corpus. */
final case class Line(orderKey: Long, partKey: Long, suppKey: Long, lineNo: Int,
    qty: Double, price: Double, disc: Double, tax: Double, flag: String, status: String,
    shipMicros: Long)

/** Plain-parquet corpus for the SparkEntry operators, generated from the
  * seed with planted structure the checks can rely on: exact duplicate
  * document pairs, one exact twin per ANN query vector, a few heavy-hitter
  * users, and lineitem rows whose TPC-H Q1 aggregate is computed here. */
final class CorpusModel(seed: Long, val nDocs: Int, val nVecs: Int, val nEvents: Int,
    val nLines: Int) {
  private val rng = new SplittableRandom(seed ^ 0x5eedL)
  val dim = 64

  val plantedPairs: Seq[(Long, Long)] = (0 until 6).map(k => (nDocs - 12L + 2 * k, nDocs - 11L + 2 * k))
  val docs: Array[(Long, String)] = {
    val base = Array.tabulate(nDocs)(i => i.toLong -> Words.text(rng, 15, 50))
    plantedPairs.foreach { case (a, b) =>
      val t = Words.text(rng, 80, 120)
      base(a.toInt) = a -> t; base(b.toInt) = b -> t
    }
    base
  }

  val vecs: Array[Array[Float]] = {
    val v = Array.fill(nVecs)(Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
    for (q <- 0 until 10) v(nVecs - 10 + q) = v(q).clone()
    v
  }
  def twinOf(q: Long): Long = nVecs - 10L + q

  /** user ids 1..5 are heavy hitters; the rest spread thinly. */
  val events: Array[(Long, Long, Long, String, Double)] = Array.tabulate(nEvents) { i =>
    val user = if (rng.nextInt(20) == 0) 1L + rng.nextInt(5) else 1000L + rng.nextInt(nEvents / 4 max 1)
    val ts = 1704067200000000L + i * 10000000L + rng.nextInt(1000000)
    (i.toLong, ts, user, Seq("view", "click", "purchase", "error")(rng.nextInt(4)),
      rng.nextInt(100000) / 100.0)
  }
  val heavyHitters: Map[Long, Long] =
    events.groupBy(_._3).map { case (u, es) => u -> es.length.toLong }.filter(_._2 >= 80L)

  val lines: Array[Line] = Array.tabulate(nLines) { i =>
    val qty = 1 + rng.nextInt(50)
    val ship = 694224000000000L + rng.nextLong(2526L * 86400L) * 1000000L // 1992-01-01 + ~6.9y
    val status = if (ship > 896400000000000L) "O" else "F"
    Line(i / 4L + 1, 1 + rng.nextInt(20000), 1 + rng.nextInt(1000), i % 4 + 1, qty.toDouble,
      BigDecimal(qty * (90000 + rng.nextInt(1000000)) / 100.0).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("A", "N", "R")(rng.nextInt(3)), status, ship)
  }
  /** Q1 groups: (flag, status) -> (count, sum_qty, sum_base_price, sum_disc_price, sum_charge). */
  val q1: Map[(String, String), (Long, BigDecimal, BigDecimal, Double, Double)] = {
    val cutoff = 904694400000000L // 1998-09-02
    lines.filter(_.shipMicros <= cutoff).groupBy(l => (l.flag, l.status)).map { case (k, ls) =>
      k -> (ls.length.toLong, ls.map(l => BigDecimal(l.qty)).sum, ls.map(l => BigDecimal(l.price)).sum,
        ls.map(l => l.price * (1 - l.disc)).sum, ls.map(l => l.price * (1 - l.disc) * (1 + l.tax)).sum)
    }
  }
}
