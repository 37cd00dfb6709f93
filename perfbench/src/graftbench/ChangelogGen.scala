package graftbench

import java.util.SplittableRandom

/** One changelog row as the open-loop emitter hands it to the stream. */
final case class CRow(pk: Long, op: String, amount: java.math.BigDecimal,
                      qty: Int, score: Double, day: java.sql.Date,
                      event_ts: java.sql.Timestamp, name: String,
                      created_at: java.sql.Timestamp)

/** Generated changelog rows, column-wise. `op` codes index [[Rows.Ops]]. */
final class Rows(val n: Int) {
  val pk = new Array[Long](n)
  val op = new Array[Byte](n)
  val cents = new Array[Long](n)
  val qty = new Array[Int](n)
  val score = new Array[Double](n)
  val day = new Array[Int](n)
  val tsMicros = new Array[Long](n)
  val version = new Array[Int](n)

  def sign(i: Int): Int = if (op(i) == 0 || op(i) == 2) 1 else -1

  def row(i: Int, createdMs: Long): CRow = CRow(pk(i), Rows.Ops(op(i)),
    java.math.BigDecimal.valueOf(cents(i), 2), qty(i), score(i),
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day(i))),
    Rows.timestamp(tsMicros(i)), s"n${pk(i) % 997}-v${version(i)}",
    new java.sql.Timestamp(createdMs))
}

object Rows {
  val Ops: Array[String] = Array("I", "-U", "+U", "D")

  def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
}

/** Seeded changelog generator over a fixed primary-key space.
  *
  * Events are 80 % inserts of a fresh key, 10 % updates (a -U/+U row
  * pair) and 10 % deletes. Updates and deletes pick a live key with a
  * Zipf(s = 1) skew over the live keys in insertion order, so a few old
  * keys take most of the churn. A -U or D row carries the values of the
  * row it retracts, as a collapsing table requires.
  */
object ChangelogGen {
  val KeySpace = 1000000
  private val Day0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toInt
  private val Ts0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val YearMicros = 366L * 86400L * 1000000L

  /** `n` rows of stream `stream` under `seed` (streams are independent). */
  def generate(seed: Long, stream: Int, n: Int): Rows = {
    val rng = new SplittableRandom(seed * 1000003L + stream)
    val order = Array.tabulate(KeySpace)(identity)
    var i = KeySpace - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val live = new Array[Int](KeySpace)
    val slot = Array.fill(KeySpace)(-1)
    var nLive = 0
    var nextKey = 0
    val cur = new Rows(KeySpace) // each key's live values, indexed by key
    val out = new Rows(n)
    var m = 0

    def fresh(k: Int): Unit = {
      cur.cents(k) = rng.nextLong(1L, 10000000L)
      cur.qty(k) = rng.nextInt(1, 101)
      cur.score(k) = rng.nextInt(1000000) / 10000.0
      cur.day(k) = Day0 + rng.nextInt(366)
      cur.tsMicros(k) = Ts0 + rng.nextLong(YearMicros)
      cur.version(k) += 1
    }
    def emit(k: Int, op: Byte): Unit = if (m < n) {
      out.pk(m) = k; out.op(m) = op; out.cents(m) = cur.cents(k)
      out.qty(m) = cur.qty(k); out.score(m) = cur.score(k)
      out.day(m) = cur.day(k); out.tsMicros(m) = cur.tsMicros(k)
      out.version(m) = cur.version(k)
      m += 1
    }

    while (m < n) {
      val u = rng.nextDouble()
      if (u < 0.8 || nLive == 0) {
        require(nextKey < KeySpace, "changelog key space exhausted")
        val k = order(nextKey); nextKey += 1
        fresh(k)
        emit(k, 0)
        live(nLive) = k; slot(k) = nLive; nLive += 1
      } else {
        val rank = math.min(nLive - 1,
          math.pow(nLive.toDouble, rng.nextDouble()).toInt - 1)
        val k = live(rank)
        if (u < 0.9) {
          emit(k, 1)
          fresh(k)
          emit(k, 2)
        } else {
          emit(k, 3)
          nLive -= 1
          val last = live(nLive)
          live(slot(k)) = last; slot(last) = slot(k); slot(k) = -1
        }
      }
    }
    out
  }

  /** Per-key (rows, Σ sign, Σ sign·amount in cents) of `rows`, computed
    * from the generator's output alone: the reference the sink's
    * read-back is compared against.
    */
  final class Reference(rows: Rows) {
    val count = new Array[Long](KeySpace)
    val net = new Array[Long](KeySpace)
    val netCents = new Array[Long](KeySpace)
    var totalCents = 0L
    (0 until rows.n).foreach { i =>
      val k = rows.pk(i).toInt
      count(k) += 1
      net(k) += rows.sign(i)
      netCents(k) += rows.sign(i) * rows.cents(i)
      totalCents += rows.cents(i)
    }
    def keys: Iterator[Int] = (0 until KeySpace).iterator.filter(count(_) > 0)
    /** (keys with a non-zero net sign, Σ net sign over all keys) */
    val (liveKeys, netSum) = keys.foldLeft((0L, 0L)) { case ((c, s), k) =>
      (c + (if (net(k) != 0) 1 else 0), s + net(k)) }

    /** (rows, Σ sign, Σ sign·cents) over keys in [lo, hi). */
    def range(lo: Int, hi: Int): (Long, Long, Long) = {
      var c = 0L; var s = 0L; var a = 0L
      var k = math.max(lo, 0)
      while (k < math.min(hi, KeySpace)) {
        c += count(k); s += net(k); a += netCents(k); k += 1
      }
      (c, s, a)
    }
  }
}
