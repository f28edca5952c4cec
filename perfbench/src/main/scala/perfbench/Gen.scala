package perfbench

/** SplitMix64: a small, fast generator whose whole stream follows from
  * its seed, so every input the benchmark makes is reproducible. */
final class Rng(seed: Long) {
  private var state = seed

  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = {
    require(n > 0)
    ((nextLong() >>> 33) % n).toInt
  }

  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

/** Zipf(s) over ranks 0 until n: rank 0 is the most popular. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def sample(rng: Rng): Int = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** One generated line-protocol line and what the engine should make of
  * it: `fields` is empty for a malformed line. */
final case class GenLine(text: String, series: String, timeNs: Long,
    fields: Seq[(String, Either[Double, String])]) {
  def valid: Boolean = fields.nonEmpty
}

/** Seeded line-protocol stream: Zipf-popular series, two numeric fields
  * per line, a string field (drawn from a fixed vocabulary) on every
  * fourth series, and exactly one malformed line in every 200.
  *
  * Event times are unique per line: line `i` sits at
  * `startNs + i * stepNs`, so a (series, time) probe names one line. */
final class LineGen(seed: Long, nSeries: Int, startNs: Long,
    stepNs: Long) {
  import LineGen._

  private val rng = new Rng(seed)
  private val zipf = new Zipf(nSeries, 1.1)
  private var i = 0L
  private var badSlot = rng.nextInt(MalformedEvery)

  def next(): GenLine = {
    val k = zipf.sample(rng)
    val s = series(k)
    val t = startNs + i * stepNs
    val host = s"h${k % 16}"
    val region = Regions(k % Regions.length)
    val usage = rng.nextInt(1000000) / 1e4
    val load = rng.nextInt(100000) / 1e3
    val word = if (hasText(k))
      Some(s"${Vocab(rng.nextInt(Vocab.length))} ${Vocab(rng.nextInt(Vocab.length))}")
    else None
    val malformed = (i % MalformedEvery) == badSlot
    i += 1
    if (i % MalformedEvery == 0) badSlot = rng.nextInt(MalformedEvery)
    val tags = s"$s,host=$host,region=$region"
    if (malformed)
      // a timestamp that is not a number: rejected by the parser
      GenLine(s"$tags usage=$usage t${t / 1000}", s, t, Nil)
    else {
      val fs = Seq("usage" -> Left(usage), "load" -> Left(load)) ++
        word.map(w => "msg" -> Right(w)).toSeq
      val body = fs.map {
        case (n, Left(v)) => s"$n=$v"
        case (n, Right(w)) => s"""$n="$w""""
      }.mkString(",")
      GenLine(s"$tags $body $t", s, t, fs)
    }
  }

  def take(n: Int): Vector[GenLine] = Vector.fill(n)(next())
}

object LineGen {
  val MalformedEvery = 200

  def series(k: Int): String = f"cpu$k%03d"
  def hasText(k: Int): Boolean = k % 4 == 1

  val Regions: Vector[String] = Vector("us-east", "us-west", "eu-central", "ap-south")
  val Vocab: Vector[String] = Vector(
    "disk", "full", "timeout", "retry", "ok", "latency", "spike", "cache",
    "miss", "evict", "gc", "pause", "restart", "healthy", "degraded",
    "packet", "loss", "throttle", "quota", "error", "warn", "oom", "swap",
    "flush", "commit", "rollback", "leader", "election", "lag", "replica")
}

/** A fixed-rate open-loop schedule: event `i` is due at `i / ratePerS`
  * seconds after the start. */
final case class Schedule(ratePerS: Double) {
  def dueNs(i: Long): Long = (i * 1e9 / ratePerS).toLong
}
