package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.protocol.{FieldValue, LineProtocol}

class PerfbenchSpec extends AnyFunSuite {

  private def stream(seed: Long, n: Int): Array[Byte] =
    new LineGen(seed, 16, 1709251200L * 1000000000L, 500000000L)
      .take(n).map(_.text).mkString("\n").getBytes(UTF_8)

  test("the same seed gives a byte-identical line stream") {
    assert(java.util.Arrays.equals(stream(7, 5000), stream(7, 5000)))
  }

  test("a different seed gives a different line stream") {
    assert(!java.util.Arrays.equals(stream(7, 5000), stream(8, 5000)))
  }

  test("exactly one line in 200 is malformed, and the parser rejects it") {
    val lines = new LineGen(3, 16, 0L, 1000L).take(20000)
    assert(lines.count(!_.valid) == 20000 / LineGen.MalformedEvery)
    lines.foreach { l =>
      assert(LineProtocol.parse(l.text).isLeft == !l.valid, l.text)
    }
  }

  test("a valid line parses to the fields the generator recorded") {
    new LineGen(5, 16, 0L, 1000L).take(2000).filter(_.valid).foreach { l =>
      val r = LineProtocol.parse(l.text).toOption.get
      assert(r.measurement == l.series)
      assert(r.timestamp.contains(l.timeNs))
      val got = r.fields.map {
        case (k, FieldValue.FloatV(v)) => k -> Left(v)
        case (k, FieldValue.StringV(v)) => k -> Right(v)
        case (k, v) => fail(s"unexpected field $k=$v")
      }
      assert(got.sortBy(_._1) == l.fields.sortBy(_._1))
    }
  }

  test("Zipf ranks stay in range and favour rank 0") {
    val z = new Zipf(16, 1.1)
    val rng = new Rng(1)
    val counts = Array.fill(16)(0)
    (1 to 20000).foreach(_ => counts(z.sample(rng)) += 1)
    assert(counts.sum == 20000)
    assert(counts(0) == counts.max)
    assert(counts(0) > 4 * counts(15))
  }

  test("the seeded shuffle is a permutation that depends on the seed") {
    val xs = (1 to 12).toSeq
    assert(new Rng(4).shuffle(xs).sorted == xs)
    assert(new Rng(4).shuffle(xs) == new Rng(4).shuffle(xs))
    assert(new Rng(4).shuffle(xs) != new Rng(5).shuffle(xs))
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50)
    assert(Stats.percentile(xs, 95) == 95)
    assert(Stats.percentile(xs, 100) == 100)
    assert(Stats.percentile(Seq(3.0), 95) == 3)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.samplesNeeded(95) == 200)
    assert(Stats.samplesNeeded(90) == 100)
    assert(Stats.supportedPercentile(200, 95) == 95)
    assert(Stats.supportedPercentile(1000, 95) == 95)
    assert(Stats.supportedPercentile(40, 95) == 75)
    assert(Stats.supportedPercentile(5, 95) == 0)
    // at the supported percentile, ten samples lie above it
    val xs = (1 to 40).map(_.toDouble)
    val p = Stats.percentile(xs, Stats.supportedPercentile(40, 95))
    assert(xs.count(_ > p) == 10)
  }

  test("failed_frac is failed or wrong operations over attempted ones") {
    assert(Stats.failedFrac(200, 3) == 0.015)
    assert(Stats.failedFrac(1, 0) == 0.0)
    assertThrows[IllegalArgumentException](Stats.failedFrac(0, 0))
    assertThrows[IllegalArgumentException](Stats.failedFrac(5, 6))
  }

  test("the end-to-end tail is the highest supported percentile") {
    assert(Result.tailPercentile(240) == 95)
    assert(Result.tailPercentile(200) == 95)
    assert(Result.tailPercentile(100) == 90)
    assert(Result.tailPercentile(12) == 50)
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, Result.tailPercentile(xs.size)) == 190)
  }

  test("union length of overlapping intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("an open-loop schedule is due at i / rate") {
    val s = Schedule(20)
    assert(s.dueNs(0) == 0 && s.dueNs(20) == 1000000000L && s.dueNs(1) == 50000000L)
  }

  test("the serve history's expected range counts follow its grid") {
    // one point per series every StepS seconds; a one-hour window holds
    // 3600 / StepS points, each with two or three fields
    val k = 0
    val a = Serve.pointS(k, 10)
    assert(Serve.expectedRows(k, a, a + 3600 - 1) == (3600 / Serve.StepS) * Serve.fields(k))
    assert(Serve.expectedRows(1, a - 10 * 86400L, a - 9 * 86400L) == 0)
  }

  test("call-site frames are read with or without a class-loader prefix") {
    val site = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "app//graft.engine.Engine.table(Engine.scala:3322)\n" +
      "graft.engine.ApiServer$$anon$1.handle(ApiServer.scala:280)\n" +
      "perfbench.Serve$.run(Serve.scala:9)"
    assert(Trace.graftFrames(site) ==
      Seq("graft.engine.Engine.table", "graft.engine.ApiServer$$anon$1.handle"))
  }

  test("trace frames name the enclosing method") {
    assert(Trace.methodOf("graft.engine.Engine.writeBatch") == "writeBatch")
    assert(Trace.methodOf("graft.engine.Engine.$anonfun$ingestStream$1") == "ingestStream")
  }
}
