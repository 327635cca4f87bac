package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: percentiles, open-loop latency,
  * result digests and span self times. Run with `sbt test` inside
  * perfbench/.
  */
class HarnessSpec extends AnyFunSuite {

  test("a percentile needs ten samples beyond its rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Quantiles.percentile(xs, 0.9) == 90.0)
    assert(Quantiles.percentile(xs, 0.5) == 50.0)
    intercept[IllegalArgumentException](Quantiles.percentile(xs.take(99), 0.9))
    intercept[IllegalArgumentException](Quantiles.percentile(xs.take(19), 0.5))
    assert(Quantiles.percentile(xs.take(20), 0.5) == 10.0)
    intercept[IllegalArgumentException](Quantiles.percentile(xs, 0.99))
    assert(Quantiles.percentile((1 to 1000).map(_.toDouble), 0.99) == 990.0)
  }

  test("percentiles ignore input order") {
    val xs = (1 to 200).map(i => (i * 37 % 200).toDouble)
    assert(Quantiles.percentile(xs, 0.9) == Quantiles.percentile(xs.sorted, 0.9))
    assert(Quantiles.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("open-loop latency runs from the due time") {
    val due = IndexedSeq(0L, 10L, 20L, 30L)
    // the sink reports two, then all four events counted
    assert(StreamBench.openLoopLatencyNs(due, Seq((25L, 2L), (40L, 4L))) ==
      IndexedSeq(25L, 15L, 20L, 10L))
  }

  test("a stalled sink inflates every event queued behind it") {
    val due = (0 until 5).map(_ * 100L)
    val steady = StreamBench.openLoopLatencyNs(due, due.indices.map(i => (due(i) + 50, i + 1L)))
    assert(steady.forall(_ == 50L))
    // the sink stalls until t = 1000, then reports everything at once
    val stalled = StreamBench.openLoopLatencyNs(due, Seq((1000L, 5L)))
    assert(stalled == IndexedSeq(1000L, 900L, 800L, 700L, 600L))
  }

  test("events no sink call counted are reported as lost") {
    assert(StreamBench.openLoopLatencyNs(IndexedSeq(0L, 1L, 2L), Seq((5L, 1L))) ==
      IndexedSeq(5L, -1L, -1L))
    // call order does not matter, only call time
    assert(StreamBench.openLoopLatencyNs(IndexedSeq(0L, 1L), Seq((9L, 2L), (4L, 1L))) ==
      IndexedSeq(4L, 8L))
  }

  private val rows = Seq(
    Row(1L, "a", 0.1 + 0.2, Seq(1.5f, 2.5f)),
    Row(2L, null, 3.0, Seq.empty[Float]),
    Row(3L, "c", -0.0, Seq(0.0f)))

  test("the digest ignores row order") {
    val d = Digest.of(rows.iterator)
    assert(d.rows == 3)
    assert(Digest.of(rows.reverse.iterator) == d)
    assert(Digest.of(Iterator(rows(1), rows(2), rows(0))) == d)
  }

  test("the digest sees a changed, missing or duplicated row") {
    val d = Digest.of(rows.iterator)
    assert(Digest.of(rows.take(2).iterator).digest != d.digest)
    assert(Digest.of((rows :+ rows.head).iterator).digest !=
      Digest.of((rows :+ rows(1)).iterator).digest)
    assert(Digest.of(Iterator(rows(0), rows(1), Row(3L, "c", 1e-9, Seq(0.0f)))).digest != d.digest)
  }

  test("the digest tolerates last-bit floating-point noise only") {
    assert(Digest.cell(0.30000000000000004) == Digest.cell(0.3))
    assert(Digest.cell(-0.0) == Digest.cell(0.0))
    assert(Digest.cell(0.3001) != Digest.cell(0.3))
    assert(Digest.cell(Map("b" -> 1, "a" -> 2)) == Digest.cell(Map("a" -> 2, "b" -> 1)))
  }

  test("a span's self time is its duration less its children's") {
    val t = new Trace
    val q = t.add("query", Trace.Root, 0, 100)
    val b = t.add("build", q, 0, 30)
    t.add("plan", q, 30, 40)
    t.add("execute", q, 40, 95)
    t.add("job", b, 5, 25)
    assert(t.selfNs(q) == 5)
    assert(t.selfNs(b) == 10)
    assert(t.selfNs(t.add("leaf", q, 95, 99)) == 4)
    // the new child also leaves less self time to its parent
    assert(t.selfNs(q) == 1)
  }

  test("BENCHMARK.json declares exactly the metrics the runs report") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val declared = """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
    assert(declared.sorted == (Catalog.endToEnd ++ Catalog.perLayer).sorted)
  }
}
