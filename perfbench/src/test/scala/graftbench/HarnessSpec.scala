package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("the same seed gives the same request streams and query order") {
    assert(ReadMix.sequence(7, 500).map(_.text) == ReadMix.sequence(7, 500).map(_.text))
    assert(ReadMix.sequence(7, 500).map(_.text) != ReadMix.sequence(8, 500).map(_.text))
    val rows = Seq(WRow(1, 2, "O", 12345, "1-URGENT"), WRow(2, 3, "F", 99, "5-LOW"))
    def stream(seed: Long) = { val c = new WriteClient(0, seed, rows); Seq.fill(200)(c.next().text) }
    assert(stream(7) == stream(7))
    assert(stream(7) != stream(8))
    assert(Operators.order(7, 1) == Operators.order(7, 1))
    assert(Operators.order(7, 1).sorted == Operators.queries.sorted)
  }

  test("about half of the read requests repeat an earlier statement") {
    val texts = ReadMix.sequence(11, 400).map(_.text)
    val repeats = texts.size - texts.distinct.size
    assert(repeats > 150 && repeats < 260, repeats)
  }

  test("the tail percentile is the highest with ten samples beyond it") {
    assert(Stats.supportedTail(19).isEmpty)
    assert(Stats.supportedTail(20).contains(50.0))
    assert(Stats.supportedTail(199).contains(90.0))
    assert(Stats.supportedTail(200).contains(95.0))
    assert(Stats.supportedTail(1000).contains(99.0))
    assert(Stats.supportedTail(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.median(xs) == 50.0)
    assert(Stats.beyond(100, 95) == 5)
  }

  test("self time is the duration minus the union of the children") {
    val parent = Span(1, 0, 1, "root", 0, 100)
    val kids = Seq(Span(2, 1, 1, "a", 10, 30), Span(3, 1, 1, "b", 20, 50),
      Span(4, 1, 1, "c", 60, 70), Span(5, 1, 1, "d", 90, 120), Span(6, 2, 1, "e", 12, 14))
    val self = Tracer.selfTimes(parent +: kids)
    assert(self(1) == 100 - (40 + 10 + 10))
    assert(self(2) == 20 - 2)
    assert(self(6) == 2)
  }

  test("the fingerprint ignores row order and float noise but not a wrong value") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", 3.5), Row(3L, null, Seq(1.0f, 2.0f)))
    val fp = Check.fingerprint(rows)
    assert(Check.fingerprint(rows.reverse) == fp)
    assert(Check.fingerprint(Seq(Row(1L, "a", 0.3), rows(1), rows(2))) == fp)
    assert(Check.fingerprint(Seq(Row(1L, "a", 0.31), rows(1), rows(2))) != fp)
    assert(Check.fingerprint(rows.take(2)) != fp)
    assert(Check.fingerprint(rows :+ rows(0)) != fp)
  }

  test("the serve checks reject a wrong response") {
    val rows = Seq(WRow(1, 2, "O", 12345, "1-URGENT"))
    val client = new WriteClient(0, 3, rows)
    val count = Iterator.continually(client.next()).find(_.text.startsWith("SELECT COUNT(*)")).get
    val status = "'(\\w)'".r.findFirstMatchIn(count.text).get.group(1)
    // a SELECT leaves the model as it was when the SELECT was drawn
    val right = client.rows.values.count(_.status == status).toLong
    def countResp(n: Long) = Resp(200, Seq("n"), Seq(Resp.json(s"""{"n":$n}""")), None, None, None)
    assert(count.check(countResp(right)).isEmpty)
    assert(count.check(countResp(right + 1)).nonEmpty)

    val insert = Iterator.continually(client.next()).find(_.text.startsWith("INSERT")).get
    assert(insert.check(Resp(200, Nil, Nil, Some("1 row inserted"), None, None)).isEmpty)
    assert(insert.check(Resp(200, Nil, Nil, Some("0 rows inserted"), None, None)).nonEmpty)

    val nl = ReadMix.sequence(5, 200).find(_.natural).get
    assert(nl.check(Resp(200, Nil, Nil, None, None, Some("SELECT * FROM nowhere"))).nonEmpty)
  }
}
