package graftbench

import graft.Engine
import graft.ingest.Ingest
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.util.Random

/** The reader request mix: 80% dialect SELECTs from six
  * templates, 20% natural-language questions. Each request repeats an
  * earlier statement text exactly with probability one half, the way an
  * interactive session re-issues related statements.
  */
object ReadMix {
  val Tables = Seq("orders", "lineitem", "customer", "part")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  private def sqlReq(text: String): Req = Req("query", text, oracle = Some(text))

  private def nlReq(text: String, generated: String, oracle: String, ordered: Boolean): Req =
    Req("nl", text, natural = true, oracle = Some(oracle), ordered = ordered,
      check = r => if (r.generatedSql.contains(generated)) None
        else Some(s"generated ${r.generatedSql}, expected $generated"))

  /** Template ids: 0-5 dialect SELECTs, 6-9 natural language, drawn
    * 8:8:8:8:8:8:3:3:3:3 so that a fifth of the requests are NL.
    */
  val mix: Seq[(Int, Int)] = (0 until 6).map(_ -> 8) ++ (6 until 10).map(_ -> 3)

  /** A fresh statement of template `kind`, parameters drawn from `rnd`. */
  def fresh(kind: Int, rnd: Random): Req = {
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    kind match {
      case 0 => sqlReq(s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        s"WHERE o_custkey = ${rnd.nextInt(15000)} ORDER BY o_orderkey")
      case 1 => sqlReq(s"SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty FROM lineitem " +
        f"WHERE l_discount = ${rnd.nextInt(11) / 100.0}%.2f AND l_linenumber = ${1 + rnd.nextInt(7)} " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
      case 2 => sqlReq(s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = " +
        s"'${pick(priorities)}' ORDER BY o_orderkey LIMIT ${pick(Seq(10, 20, 50))} " +
        s"OFFSET ${10 * rnd.nextInt(100)}")
      case 3 => sqlReq(s"SELECT o_custkey, COUNT(*) AS n FROM orders WHERE o_orderstatus = " +
        s"'${pick(Seq("F", "O", "P"))}' GROUP BY o_custkey HAVING COUNT(*) >= ${8 + rnd.nextInt(3)} " +
        "ORDER BY o_custkey")
      case 4 => sqlReq(s"SELECT DISTINCT p_brand FROM part WHERE p_size = ${1 + rnd.nextInt(50)} " +
        "ORDER BY p_brand")
      case 5 =>
        val types = rnd.shuffle(partTypes).take(2)
        sqlReq(s"SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%${pick(nouns)}%' " +
          s"AND p_type IN ('${types(0)}', '${types(1)}') AND p_size < ${5 + rnd.nextInt(11)} " +
          "ORDER BY p_partkey")
      case 6 =>
        val x = 100000 + 1000 * rnd.nextInt(390)
        nlReq(s"how many orders have o_totalprice above $x",
          s"SELECT COUNT(*) FROM orders WHERE o_totalprice > $x",
          s"SELECT COUNT(*) AS count FROM orders WHERE o_totalprice > $x", ordered = true)
      case 7 =>
        val s = pick(segments)
        nlReq(s"how many customers in ${s.toLowerCase}",
          s"SELECT COUNT(*) FROM customer WHERE c_mktsegment = '$s'",
          s"SELECT COUNT(*) AS count FROM customer WHERE c_mktsegment = '$s'", ordered = true)
      case 8 =>
        val s = 1 + rnd.nextInt(50)
        nlReq(s"how many part have p_size at least $s",
          s"SELECT COUNT(*) FROM part WHERE p_size >= $s",
          s"SELECT COUNT(*) AS count FROM part WHERE p_size >= $s", ordered = true)
      case _ =>
        val b = 1 + rnd.nextInt(25)
        nlReq(s"list part with p_brand brand#$b",
          s"SELECT * FROM part WHERE p_brand = 'Brand#$b'",
          s"SELECT * FROM part WHERE p_brand = 'Brand#$b'", ordered = false)
    }
  }

  /** The request stream of one run: `n` requests, about half of them an
    * exact repeat of an earlier request of the same template.
    */
  def sequence(seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new Random(seed)
    val kinds = new Blocks(rnd, mix)
    val seen = mutable.Map[Int, mutable.ArrayBuffer[Req]]()
    IndexedSeq.fill(n) {
      val k = kinds.next()
      val earlier = seen.getOrElseUpdate(k, mutable.ArrayBuffer())
      if (earlier.nonEmpty && rnd.nextBoolean()) earlier(rnd.nextInt(earlier.size))
      else { val r = fresh(k, rnd); earlier += r; r }
    }
  }
}

/** Draws kinds in blocks that hold each kind its share of times, in an
  * order shuffled per block, so every run's mix is on target from its
  * first requests instead of varying with the draw.
  */
final class Blocks[K](rnd: Random, counts: Seq[(K, Int)]) {
  private var queue = List.empty[K]

  def next(): K = {
    if (queue.isEmpty) queue = rnd.shuffle(counts.flatMap { case (k, n) => Seq.fill(n)(k) }).toList
    val k = queue.head
    queue = queue.tail
    k
  }
}

/** One row of a writer's table. */
final case class WRow(key: Long, cust: Long, status: String, cents: Long, prio: String) {
  def price: Double = cents / 100.0
  def priceText: String = f"${cents / 100}%d.${cents % 100}%02d"
  def csv: String = s"$key,$cust,$status,$priceText,$prio"
}

object WRow {
  /** From a row with the writer-table columns in declared order. */
  def of(r: org.apache.spark.sql.Row): WRow =
    WRow(r.getLong(0), r.getLong(1), r.getString(2), math.round(r.getDouble(3) * 100), r.getString(4))
}

/** One writer client: its own table, an in-memory model of that
  * table, and a generator for the next request. The model is updated
  * as each request is generated, so `check` judges the response against
  * the state the server should be in at that point.
  */
final class WriteClient(val id: Int, seed: Long, initial: Seq[WRow]) {
  val table = s"w$id"
  val rows = mutable.LinkedHashMap[Long, WRow]() ++ initial.map(r => r.key -> r)
  private val rnd = new Random(seed * 7919L + id)
  private var nextKey = 1000000000L + id * 10000000L
  private val statuses = Seq("F", "O", "P")
  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
  private def anyKey(): Long =
    if (rows.isEmpty || rnd.nextDouble() < 0.1) nextKey + 5000000L
    else rows.keysIterator.drop(rnd.nextInt(rows.size)).next()
  private def newRow(): WRow = {
    nextKey += 1
    WRow(nextKey, rnd.nextInt(15000), pick(statuses), 100000L + rnd.nextInt(49900000), pick(prios))
  }
  private def message(expected: String)(r: Resp): Option[String] =
    if (r.message.contains(expected)) None else Some(s"message ${r.message}, expected $expected")

  private val kinds = new Blocks(rnd, WriteClient.mix)

  def next(): Req = kinds.next() match {
    case "select" => select()
    case "insert" =>
      val r = newRow()
      rows(r.key) = r
      write(s"INSERT INTO $table (o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        s"o_orderpriority) VALUES (${r.key}, ${r.cust}, '${r.status}', ${r.priceText}, '${r.prio}')",
        message("1 row inserted"), r.csv.length)
    case "update" =>
      val k = anyKey()
      val old = rows.get(k)
      val (set, updated) =
        if (rnd.nextBoolean()) {
          val s = pick(statuses)
          (s"o_orderstatus = '$s'", old.map(_.copy(status = s)))
        } else {
          val r = WRow(k, 0, "", 100000L + rnd.nextInt(49900000), "")
          (s"o_totalprice = ${r.priceText}", old.map(_.copy(cents = r.cents)))
        }
      updated.foreach(r => rows(k) = r)
      write(s"UPDATE $table SET $set WHERE o_orderkey = $k",
        message(s"${old.size} rows updated"), updated.fold(0)(_.csv.length))
    case "delete" =>
      val k = anyKey()
      val old = rows.remove(k)
      write(s"DELETE FROM $table WHERE o_orderkey = $k",
        message(s"${old.size} rows deleted"), old.fold(0)(_.csv.length))
    case _ =>
      val batch = Seq.fill(200 + rnd.nextInt(201))(newRow())
      batch.foreach(r => rows(r.key) = r)
      val csv = WriteClient.header + "\n" + batch.map(_.csv).mkString("\n") + "\n"
      Req("write", s"upload ${batch.size} rows into $table", upload = Some(csv), table = Some(table),
        changedBytes = csv.length,
        check = r => if (r.rowsImported.contains(batch.size.toLong)) None
          else Some(s"imported ${r.rowsImported}, expected ${batch.size}"))
  }

  private def write(sql: String, check: Resp => Option[String], bytes: Long): Req =
    Req("write", sql, check = check, changedBytes = bytes, table = Some(table))

  private val selects = new Blocks(rnd, (0 until 4).map(_ -> 1))

  private def select(): Req = {
    val all = rows.values.toSeq
    selects.next() match {
      case 0 =>
        val c = if (all.nonEmpty && rnd.nextDouble() < 0.8) all(rnd.nextInt(all.size)).cust
          else rnd.nextInt(15000).toLong
        val want = all.filter(_.cust == c).sortBy(_.key)
        Req("query", s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
          s"FROM $table WHERE o_custkey = $c ORDER BY o_orderkey",
          check = rowsMatch(want.map(r => Seq(r.key, r.cust, r.status, r.price, r.prio))))
      case 1 =>
        val want = all.groupBy(_.prio).toSeq.sortBy(_._1)
          .map { case (p, rs) => Seq(p, rs.size.toLong, rs.map(_.price).sum) }
        Req("query", s"SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total " +
          s"FROM $table GROUP BY o_orderpriority ORDER BY o_orderpriority", check = rowsMatch(want))
      case 2 =>
        val x = 100000 + 1000 * rnd.nextInt(390)
        val k = 10 * rnd.nextInt(50)
        val want = all.filter(_.price > x).sortBy(_.key).slice(k, k + 20)
        Req("query", s"SELECT o_orderkey, o_totalprice FROM $table WHERE o_totalprice > $x " +
          s"ORDER BY o_orderkey LIMIT 20 OFFSET $k", check = rowsMatch(want.map(r => Seq[Any](r.key, r.price))))
      case _ =>
        val s = pick(statuses)
        Req("query", s"SELECT COUNT(*) AS n FROM $table WHERE o_orderstatus = '$s'",
          check = rowsMatch(Seq(Seq(all.count(_.status == s).toLong))))
    }
  }

  /** Compare response rows, in order, with expected values per column. */
  private def rowsMatch(want: Seq[Seq[Any]])(r: Resp): Option[String] = {
    def same(v: Any, j: com.fasterxml.jackson.databind.JsonNode): Boolean = v match {
      case d: Double => j != null && j.isNumber && Check.close(d, j.asDouble)
      case l: Long => j != null && j.canConvertToLong && j.asLong == l
      case s: String => j != null && j.asText == s
      case _ => false
    }
    if (r.rows.size != want.size) Some(s"${r.rows.size} rows, expected ${want.size}")
    else r.rows.zip(want).collectFirst {
      case (got, w) if !w.zip(r.columns).forall { case (v, c) => same(v, got.get(c)) } =>
        s"row $got, expected $w"
    }
  }
}

object WriteClient {
  /** 40% SELECT, 35% INSERT, 10% UPDATE, 5% DELETE, 10% CSV upload. */
  val mix = Seq("select" -> 8, "insert" -> 7, "update" -> 2, "delete" -> 1, "upload" -> 2)
  val header = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderpriority"
  val rowsPerTable = 20000
}

/** `serve`: the HTTP server with one closed-loop client per core. Half
  * the clients read: the `ReadMix` stream over sf0.1 orders, lineitem,
  * customer and part, which no one writes, so reuse of reads shows. The
  * other half write: each owns a table seeded from a slice of orders and
  * sends reads beside inserts, staged overwrites and CSV uploads. Every
  * read is checked against DuckDB after the run, every writer response
  * and final table against the writer's model.
  */
object ServeWorkload {
  def run(ctx: Ctx, out: Outcome): Unit = {
    import org.apache.spark.sql.functions.col
    val readers = math.max(1, ctx.cores / 2)
    val writers = math.max(1, ctx.cores - readers)
    val orders = ctx.spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
    val total = orders.count()
    val rnd = new Random(ctx.seed)
    // input preparation, not timed: one parquet slice per writer table
    val slices = (0 until writers).map { c =>
      val lo = rnd.nextInt((total - WriteClient.rowsPerTable).toInt).toLong
      val path = ctx.work.resolve(s"slice$c.parquet").toString
      orders.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + WriteClient.rowsPerTable)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.parquet(path)
      (path, ctx.spark.read.parquet(path).collect().map(WRow.of).toSeq)
    }
    val svc = Serve.setUp(ctx, out, times = 3) { (engine, traced) =>
      val tr = if (traced) ctx.tracer else ctx.untraced
      val sources = ReadMix.Tables.map(t => s"${ctx.dataDir}/$t.parquet" -> t) ++
        slices.zipWithIndex.map { case ((path, _), c) => path -> s"w$c" }
      sources.foreach { case (path, table) =>
        tr.request(-1, "setup") {
          tr.span("ingest.import") {
            val n = Ingest.importParquet(engine.catalog, path, table)
            if (traced) ctx.ingestRows.addAndGet(n)
          }
        }
      }
    }
    val models = slices.zipWithIndex.map { case ((_, rows), c) => new WriteClient(c, ctx.seed, rows) }
    val stream = ReadMix.sequence(ctx.seed, 100000)
    val warm = ReadMix.sequence(ctx.seed ^ 0x5eed, 100000)
    val pos = new AtomicInteger(0)
    val warmPos = new AtomicInteger(0)
    def client(reads: => Req)(c: Int): Req = if (c < readers) reads else models(c - readers).next()
    val judge = new Serve.Judge(out)
    try Serve.measure(ctx, out, svc, judge, client(warm(warmPos.getAndIncrement())),
      client(stream(pos.getAndIncrement())), () => pos.set(0))
    finally svc.stop()
    judge.writeOracleChecks(ctx.work.resolve("oracle_checks.jsonl"))
    out.note("distinct_reads", judge.oracleChecks.size)
    models.foreach(m => finalCheck(svc.engine, m, out))
  }

  /** The table as stored must equal the client's model. */
  private def finalCheck(engine: Engine, m: WriteClient, out: Outcome): Unit = {
    out.attempted += 1
    val got = engine.catalog.load(m.table).collect().map(WRow.of).sortBy(_.key).toSeq
    val want = m.rows.values.toSeq.sortBy(_.key)
    if (got != want) out.fail(s"final ${m.table}: ${got.size} rows stored, model has ${want.size}" +
      got.diff(want).headOption.fold("")(r => s"; unexpected $r"))
  }
}
