package graft

import graft.exec.Executor

/** Randomized dialect-SQL differential fuzzer (r8/r9 carried item):
  * generates random-but-valid dialect SELECTs (projection × alias ×
  * WHERE coercion/IN/BETWEEN/LIKE × GROUP BY/HAVING × lenient group ×
  * ORDER BY × LIMIT/OFFSET × DISTINCT) as PAIRED renderings of one
  * random AST — the dialect text run through [[graft.exec.Executor]],
  * and an ANSI translation that encodes the documented divergences
  * (A3 lenient-group count, A5/A7 coercing aggregates with empty→0,
  * P8 canonical-vs-raw IN, P9 dual-regime BETWEEN, P10 the four LIKE
  * shapes, cross-type %v comparisons). The ANSI side runs under
  * Spark SQL in CI (DialectFuzzSpec) and under DuckDB via
  * `tools/fuzz_check.py`, so the dialect pipeline is pinned against
  * two independent engines on thousands of cases, not just the
  * hand-written specs.
  *
  * Determinism rules baked into the generator (cross-engine hash
  * safety, see the repo's oracle discipline): SUM/AVG arguments are
  * integer-valued columns only (exact in double, and AVG translates
  * to SUM/COUNT so both engines perform the identical single
  * division); LIMIT/OFFSET only ever rides on a unique sort key
  * (c_custkey, or the group column post-aggregation); DISTINCT never
  * combines with LIMIT. Comparison is multiset (the checker sorts by
  * all columns), so ties in a plain ORDER BY are harmless.
  */
object DialectFuzz {

  final case class FuzzCase(name: String, dialect: String, ansi: String)

  private val intCols = Seq("c_custkey", "c_nationkey")
  private val strCols = Seq("c_name", "c_mktsegment")
  private val allCols = Seq("c_custkey", "c_name", "c_nationkey",
    "c_acctbal", "c_mktsegment")
  private val segs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY",
    "HOUSEHOLD", "FURNITURE")
  private val likeCores = Seq("Customer#00000", "#0000001", "BUILD",
    "ERY", "1", "er#")

  private def pick[T](rnd: scala.util.Random, xs: Seq[T]): T =
    xs(rnd.nextInt(xs.size))

  private def cmpOp(rnd: scala.util.Random): String =
    pick(rnd, Seq("=", "!=", "<", "<=", ">", ">="))

  /** One random predicate as (dialect, ansi). */
  private def predicate(rnd: scala.util.Random): (String, String) =
    rnd.nextInt(8) match {
      case 0 => // numeric column vs numeric literal — pushable regime
        val c = pick(rnd, intCols :+ "c_acctbal")
        val v = if (c == "c_acctbal") rnd.nextInt(10000) - 1000
          else rnd.nextInt(2000)
        val o = cmpOp(rnd)
        (s"$c $o $v", s"$c $o $v")
      case 1 => // cross-type: int column vs non-numeric literal — %v string regime
        val c = pick(rnd, intCols)
        val v = pick(rnd, segs)
        val o = cmpOp(rnd)
        (s"$c $o '$v'", s"CAST($c AS VARCHAR(40)) $o '$v'")
      case 2 => // string column vs numeric literal — per-row dual regime,
        // but these columns never parse numeric → always the string branch
        val c = pick(rnd, strCols)
        val v = rnd.nextInt(1000)
        val o = cmpOp(rnd)
        (s"$c $o $v", s"$c $o '$v'")
      case 3 => // string column vs string literal
        val c = pick(rnd, strCols)
        val v = pick(rnd, segs)
        val o = cmpOp(rnd)
        (s"$c $o '$v'", s"$c $o '$v'")
      case 4 => // IN: canonical numeric fast path / raw-string membership (P8)
        if (rnd.nextBoolean()) {
          val c = pick(rnd, intCols)
          val vs = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(2000))
          if (rnd.nextInt(4) == 0) { // non-canonical literal: never matches
            (s"$c IN (${vs.head}.0)",
              s"CAST($c AS VARCHAR(40)) IN ('${vs.head}.0')")
          } else
            (s"$c IN (${vs.mkString(", ")})", s"$c IN (${vs.mkString(", ")})")
        } else {
          val c = pick(rnd, strCols)
          val vs = Seq.fill(1 + rnd.nextInt(3))(pick(rnd, segs)).distinct
          val lst = vs.map(v => s"'$v'").mkString(", ")
          (s"$c IN ($lst)", s"$c IN ($lst)")
        }
      case 5 => // BETWEEN dual regime (P9)
        if (rnd.nextBoolean()) {
          val c = pick(rnd, intCols :+ "c_acctbal")
          val a = rnd.nextInt(1500); val b = a + rnd.nextInt(3000)
          (s"$c BETWEEN $a AND $b", s"$c BETWEEN $a AND $b")
        } else { // non-numeric bound → pure string range
          val c = pick(rnd, strCols)
          val a = ('A' + rnd.nextInt(10)).toChar
          val b = ('M' + rnd.nextInt(13)).toChar
          (s"$c BETWEEN '$a' AND '$b'", s"$c BETWEEN '$a' AND '$b'")
        }
      case 6 => // the four LIKE shapes (P10)
        val c = pick(rnd, strCols)
        val core = pick(rnd, likeCores)
        // cores contain no LIKE wildcards, so ANSI LIKE is exactly
        // contains/prefix/suffix — and portable to both Spark SQL
        // and DuckDB (starts_with/contains differ in name across them)
        rnd.nextInt(4) match {
          case 0 => (s"$c LIKE '%$core%'", s"$c LIKE '%$core%'")
          case 1 => (s"$c LIKE '$core%'", s"$c LIKE '$core%'")
          case 2 => (s"$c LIKE '%$core'", s"$c LIKE '%$core'")
          case _ => (s"$c LIKE '$core'", s"$c = '$core'")
        }
      case _ => // int col vs int col
        val a = pick(rnd, intCols); val b = pick(rnd, intCols)
        val o = cmpOp(rnd)
        (s"$a $o $b", s"$a $o $b")
    }

  /** Random WHERE tree: 1–3 predicates under ONE connective (mixing
    * AND and OR in a flat clause would hinge on parser precedence —
    * the hand specs pin that; the fuzz stays on unambiguous trees),
    * optional NOT on a single predicate.
    */
  private def whereClause(rnd: scala.util.Random): Option[(String, String)] = {
    if (rnd.nextInt(5) == 0) return None
    val n = 1 + rnd.nextInt(3)
    val parts = Seq.fill(n)(predicate(rnd))
    val conj = pick(rnd, Seq("AND", "OR"))
    val (d, a) = parts.reduceLeft { (acc, p) =>
      (s"${acc._1} $conj ${p._1}", s"${acc._2} $conj ${p._2}")
    }
    if (n == 1 && rnd.nextInt(4) == 0) Some((s"NOT ($d)", s"NOT ($a)"))
    else Some((d, a))
  }

  private def plainCase(rnd: scala.util.Random): (String, String) = {
    val distinct = rnd.nextInt(5) == 0
    val star = rnd.nextInt(8) == 0
    val (dProj, aProj) =
      if (star) ("*", "*")
      else {
        val cols = rnd.shuffle(allCols).take(1 + rnd.nextInt(4))
        val withGhost =
          if (rnd.nextInt(8) == 0) cols :+ "ghost_col" else cols
        val rendered = withGhost.zipWithIndex.map { case (c, i) =>
          val alias = if (rnd.nextInt(4) == 0) Some(s"p$i") else None
          val aliasSql = alias.map(a => s" AS $a").getOrElse("")
          if (c == "ghost_col") // P1: missing column projects as NULL
            (s"ghost_col$aliasSql",
              s"CAST(NULL AS VARCHAR(40)) AS ${alias.getOrElse("ghost_col")}")
          else (s"$c$aliasSql", s"$c$aliasSql")
        }
        (rendered.map(_._1).mkString(", "), rendered.map(_._2).mkString(", "))
      }
    val where = whereClause(rnd)
    val wd = where.map(w => s" WHERE ${w._1}").getOrElse("")
    val wa = where.map(w => s" WHERE ${w._2}").getOrElse("")
    val limited = !distinct && rnd.nextInt(3) == 0
    val (od, oa) =
      if (limited) { // unique sort key so the picked SET is deterministic
        val dir = if (rnd.nextBoolean()) " DESC" else ""
        (s" ORDER BY c_custkey$dir", s" ORDER BY c_custkey$dir")
      } else if (distinct) ("", "") // ANSI: DISTINCT can only order by
        // output columns; the multiset compare needs no order anyway
      else if (rnd.nextBoolean()) {
        val c = pick(rnd, allCols)
        val dir = if (rnd.nextBoolean()) " DESC" else ""
        (s" ORDER BY $c$dir", s" ORDER BY $c$dir")
      } else ("", "")
    val lim =
      if (limited) {
        val l = 1 + rnd.nextInt(100)
        if (rnd.nextBoolean()) s" LIMIT $l OFFSET ${rnd.nextInt(20)}"
        else s" LIMIT $l"
      } else ""
    val dk = if (distinct) "DISTINCT " else ""
    (s"SELECT $dk$dProj FROM customer$wd$od$lim",
      s"SELECT $dk$aProj FROM customer$wa$oa$lim")
  }

  private def aggCase(rnd: scala.util.Random): (String, String) = {
    val group = pick(rnd, Seq(None, Some("c_mktsegment"), Some("c_nationkey")))
    val lenient = group.isDefined && rnd.nextInt(5) == 0
    val where = whereClause(rnd)
    val wd = where.map(w => s" WHERE ${w._1}").getOrElse("")
    val wa = where.map(w => s" WHERE ${w._2}").getOrElse("")
    if (lenient) {
      // A3: no aggregates declared → COUNT(*) named `count` is injected
      val g = group.get
      (s"SELECT $g FROM customer$wd GROUP BY $g ORDER BY $g",
        s"SELECT $g, COUNT(*) AS count FROM customer$wa GROUP BY $g ORDER BY $g")
    } else {
      val nAgg = 1 + rnd.nextInt(3)
      val aggs = (0 until nAgg).map { i =>
        val al = s"a$i"
        rnd.nextInt(5) match {
          case 0 => (s"COUNT(*) AS $al", s"COUNT(*) AS $al")
          case 1 =>
            val c = pick(rnd, allCols)
            (s"COUNT($c) AS $al", s"COUNT($c) AS $al")
          case 2 => // SUM coerces; empty/non-numeric → 0 (A6/A7 family).
            // int-valued or never-numeric args only: exact in double
            val c = pick(rnd, intCols ++ strCols)
            (s"SUM($c) AS $al",
              s"COALESCE(SUM(TRY_CAST($c AS DOUBLE)), 0.0) AS $al")
          case 3 => // AVG empty→0; rendered as SUM/COUNT so both engines
            // perform the identical single division
            val c = pick(rnd, intCols ++ strCols)
            (s"AVG($c) AS $al",
              s"COALESCE(SUM(TRY_CAST($c AS DOUBLE)) / " +
                s"COUNT(TRY_CAST($c AS DOUBLE)), 0.0) AS $al")
          case _ =>
            val f = pick(rnd, Seq("MIN", "MAX"))
            val c = pick(rnd, allCols)
            (s"$f($c) AS $al", s"$f(TRY_CAST($c AS DOUBLE)) AS $al")
        }
      }
      val dAggs = aggs.map(_._1).mkString(", ")
      val aAggs = aggs.map(_._2).mkString(", ")
      group match {
        case None =>
          (s"SELECT $dAggs FROM customer$wd",
            s"SELECT $aAggs FROM customer$wa")
        case Some(g) =>
          val having =
            if (rnd.nextInt(3) == 0 && aggs.head._1.startsWith("COUNT"))
              Some(s"a0 >= ${1 + rnd.nextInt(50)}")
            else None
          val hd = having.map(h => s" HAVING $h").getOrElse("")
          val limited = rnd.nextInt(4) == 0
          val od = if (limited || rnd.nextBoolean()) s" ORDER BY $g" else ""
          val lim = if (limited) s" LIMIT ${1 + rnd.nextInt(10)}" else ""
          val inner = s"SELECT $g, $aAggs FROM customer$wa GROUP BY $g"
          val outer = having match {
            case Some(h) =>
              // ANSI HAVING cannot reference SELECT aliases portably —
              // filter the aliased output in an outer query instead
              s"SELECT * FROM ($inner) AS t WHERE $h$od$lim"
            case None => s"$inner$od$lim"
          }
          (s"SELECT $g, $dAggs FROM customer$wd GROUP BY $g$hd$od$lim",
            outer)
      }
    }
  }

  def cases(n: Int, seed: Long): Seq[FuzzCase] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val (d, a) =
        if (rnd.nextInt(3) == 0) aggCase(rnd) else plainCase(rnd)
      FuzzCase(f"case_$i%04d", d, a)
    }
  }

  /** args: sfDir outDir nCases seed — dumps each case's Executor
    * result as parquet plus fuzz_cases.json for tools/fuzz_check.py.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 1000
    val seed = if (args.length > 3) args(3).toLong else 10L
    val spark = Sessions.local("graft-dialectfuzz")
    new java.io.File(outDir).mkdirs()
    val ex = Executor.forDir(spark, sfDir)
    var failed = 0
    val all = cases(n, seed)
    all.foreach { c =>
      try ex.sql(c.dialect).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] ${c.name} FAILED: ${c.dialect}\n  ${e.getMessage}")
      }
    }
    val json = all.map(c =>
      s"${Json.str(c.name)}: {\"dialect\": ${Json.str(c.dialect)}, \"ansi\": ${Json.str(c.ansi)}}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/fuzz_cases.json"), json)
    println(s"""{"fuzz_cases":${all.size},"exec_failures":$failed}""")
    spark.stop()
  }
}
