package graft

/** Randomized DML differential fuzzer (r10 verdict item 6): the SELECT
  * fuzzer ([[DialectFuzz]]) pins the read side of the dialect; this
  * pins the WRITE side — INSERT's per-declared-type coercion and
  * omitted-column NULLs, UPDATE's single-SET + case-insensitive
  * stringified WHERE (and its update-everything no-WHERE form),
  * DELETE's mandatory WHERE, and the NULL-equivalence decision (a NULL
  * cell matches nothing — SURVEY §7; the reference persists nil as the
  * string "NULL", storage.go:56-61, which this engine deliberately
  * does not reproduce).
  *
  * Each case is a random statement sequence applied to THREE
  * independent interpretations:
  *   1. the engine ([[Engine.execute]] → parser → [[graft.exec.Dml]]
  *      → parquet round-trips), exercised by [[DmlFuzzSpec]] in CI;
  *   2. a pure-Scala model embedded here — an independent
  *      re-implementation of the documented semantics over typed
  *      in-memory rows, never touching Spark;
  *   3. an ANSI rendering replayed in DuckDB by `tools/dml_check.py`
  *      (the [[main]] below dumps each case's engine-final state as
  *      parquet plus `dml_cases.json` with the ANSI script).
  * The spec asserts per-statement status lines (`n rows updated` …)
  * AND the final table multiset; statements the dialect must REJECT
  * (bad coercions, unknown columns, WHERE-less DELETE, duplicate
  * INSERT columns) are asserted to throw and to leave state unchanged.
  * This triple-entry differential found a real defect on its first
  * run: DELETE's kept-set filter dropped NULL-celled rows that the
  * match never selected (fixed in Dml.delete, r11).
  */
object DmlFuzz {

  /** One column per dialect value type (IMAGE excluded: it resolves
    * filesystem paths, which is [[graft.functions.ImageResolver]]'s
    * spec surface, not value semantics).
    */
  val schema: Seq[(String, String)] = Seq(
    "id" -> "INT", "name" -> "TEXT", "score" -> "DECIMAL", "flag" -> "BOOL")

  /** A statement: dialect text, its ANSI rendering for DuckDB (None
    * for statements the engine rejects — they change nothing), and the
    * status line the engine must return (None = must throw).
    */
  final case class Step(sql: String, ansi: Option[String],
      expect: Option[String])

  final case class DmlCase(name: String, table: String,
      createSql: String, createAnsi: String, steps: Seq[Step],
      finalRows: Seq[Vector[Any]])

  // values whose Double.toString / Spark cast-to-string / DuckDB
  // CAST(.. AS VARCHAR) renderings all coincide (exact halves/quarters)
  private val intVocab = Seq("0", "3", "7", "42", "-5")
  private val decVocab = Seq("1.5", "2.0", "0.25", "-1.5")
  private val boolVocab = Seq("true", "false", "1", "0", "TRUE")
  private val textVocab = Seq("Alice", "BOB", "carol", "Dave", "x1")

  private def vocabOf(tpe: String): Seq[String] = tpe match {
    case "INT" => intVocab
    case "DECIMAL" => decVocab
    case "BOOL" => boolVocab
    case _ => textVocab
  }

  /** Mirror of Dml.coerce for the model (typed cell from raw text). */
  private def coerce(raw: String, tpe: String): Any = tpe match {
    case "INT" => raw.toLong
    case "DECIMAL" => raw.toDouble
    case "BOOL" => raw.toLowerCase match {
      case "true" | "1" => true
      case "false" | "0" => false
    }
    case _ => raw
  }

  /** The engine stringifies cells with Spark's cast-to-string, which
    * for LongType/DoubleType/BooleanType/StringType coincides with
    * Java toString.
    */
  private def cellStr(v: Any): String = String.valueOf(v)

  private def matches(v: Any, whereVal: String): Boolean =
    v != null && cellStr(v).equalsIgnoreCase(whereVal)

  /** ANSI literal for a typed model value. */
  private def ansiLit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case other => other.toString
  }

  /** ANSI rendering of the dialect's WHERE: case-insensitive equality
    * on the STRINGIFIED cell, three-valued NULL kept un-matched.
    */
  private def ansiMatch(c: String, w: String): String =
    s"lower(CAST($c AS VARCHAR)) = lower(${ansiLit(w)})"

  private def pick[T](rnd: scala.util.Random, xs: Seq[T]): T =
    xs(rnd.nextInt(xs.size))

  /** Render a dialect value token: TEXT always quoted; other types
    * sometimes quoted (the parser strips quotes before coercion, so
    * both spellings must behave identically).
    */
  private def dialectVal(rnd: scala.util.Random, tpe: String,
      raw: String): String =
    if (tpe == "TEXT" || rnd.nextInt(3) == 0) s"'$raw'" else raw

  /** Case-insensitive column-name spelling (resolved case-insensitively
    * per insert.go:142-149).
    */
  private def mangle(rnd: scala.util.Random, c: String): String =
    rnd.nextInt(4) match {
      case 0 => c.toUpperCase
      case 1 => c.capitalize
      case _ => c
    }

  def cases(n: Int, seed: Long, stepsPerCase: Int = 8): Seq[DmlCase] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { ci =>
      val table = f"dml_$ci%04d"
      val createSql = "CREATE TABLE " + table + " (" +
        schema.map { case (c, t) => s"$c $t" }.mkString(", ") + ")"
      val createAnsi = "CREATE TABLE " + table + " (" + schema.map {
        case (c, "INT") => s"$c BIGINT"
        case (c, "DECIMAL") => s"$c DOUBLE"
        case (c, "BOOL") => s"$c BOOLEAN"
        case (c, _) => s"$c VARCHAR"
      }.mkString(", ") + ")"
      var rows = Vector.empty[Vector[Any]] // model state, schema order
      val steps = Seq.newBuilder[Step]
      (1 to stepsPerCase).foreach { _ =>
        rnd.nextInt(10) match {
          case r if r <= 4 => // INSERT, random column subset
            val cols = rnd.shuffle(schema).take(1 + rnd.nextInt(schema.size))
            val raws = cols.map { case (_, t) => pick(rnd, vocabOf(t)) }
            val sql = s"INSERT INTO $table (" +
              cols.map(c => mangle(rnd, c._1)).mkString(", ") + ") VALUES (" +
              cols.zip(raws).map { case ((_, t), v) =>
                dialectVal(rnd, t, v) }.mkString(", ") + ")"
            val byName = cols.map(_._1).zip(
              cols.zip(raws).map { case ((_, t), v) => coerce(v, t) }).toMap
            val row = schema.map { case (c, _) =>
              byName.getOrElse(c, null) }.toVector
            rows :+= row
            val ansi = s"INSERT INTO $table (" +
              schema.map(_._1).mkString(", ") + ") VALUES (" +
              row.map(ansiLit).mkString(", ") + ")"
            steps += Step(sql, Some(ansi), Some("1 row inserted"))
          case 5 | 6 => // UPDATE, optional WHERE
            val (setCol, setTpe) = pick(rnd, schema)
            val setRaw = pick(rnd, vocabOf(setTpe))
            val setVal = coerce(setRaw, setTpe)
            val setIdx = schema.indexWhere(_._1 == setCol)
            val where =
              if (rnd.nextInt(5) == 0) None
              else {
                val (wc, wt) = pick(rnd, schema)
                val w0 = pick(rnd, vocabOf(wt))
                // sometimes mangle case (must still match) and
                // sometimes probe a trailing-zero spelling (must not)
                val w = rnd.nextInt(5) match {
                  case 0 => w0.toUpperCase
                  case 1 if wt == "DECIMAL" => w0 + "0"
                  case _ => w0
                }
                Some((wc, w))
              }
            val hit: Vector[Any] => Boolean = where match {
              case None => _ => true
              case Some((wc, w)) =>
                val wi = schema.indexWhere(_._1 == wc)
                r => matches(r(wi), w)
            }
            val nHit = rows.count(hit)
            rows = rows.map(r =>
              if (hit(r)) r.updated(setIdx, setVal) else r)
            val sql = s"UPDATE $table SET ${mangle(rnd, setCol)} = " +
              dialectVal(rnd, setTpe, setRaw) +
              where.map { case (wc, w) =>
                s" WHERE ${mangle(rnd, wc)} = ${dialectVal(rnd, "TEXT", w)}"
              }.getOrElse("")
            val ansi = s"UPDATE $table SET $setCol = ${ansiLit(setVal)}" +
              where.map { case (wc, w) =>
                s" WHERE ${ansiMatch(wc, w)}" }.getOrElse("")
            steps += Step(sql, Some(ansi), Some(s"$nHit rows updated"))
          case 7 | 8 => // DELETE (WHERE mandatory)
            val (wc, wt) = pick(rnd, schema)
            val w0 = pick(rnd, vocabOf(wt))
            val w = if (rnd.nextInt(4) == 0) w0.toUpperCase else w0
            val wi = schema.indexWhere(_._1 == wc)
            val nHit = rows.count(r => matches(r(wi), w))
            rows = rows.filterNot(r => matches(r(wi), w))
            val sql = s"DELETE FROM $table WHERE ${mangle(rnd, wc)} = " +
              dialectVal(rnd, "TEXT", w)
            steps += Step(sql,
              Some(s"DELETE FROM $table WHERE ${ansiMatch(wc, w)}"),
              Some(s"$nHit rows deleted"))
          case _ => // a statement the dialect must REJECT, state unchanged
            val sql = rnd.nextInt(7) match {
              case 0 => s"INSERT INTO $table (id) VALUES ('abc')" // bad INT
              case 1 => s"UPDATE $table SET ghost = 1" // unknown column
              case 2 => s"DELETE FROM $table" // mandatory WHERE
              case 3 => s"INSERT INTO $table (id, ID) VALUES (1, 2)" // dup col
              case 4 => s"UPDATE $table SET score = 'nan.x'" // bad DECIMAL
              case 5 => s"UPDATE $table SET flag = 'maybe'" // bad BOOL
              case _ => s"DELETE FROM $table WHERE ghost = 1" // unknown col
            }
            steps += Step(sql, None, None)
        }
      }
      DmlCase(f"dml_$ci%04d", table, createSql, createAnsi,
        steps.result(), rows)
    }
  }

  /** args: outDir [nCases] [seed] — run each case through a fresh
    * Engine, dump the final table as parquet plus `dml_cases.json`
    * (create/statements in ANSI) for `tools/dml_check.py`'s DuckDB
    * replay.
    */
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 120
    val seed = if (args.length > 2) args(2).toLong else 11L
    val spark = Sessions.local("graft-dmlfuzz")
    new java.io.File(outDir).mkdirs()
    val engine = new Engine(spark,
      java.nio.file.Files.createTempDirectory("graft_dmlfuzz").toString)
    var failed = 0
    val all = cases(n, seed)
    all.foreach { c =>
      try {
        engine.execute(c.createSql)
        c.steps.foreach { st =>
          if (st.expect.isDefined) engine.execute(st.sql)
          else try { engine.execute(st.sql); failed += 1
            System.err.println(s"[dmlfuzz] ${c.name} NOT rejected: ${st.sql}")
          } catch { case _: graft.dialect.DialectException => () }
        }
        engine.execute(s"SELECT * FROM ${c.table}").toOption.get
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[dmlfuzz] ${c.name} FAILED: ${e.getMessage}")
      }
    }
    val json = all.map { c =>
      val stmts = (c.createAnsi +: c.steps.flatMap(_.ansi))
        .map(Json.str).mkString("[", ",", "]")
      s"${Json.str(c.name)}: {\"table\": ${Json.str(c.table)}, \"stmts\": $stmts}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/dml_cases.json"), json)
    println(s"""{"dml_cases":${all.size},"failures":$failed}""")
    spark.stop()
  }
}
