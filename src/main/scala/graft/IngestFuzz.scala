package graft

/** Randomized CSV-import differential fuzzer (r11 verdict item 5): the
  * DML fuzzer pins the write side of the dialect; this pins the INGEST
  * side — S7's all-TEXT header inference (reference
  * `importer.go:38-52`: header names become columns, every cell TEXT
  * regardless of looks), rows with missing trailing cells (null-fill),
  * quoted fields (embedded commas), empty-cell → NULL, the literal
  * string "NULL" staying a string, and the downstream SELECT behavior
  * over the imported mixed-content TEXT columns (P5's per-row
  * dual-regime coercion is exactly the regime an all-TEXT import
  * lives in).
  *
  * Each case is a random CSV applied to THREE interpretations:
  *   1. the engine ([[graft.ingest.Ingest.importCsv]] → catalog →
  *      dialect SELECTs through [[Engine.execute]]), exercised by
  *      IngestFuzzSpec in CI;
  *   2. a pure-Scala model embedded here — an independent
  *      re-implementation of the documented CSV/dialect semantics over
  *      in-memory string rows, never touching Spark;
  *   3. an ANSI rendering replayed in DuckDB by
  *      `tools/ingest_check.py` over `read_csv(..., all_varchar=true,
  *      null_padding=true, auto_detect=false)` (the [[main]] below
  *      dumps each SELECT's engine result as parquet plus
  *      `ingest_cases.json` with the CSV path and ANSI scripts).
  *
  * Vocabulary is restricted to constructs where the three parsers
  * provably agree (verified empirically): no doubled-quote escapes
  * (Spark's default CSV escape is backslash, so `"a""b"` round-trips
  * differently than RFC 4180 engines), no quoted-empty fields, first
  * cell of every row non-empty (Spark skips fully-empty lines).
  *
  * Two generated constructs are documented SUPERSETS of the reference,
  * not parity: short rows null-fill here, while the reference's Go
  * csv.Reader (default FieldsPerRecord) returns ErrFieldCount on any
  * ragged row and ImportCSV aborts (`importer.go:59-66`); and cell
  * whitespace is preserved verbatim here, while the reference trims it
  * (TrimLeadingSpace + per-cell TrimSpace, `importer.go:27,76`). This
  * fuzzer's model pins the ENGINE's documented behavior on both;
  * [[IngestDivergence]] fuzzes the full divergence zone (those two
  * plus doubled quotes, quoted newlines, BOM, quoted-empty, bare
  * quotes) against a faithful Go-csv model and classifies every
  * outcome in CI.
  */
object IngestFuzz {

  final case class SelCase(label: String, dialect: String, ansi: String,
      expect: Seq[Vector[Any]])

  final case class IngestCase(name: String, table: String,
      header: Seq[String], csv: String, rows: Seq[Vector[String]],
      selects: Seq[SelCase])

  // cells: plain words (one mixed-case, one interior space, the literal
  // string NULL), numeric-looking strings that must SURVIVE as text
  // ("007" keeps its zero; "1.50" its trailing zero), and a
  // comma-embedding value that must be quoted on write
  private val wordVocab = Seq("alpha", "Beta", "x1", "NULL", "k 9")
  private val numVocab = Seq("42", "-5", "007", "1.50", "3")
  private val commaVal = "a,b"
  private val colNames = Seq("id", "name", "val", "amt", "Tag")

  private def pick[T](rnd: scala.util.Random, xs: Seq[T]): T =
    xs(rnd.nextInt(xs.size))

  /** One random cell; `allowEmpty=false` for the first column. */
  private def cell(rnd: scala.util.Random, allowEmpty: Boolean): String =
    rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => pick(rnd, wordVocab)
      case 4 | 5 | 6 => pick(rnd, numVocab)
      case 7 => commaVal
      case _ => if (allowEmpty) "" else pick(rnd, wordVocab)
    }

  /** CSV rendering of a cell: quote-wrap iff it embeds a comma (the
    * vocab has no quotes or newlines).
    */
  private def renderCell(v: String): String =
    if (v.contains(",")) "\"" + v + "\"" else v

  // ---- the pure-Scala model ------------------------------------------

  /** Parsed value of a written cell: empty → NULL (both Spark CSV's
    * default nullValue and DuckDB's default nullstr), else verbatim.
    */
  private def parsed(v: String): String = if (v.isEmpty) null else v

  /** Mirror of the dialect's P5 dual-regime comparison for a TEXT cell
    * vs a NUMERIC literal: numeric when the cell parses as double,
    * else raw-string comparison against the literal's text. NULL never
    * matches.
    */
  private def cmpModel(v: String, op: String, lit: Double,
      litText: String): Boolean = {
    if (v == null) return false
    v.toDoubleOption match {
      case Some(d) => op match {
        case "=" => d == lit; case "!=" => d != lit
        case "<" => d < lit; case "<=" => d <= lit
        case ">" => d > lit; case _ => d >= lit
      }
      case None => op match {
        case "=" => v == litText; case "!=" => v != litText
        case "<" => v < litText; case "<=" => v <= litText
        case ">" => v > litText; case _ => v >= litText
      }
    }
  }

  /** The ANSI rendering of that same dual regime (DuckDB + Spark SQL
    * portable).
    */
  private def cmpAnsi(c: String, op: String, litText: String): String =
    s"(CASE WHEN TRY_CAST($c AS DOUBLE) IS NOT NULL " +
      s"THEN TRY_CAST($c AS DOUBLE) $op $litText " +
      s"ELSE $c $op '$litText' END)"

  def cases(n: Int, seed: Long): Seq[IngestCase] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { ci =>
      val nCols = 3 + rnd.nextInt(3)
      val header = colNames.take(nCols)
      val nRows = 4 + rnd.nextInt(12)
      // raw written cells per row; short rows drop trailing cells
      val written: Seq[Seq[String]] = (1 to nRows).map { _ =>
        val full = header.indices.map(i => cell(rnd, allowEmpty = i > 0))
        if (rnd.nextInt(4) == 0 && nCols > 1)
          full.take(1 + rnd.nextInt(nCols - 1))
        else full
      }
      val csv = (header.mkString(",") +:
        written.map(_.map(renderCell).mkString(","))).mkString("\n") + "\n"
      // model state: parsed cells, missing trailing cells → null
      val rows: Seq[Vector[String]] = written.map { w =>
        header.indices.map(i =>
          if (i < w.length) parsed(w(i)) else null).toVector
      }
      val table = f"ing_$ci%04d"
      val selects = Seq.newBuilder[SelCase]
      // 1. the imported table itself: all-TEXT parity + null layout
      selects += SelCase("all", s"SELECT * FROM $table",
        s"SELECT * FROM $table",
        rows) // Vector is covariant: Seq[Vector[String]] <: Seq[Vector[Any]]
      // 2. either a string-equality filter or a dual-regime numeric one
      if (rnd.nextBoolean()) {
        val i = rnd.nextInt(nCols)
        val w = pick(rnd, wordVocab)
        selects += SelCase("filter",
          s"SELECT * FROM $table WHERE ${header(i)} = '$w'",
          s"SELECT * FROM $table WHERE ${header(i)} = '$w'",
          rows.filter(r => r(i) != null && r(i) == w))
      } else {
        val i = rnd.nextInt(nCols)
        val op = pick(rnd, Seq("=", "!=", "<", "<=", ">", ">="))
        val litText = pick(rnd, Seq("10", "3", "-5", "1.5", "100"))
        selects += SelCase("filter",
          s"SELECT * FROM $table WHERE ${header(i)} $op $litText",
          s"SELECT * FROM $table WHERE ${cmpAnsi(header(i), op, litText)}",
          rows.filter(r => cmpModel(r(i), op, litText.toDouble, litText)))
      }
      // 3. aggregates: COUNT skips the import's nulls, SUM coerces the
      // mixed TEXT column (non-numeric cells skipped; empty sum → 0)
      val ci1 = rnd.nextInt(nCols)
      val ci2 = rnd.nextInt(nCols)
      val sumCells = rows.flatMap(r => Option(r(ci2)))
        .flatMap(_.toDoubleOption)
      selects += SelCase("agg",
        s"SELECT COUNT(*) AS n_all, COUNT(${header(ci1)}) AS n_c, " +
          s"SUM(${header(ci2)}) AS s FROM $table",
        s"SELECT COUNT(*) AS n_all, COUNT(${header(ci1)}) AS n_c, " +
          s"COALESCE(SUM(TRY_CAST(${header(ci2)} AS DOUBLE)), 0.0) AS s " +
          s"FROM $table",
        Seq(Vector[Any](rows.size.toLong,
          rows.count(_(ci1) != null).toLong,
          if (sumCells.isEmpty) 0.0 else sumCells.sum)))
      // 4. GROUP BY over a mixed column: imported NULLs form a group
      val gi = rnd.nextInt(nCols)
      selects += SelCase("group",
        s"SELECT ${header(gi)}, COUNT(*) AS n FROM $table " +
          s"GROUP BY ${header(gi)}",
        s"SELECT ${header(gi)}, COUNT(*) AS n FROM $table " +
          s"GROUP BY ${header(gi)}",
        rows.groupBy(_(gi)).toSeq.map { case (k, g) =>
          Vector[Any](k, g.size.toLong)
        })
      IngestCase(table, table, header, csv, rows, selects.result())
    }
  }

  /** args: outDir [nCases] [seed] — write each case's CSV, import it
    * through a fresh catalog, dump every SELECT's engine result as
    * parquet, plus `ingest_cases.json` (CSV path, header, ANSI
    * statements) for `tools/ingest_check.py`'s DuckDB replay.
    */
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 120
    val seed = if (args.length > 2) args(2).toLong else 12L
    val spark = Sessions.local("graft-ingestfuzz")
    new java.io.File(outDir).mkdirs()
    val engine = new Engine(spark,
      java.nio.file.Files.createTempDirectory("graft_ingfuzz").toString)
    var failed = 0
    val all = cases(n, seed)
    all.foreach { c =>
      try {
        val csvPath = s"$outDir/${c.name}.csv"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(csvPath), c.csv)
        val imported = graft.ingest.Ingest.importCsv(
          engine.catalog, csvPath, c.table)
        if (imported != c.rows.size) {
          failed += 1
          System.err.println(
            s"[ingfuzz] ${c.name}: imported $imported rows, expected ${c.rows.size}")
        }
        c.selects.foreach { sc =>
          engine.execute(sc.dialect).toOption.get
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${c.name}_${sc.label}")
        }
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[ingfuzz] ${c.name} FAILED: ${e.getMessage}")
      }
    }
    val json = all.map { c =>
      val cols = c.header.map(Json.str).mkString("[", ",", "]")
      val sels = c.selects.map(sc =>
        s"{\"label\": ${Json.str(sc.label)}, \"ansi\": ${Json.str(sc.ansi)}}")
        .mkString("[", ",", "]")
      s"${Json.str(c.name)}: {\"table\": ${Json.str(c.table)}, \"csv\": ${Json.str(s"${c.name}.csv")}, " +
        s"\"header\": $cols, \"selects\": $sels}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/ingest_cases.json"), json)
    println(s"""{"ingest_cases":${all.size},"failures":$failed}""")
    spark.stop()
  }
}
