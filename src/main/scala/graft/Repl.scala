package graft

import scala.io.StdIn

/** Interactive CLI REPL — the reference's primary entry point
  * (reference `main.go:29-121`) over the Spark engine. Reads one
  * statement per line, routes through Engine (SELECT → show, DML/DDL →
  * status line). Database directory comes from args(0) or ./graft_db.
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val dbPath = args.headOption.getOrElse("graft_db")
    val spark = Sessions.local("graft-repl")
    val engine = new Engine(spark, dbPath)
    println(s"graft engine — db at $dbPath. Statements end with newline; 'exit' quits.")
    var line = StdIn.readLine("graft> ")
    while (line != null && !Set("exit", "quit", "\\q").contains(line.trim.toLowerCase)) {
      val trimmed = line.trim
      if (trimmed.nonEmpty) {
        try {
          // confirmation gate for destructive NL-generated SQL
          // (reference `main.go:292-303`): show it, ask, then run
          val nlSql =
            if (graft.nl.Patterns.isNaturalLanguage(trimmed))
              engine.naturalToSql(trimmed)
            else None
          val gated = nlSql.exists(engine.isDestructive) && {
            println(s"[nl→sql] ${nlSql.get}")
            val answer = StdIn.readLine("execute this statement? [y/N] ")
            answer == null || !answer.trim.equalsIgnoreCase("y")
          }
          if (gated) println("cancelled")
          else {
            val (generated, result) = nlSql match {
              case Some(sql) => (Some(sql), engine.execute(sql))
              case None => engine.executeAny(trimmed)
            }
            generated.foreach(sql => println(s"[nl→sql] $sql"))
            result match {
              // reference-style fixed-width output (SURVEY S10)
              case Right(df) => println(graft.functions.Format.textTable(df, 50))
              case Left(msg) => println(msg)
            }
          }
        } catch {
          case e: graft.dialect.DialectException => println(s"error: ${e.message}")
          case e: Exception => println(s"error: ${e.getMessage}")
        }
      }
      line = StdIn.readLine("graft> ")
    }
    spark.stop()
  }
}
