package graft

import scala.io.StdIn

import org.apache.spark.sql.SparkSession

/** Interactive SQL shell — the Spark-native stand-in for the reference's
  * CLI entry point (Astro shipped a `bin/hbase-sql` REPL [ref*: per
  * SURVEY.md §0 — mount empty]). Everything flows through `spark.sql`,
  * which the injected GraftSqlParser extends with the full A8 grammar
  * (CREATE TABLE ... MAPPED BY, LOAD DATA INPATH, DESCRIBE, ...), and the
  * persistent catalog means tables created in one shell session are still
  * there in the next.
  *
  *   sbt "runMain graft.Shell"            # interactive
  *   echo "SHOW TABLES;" | sbt "runMain graft.Shell"   # scripted
  *   (plain `sbt`, not `sbt -batch` — batch mode closes sbt's stdin, so the
  *    forked JVM sees EOF; `run / connectInput := true` does the forwarding)
  *
  * Statements end with `;` and may span lines. `exit;` / `quit;` (or EOF)
  * leaves. Errors print one line and the loop continues — a typo must not
  * kill the session.
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    println("graft SQL shell — statements end with ';', `exit;` quits")
    val buf = new StringBuilder
    var done = false
    while (!done) {
      print(if (buf.isEmpty) "graft> " else "     > ")
      Console.out.flush()
      Option(StdIn.readLine()) match {
        case None =>
          // EOF: run any buffered unterminated statement rather than
          // silently discarding it — piped scripts often omit the last ';'
          if (buf.toString.trim.nonEmpty) runComplete(spark, buf.toString + ";")
          done = true
        case Some(line) =>
          buf.append(line).append('\n')
          val (remainder, sawExit) = runComplete(spark, buf.toString)
          if (sawExit) done = true
          buf.clear(); buf.append(remainder)
      }
    }
    spark.stop()
  }

  /** Index of the first statement-terminating ';' in `text`, skipping any
    * inside single- or double-quoted SQL literals ('' is the escape inside
    * single quotes, "" inside double); -1 when none. */
  private def splitPoint(text: String): Int = {
    var i = 0
    var quote: Char = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          // doubled quote = escaped quote, stay inside the literal
          if (i + 1 < text.length && text.charAt(i + 1) == quote) i += 1
          else quote = 0
        }
      } else if (c == '\'' || c == '"') quote = c
      else if (c == ';') return i
      i += 1
    }
    -1
  }

  /** Run every complete `;`-terminated statement in `text` (semicolons
    * inside quoted literals do not terminate); returns the unterminated
    * remainder (a statement still being typed) and whether an exit/quit was
    * seen. Factored out of the readLine loop so the statement splitting +
    * error containment is unit-testable without a TTY. */
  private[graft] def runComplete(spark: SparkSession, text0: String): (String, Boolean) = {
    var text = text0
    var semi = splitPoint(text)
    while (semi >= 0) {
      val stmt = text.substring(0, semi).trim
      text = text.substring(semi + 1)
      if (stmt.equalsIgnoreCase("exit") || stmt.equalsIgnoreCase("quit"))
        return (text, true)
      if (stmt.nonEmpty) runOne(spark, stmt)
      semi = splitPoint(text)
    }
    (text, false)
  }

  private def runOne(spark: SparkSession, stmt: String): Unit =
    try {
      val t0 = System.nanoTime()
      val df = spark.sql(stmt)
      df.show(50, truncate = false)
      printf("(%.2f s)%n", (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        System.err.println("ERROR: " + msg.linesIterator.take(3).mkString(" | "))
    }
}
