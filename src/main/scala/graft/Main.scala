package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.engine.Engine

/** CLI + interactive SQL REPL — the Spark analogue of the reference's
  * driver (reference: src/main.rs:11-78):
  *
  *  - one-shot mode: `Main "<sql>" [-l <types_len>]` runs a single query
  *    and prints wall-clock timing (src/main.rs:36-43);
  *  - no args: interactive SQL REPL. On a real terminal it is
  *    JLine-backed with arrow-key history recall persisted to
  *    `.history.txt` — parity with the reference's rustyline editor and
  *    history file (src/main.rs:31-34); on piped stdin (specs, driver
  *    smoke) it falls back to a plain line loop with the same contract.
  *    `q`/`exit`/`quit` to leave, per-query `Total execution time`
  *    (src/main.rs:45-78). Planning errors print and the loop continues
  *    (src/main.rs:56-59).
  */
object Main {

  /** Everything the CLI prints goes out as UTF-8, whatever the locale:
    * under a POSIX locale the JVM's own stdout would print the timing
    * line's `µ`, and any non-ASCII result cell, as `?`. */
  def main(args: Array[String]): Unit =
    Console.withOut(new java.io.PrintStream(new java.io.FileOutputStream(
      java.io.FileDescriptor.out), true, java.nio.charset.StandardCharsets.UTF_8))(run(args))

  private def run(args: Array[String]): Unit = {
    var sql: Option[String] = None
    var script: Option[String] = None
    var len = 1024L // reference default (src/main.rs:16-17)
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-l" | "--len" | "--types-table-length" =>
          if (i + 1 >= args.length) {
            System.err.println(s"error: ${args(i)} requires a value"); sys.exit(2)
          }
          len = try args(i + 1).toLong
          catch {
            case _: NumberFormatException =>
              System.err.println(s"error: ${args(i)} expects a number, got '${args(i + 1)}'")
              sys.exit(2)
          }
          i += 2
        case "-f" | "--file" =>
          if (i + 1 >= args.length) {
            System.err.println(s"error: ${args(i)} requires a path"); sys.exit(2)
          }
          script = Some(args(i + 1)); i += 2
        case s => sql = Some(s); i += 1
      }
    }
    if (script.nonEmpty && sql.nonEmpty) {
      System.err.println("error: give either a SQL string or -f <file>, not both")
      sys.exit(2)
    }
    val spark = Engine.build(Engine.Options(typesTableLength = len))
    (script, sql) match {
      case (Some(path), _) =>
        // script mode (beyond the reference CLI): `;`-separated
        // statements, quote-aware, `--` line comments — each statement
        // runs through the same runOne as the REPL
        val text =
          try java.nio.file.Files.readString(java.nio.file.Paths.get(path))
          catch { case e: java.io.IOException =>
            System.err.println(s"error: cannot read $path: ${e.getMessage}"); sys.exit(2)
          }
        splitStatements(text).foreach(runOne(spark, _))
      case (None, Some(q)) =>
        // one-shot SQL also lands in history (reference: src/main.rs:38)
        appendHistory(q)
        runOne(spark, q)
      case (None, None) => repl(spark)
    }
    spark.stop()
  }

  /** Split a SQL script into statements: `;` separates outside single
    * quotes ('' is the escaped quote), `--` starts a line comment
    * outside quotes. Empty/whitespace statements are dropped. */
  private[graft] def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    def flush(): Unit = { val s = cur.toString.trim; if (s.nonEmpty) out += s; cur.clear() }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuote) {
        cur.append(c)
        if (c == '\'') inQuote = false
        i += 1
      } else if (c == '\'') { cur.append(c); inQuote = true; i += 1 }
      else if (c == '-' && i + 1 < text.length && text.charAt(i + 1) == '-') {
        while (i < text.length && text.charAt(i) != '\n') i += 1 // skip comment
      } else if (c == ';') { flush(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    flush()
    out.result()
  }

  private def runOne(spark: SparkSession, sql: String): Unit = {
    val t0 = System.nanoTime()
    try {
      // EXPLAIN ANALYZE parity: DataFusion executes the plan and prints
      // per-operator metrics; Spark SQL has no such statement, so
      // intercept it here and route through Explain.analyze
      val analyzePrefix = "(?is)^\\s*EXPLAIN\\s+ANALYZE\\s+(.*)$".r
      sql match {
        case analyzePrefix(inner) => Explain.analyze(spark.sql(inner)).show(200, truncate = false)
        case _ => spark.sql(sql).show(20, truncate = false)
      }
      println(f"Total execution time: ${(System.nanoTime() - t0) / 1e3}%.0fµs")
    } catch {
      case e: Exception => println(e.getMessage)
    }
  }

  private val historyPath = java.nio.file.Paths.get(".history.txt")

  /** Appends one statement to `.history.txt` as a single line. History
    * is best-effort: a file that cannot be written never stops a query. */
  private def appendHistory(stmt: String): Unit =
    try java.nio.file.Files.writeString(historyPath, stmt.replace('\n', ' ') + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit
    catch { case _: java.io.IOException => }

  /** Continuation rule for the interactive REPL: accept on ACCEPT_LINE
    * iff the buffer is a complete statement — quit word, `;`-terminated,
    * or a single line with balanced quotes and no trailing `\`. A buffer
    * that already spans lines only completes on `;` (that's what the
    * user opted into); an unclosed '…' or a trailing `\` opens the
    * multi-line path without one. */
  private[graft] class SqlStatementParser extends org.jline.reader.impl.DefaultParser {
    private def unclosedQuote(s: String): Boolean = {
      var in = false; var i = 0
      while (i < s.length) { if (s.charAt(i) == '\'') in = !in; i += 1 }
      in
    }
    private[graft] def isComplete(line: String): Boolean = {
      val t = line.trim
      // the quote gate applies to the `;` rule too: a ';' INSIDE an
      // unclosed string literal must not terminate the statement
      t.isEmpty || Set("q", "exit", "quit").contains(t) ||
        (!unclosedQuote(t) &&
          (t.endsWith(";") || (!line.contains('\n') && !t.endsWith("\\"))))
    }
    override def parse(line: String, cursor: Int,
        context: org.jline.reader.Parser.ParseContext): org.jline.reader.ParsedLine = {
      if (context == org.jline.reader.Parser.ParseContext.ACCEPT_LINE && !isComplete(line))
        throw new org.jline.reader.EOFError(-1, cursor, "continuation")
      super.parse(line, cursor, context)
    }
  }

  /** True only when stdin is a real terminal. `System.console() != null`
    * alone breaks on JDK 22+ (JLine-backed java.io.Console exists even
    * with redirected stdin); `Console.isTerminal` is the JDK 22+ check,
    * absent on 17 — probe it reflectively. */
  private def stdinIsTty: Boolean = {
    val c = System.console()
    c != null && (try c.getClass.getMethod("isTerminal").invoke(c)
      .asInstanceOf[Boolean]
    catch { case _: ReflectiveOperationException => true })
  }

  private def repl(spark: SparkSession): Unit =
    if (stdinIsTty) replJline(spark) else replPlain(spark)

  /** Interactive path: JLine line editor (bundled with Spark's jars) —
    * up/down recalls history across sessions from `.history.txt`, the
    * same file and semantics as the reference's rustyline REPL
    * (src/main.rs:31-34, 76-77).
    *
    * Multi-line input (beyond the reference — its rustyline loop is
    * single-line): a statement continues across lines until a trailing
    * `;`, psql/duckdb-style, via a JLine Parser that raises EOFError on
    * unterminated input (JLine then shows the `.. ` secondary prompt
    * and keeps editing the same buffer). Bare quit words and `;`-less
    * SINGLE lines still execute immediately — existing single-line
    * usage (and the reference's) is untouched; only a line that ends
    * with an explicit continuation backslash or an unclosed quote joins
    * the multi-line path without a `;`. */
  private def replJline(spark: SparkSession): Unit = {
    import org.jline.reader.{EndOfFileException, LineReader, LineReaderBuilder, UserInterruptException}
    import org.jline.reader.{EOFError, ParsedLine, Parser}
    import org.jline.terminal.TerminalBuilder
    import org.jline.reader.impl.DefaultParser
    val sqlParser: Parser = new Main.SqlStatementParser
    val terminal = TerminalBuilder.builder().system(true).build()
    // tab completion (beyond the reference — rustyline there has none):
    // SQL keywords, the registered table/view names, and every graft
    // function under all its aliases. Static word list, zero per-key
    // catalog calls.
    val completions: java.util.List[String] = {
      val kw = Seq("SELECT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "HAVING",
        "LIMIT", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "ON",
        "UNION", "INTERSECT", "EXCEPT", "WITH", "AS", "AND", "OR", "NOT",
        "CASE", "WHEN", "THEN", "ELSE", "END", "DISTINCT", "VALUES",
        "CREATE", "TABLE", "VIEW", "INSERT", "INTO", "EXPLAIN", "ANALYZE",
        "DESC", "ASC", "NULLS", "FIRST", "LAST", "BETWEEN", "IN", "LIKE")
      val tables = graft.engine.Engine.tableNames ++ Seq("types", "test")
      val fns = graft.functions.Registry.builders.map(_._1) ++
        graft.udaf.Udafs.sums.map(_._1)
      (kw ++ tables ++ fns).distinct.asJava
    }
    val reader = LineReaderBuilder.builder()
      .terminal(terminal)
      .parser(sqlParser)
      .completer(new org.jline.reader.impl.completer.StringsCompleter(completions))
      .variable(LineReader.HISTORY_FILE, historyPath)
      .variable(LineReader.SECONDARY_PROMPT_PATTERN, ".. ")
      // plain-line history format: rustyline's (and replPlain's) files
      // are untimestamped, and JLine's timestamped default REJECTS plain
      // lines at load ("bad history file syntax" → empty history)
      .option(LineReader.Option.HISTORY_TIMESTAMPED, false)
      // JLine's own file writes are disabled: a multi-line entry saved
      // raw would split into several plain-format lines on reload. The
      // in-memory history keeps the raw buffer (in-session up-arrow
      // recalls the full statement for editing); the FILE gets the
      // flattened one-line form, appended manually below — same format
      // replPlain and the one-shot path write.
      .option(LineReader.Option.HISTORY_INCREMENTAL, false)
      .build()
    try {
      while (true) {
        // reference exits on both (src/main.rs:67-75)
        val line =
          try reader.readLine(">> ")
          catch {
            case _: EndOfFileException => println("CTRL-D"); return
            case _: UserInterruptException => println("CTRL-C"); return
          }
        // execute the RAW buffer (trailing `;` and continuation
        // backslashes stripped, literal-embedded newlines preserved —
        // a string typed across lines keeps its newline); the history
        // FILE gets a whitespace-flattened one-line rendering
        val stmt = line.replaceAll("\\\\\\n", " ")
          .trim.replaceAll(";+\\s*$", "").trim
        if (Set("q", "exit", "quit").contains(stmt)) return
        if (stmt.nonEmpty) {
          appendHistory(stmt)
          runOne(spark, stmt)
        }
      }
    } finally terminal.close()
  }

  /** Piped-stdin path (specs, driver smoke): plain line loop, history
    * appended to the same file. */
  private def replPlain(spark: SparkSession): Unit = {
    var line: String = null
    print(">> ")
    while ({ line = scala.io.StdIn.readLine(); line != null }) {
      val trimmed = line.trim
      if (Set("q", "exit", "quit").contains(trimmed)) return
      if (trimmed.nonEmpty) {
        appendHistory(trimmed)
        runOne(spark, trimmed)
      }
      print(">> ")
    }
  }
}
