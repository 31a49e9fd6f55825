package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}

/** Interactive REPL parity (reference `src/cli.rs:70-128`): multi-line
  * queries execute on a blank line, the loop continues across queries,
  * parse errors don't kill the session, and `exit` ends it.
  */
class CliSpec extends SparkTestBase {

  test("REPL runs two consecutive queries, survives a parse error, stops at exit") {
    val dir = graft.ingest.WikidataIngest.defaultDir
    graft.ingest.WikidataIngest.statements(spark, dir) // builds if absent
    val input = new BufferedReader(new StringReader(
      """SELECT ?p
        |WHERE { wd:Q31 wdt:P36 ?p . }
        |
        |ASK { wd:Q31 ?p ?o }
        |
        |THIS IS NOT SPARQL
        |
        |exit
        |""".stripMargin))
    val outBuf = new ByteArrayOutputStream()
    val errBuf = new ByteArrayOutputStream()
    val n = graft.cli.Query.repl(spark, dir, input,
      new PrintStream(outBuf, true, "UTF-8"), new PrintStream(errBuf, true, "UTF-8"))
    assert(n === 2) // both real queries executed; the bad one didn't
    val out = outBuf.toString("UTF-8")
    assert(out.linesIterator.count(_.nonEmpty) === 2) // one JSON line each
    assert(out.contains("\"boolean\"")) // the ASK result shape
    assert(errBuf.toString("UTF-8").contains("parse error"))
  }

  test("REPL ends cleanly at EOF with no trailing query") {
    val dir = graft.ingest.WikidataIngest.defaultDir
    val input = new BufferedReader(new StringReader("ASK { wd:Q31 ?p ?o }\n"))
    val outBuf = new ByteArrayOutputStream()
    // EOF arrives mid-query: the buffered text still executes once
    val n = graft.cli.Query.repl(spark, dir, input,
      new PrintStream(outBuf, true, "UTF-8"),
      new PrintStream(new ByteArrayOutputStream(), true, "UTF-8"))
    assert(n === 1)
  }
}
