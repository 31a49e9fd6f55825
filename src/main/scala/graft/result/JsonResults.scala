package graft.result

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Render

/** W3C SPARQL-Results-JSON serializer (reference
  * `src/to_json_result.rs:8-103`): `{"head":{"vars":[…]},
  * "results":{"bindings":[{var:{"type":…,"value":…,"xml:lang"?,
  * "datatype"?}}…]}}`; unbound/Null cells are omitted from their
  * binding; ASK renders `{"head":{"vars":[]},"boolean":…}`.
  *
  * The rendering happens distributed (type/value/lang/datatype computed
  * as Column expressions, each binding's JSON text built per partition);
  * only the final JSON assembly runs on the driver — the sink is for
  * protocol responses, which are bounded result sets
  * (`src/server.rs:114-118`).
  */
object JsonResults {

  private def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Serialize a term-column result (from [[graft.sparql.Sparql.query]])
    * to a String.
    *
    * The sink is for protocol responses, which are bounded result sets
    * — but the bound is ENFORCED, never silent: a result with more than
    * `spark.graft.json.maxRows` rows (default `limit`) raises, it does
    * not truncate. Rows stream through `toLocalIterator` (one partition
    * of rendered strings on the driver at a time), so memory is bounded
    * by a partition — plus, here, the assembled String.
    */
  def toJson(df: DataFrame, limit: Int = 1000000): String = {
    val buf = new java.io.ByteArrayOutputStream()
    writeJson(df, buf, maxBytes = Long.MaxValue, maxRows = confMaxRows(df, limit))
    buf.toString("UTF-8")
  }

  /** The `spark.graft.json.maxRows` row cap, validated. */
  def confMaxRows(df: DataFrame, limit: Int): Int =
    df.sparkSession.conf
      .getOption("spark.graft.json.maxRows").map { v =>
        val n = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.json.maxRows must be a positive int, got '$v'")
        }
        if (n <= 0) throw new IllegalArgumentException(
          s"spark.graft.json.maxRows must be a positive int, got '$v'")
        n
      }.getOrElse(limit)

  /** Stream the serialization to `out` (UTF-8), returning bytes
    * written. Bindings flow partition by partition from
    * `toLocalIterator`, so driver memory is bounded by ONE partition's
    * binding texts no matter how large the result — and that partition
    * itself by `maxBytes` (see [[renderBindings]]): the 100 TB-safe sink
    * the buffered [[toJson]] cannot be. Two independent ENFORCED bounds,
    * both fail-loud, never truncating: `maxRows` (the protocol row cap;
    * pass `Int.MaxValue` to disable for streaming consumers) and
    * `maxBytes` (the hard byte budget — a streamed response can abort
    * mid-body, so the budget throws rather than silently closing a
    * syntactically-complete-looking prefix).
    */
  def writeJson(df: DataFrame, out: java.io.OutputStream,
                maxBytes: Long, maxRows: Int): Long =
    prepare(df, maxRows, maxBytes).write(out, maxBytes)

  private def overBudget(maxBytes: Long) = new IllegalStateException(
    s"result exceeds the $maxBytes-byte budget; " +
      "raise spark.graft.server.maxResultBytes or add LIMIT to the query")

  /** A streaming serialization whose FIRST rows have already been
    * materialized: [[prepare]] runs every Spark job needed to produce
    * the first partition of bindings before returning, so a caller
    * that must commit to a response (e.g. send HTTP headers) before
    * writing can do so AFTER the query has demonstrably started
    * producing — a hung scan fails or times out in [[prepare]], where
    * the caller can still serve an error. Later partitions still
    * execute lazily during [[PreparedJson.write]].
    */
  final class PreparedJson private[JsonResults] (
      askBody: Option[String],
      vars: Seq[String],
      bindings: Iterator[String],
      maxRows: Int) {

    /** Write the serialization to `out` (UTF-8), returning bytes
      * written. `progress` is invoked with the cumulative byte count
      * after every write — a watchdog can distinguish a flowing
      * transfer from a hung one.
      */
    def write(out: java.io.OutputStream, maxBytes: Long,
              progress: java.util.function.LongConsumer = _ => ()): Long = {
      var written = 0L
      def w(s: String): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        written += b.length
        if (written > maxBytes) throw overBudget(maxBytes)
        out.write(b)
        progress.accept(written)
      }
      askBody match {
        case Some(body) =>
          w(body)
          return written
        case None =>
      }
      val head = vars.map(v => "\"" + esc(v) + "\"").mkString("[", ",", "]")
      w(s"""{"head":{"vars":$head},"results":{"bindings":[""")
      var n = 0
      while (bindings.hasNext) {
        val binding = bindings.next()
        n += 1
        if (n > maxRows)
          throw new IllegalStateException(
            s"result exceeds spark.graft.json.maxRows=$maxRows rows; " +
              "raise the limit or add LIMIT to the query")
        w((if (n > 1) "," else "") + binding)
      }
      w("]}}")
      written
    }
  }

  /** Executor side of [[prepare]]: each rendered row becomes the JSON
    * text of its binding object. Two guards make a runaway partition
    * safe to pull to the driver:
    *  - the task's kill flag is checked per row, so a cancelled job
    *    (timeout, client gone) stops at once — a cartesian's inner loop
    *    never polls it, and a killed task would otherwise keep filling
    *    the heap until its whole partition is built;
    *  - a partition whose binding texts alone pass `maxBytes` fails
    *    with the budget error (the response holding it could not fit
    *    either), so what one fetch holds is bounded by the byte budget,
    *    not by the partition's size. Characters count as a lower bound
    *    on UTF-8 bytes.
    */
  private def renderBindings(vars: Seq[String], maxBytes: Long)(
      rows: Iterator[Row]): Iterator[String] = {
    val task = TaskContext.get()
    var chars = 0L
    rows.map { row =>
      if (task.isInterrupted()) throw new TaskKilledException
      val fields = vars.zipWithIndex.flatMap { case (v, i) =>
        val base = i * 5
        val isNull = row.getBoolean(base + 4)
        if (isNull) None
        else {
          val sb = new StringBuilder
          sb.append('"').append(esc(v)).append("\":{\"type\":\"")
            .append(row.getString(base)).append("\",\"value\":\"")
            .append(esc(Option(row.getString(base + 1)).getOrElse("")))
            .append('"')
          Option(row.getString(base + 2)).foreach(l => sb.append(",\"xml:lang\":\"").append(esc(l)).append('"'))
          Option(row.getString(base + 3)).foreach(d => sb.append(",\"datatype\":\"").append(esc(d)).append('"'))
          sb.append('}')
          Some(sb.toString)
        }
      }
      val binding = fields.mkString("{", ",", "}")
      chars += binding.length + 1 // + the separating comma
      if (chars > maxBytes) throw overBudget(maxBytes)
      binding
    }
  }

  /** Build a [[PreparedJson]], forcing the first partition of rendered
    * bindings (and the whole job for ASK). Runs on the calling thread,
    * so job-group cancellation set there applies to these jobs.
    * `maxBytes` bounds each partition's bindings as [[renderBindings]]
    * says; pass the budget the result will be written under.
    */
  def prepare(df: DataFrame, maxRows: Int,
              maxBytes: Long = Long.MaxValue): PreparedJson = {
    if (df.columns.sameElements(Array("boolean"))) {
      val b = df.head().getBoolean(0)
      return new PreparedJson(Some(s"""{"head":{"vars":[]},"boolean":$b}"""),
        Nil, Iterator.empty, maxRows)
    }
    val vars = df.columns.toSeq
    // render per-variable fields distributed
    val rendered = df.select(vars.flatMap { v =>
      val t = col(v)
      Seq(
        Render.rdfType(t).as(s"${v}__type"),
        Render.lex(t).as(s"${v}__value"),
        Render.langTag(t).as(s"${v}__lang"),
        Render.datatype(t).as(s"${v}__dt"),
        (t.isNull || t.getField("kind") === "null").as(s"${v}__null"))
    }: _*)
    // fetch maxRows+1 so overflow is observable, then fail loudly
    // (clamped: maxRows = Int.MaxValue must not overflow the limit)
    val fetch = math.min(maxRows.toLong + 1, Int.MaxValue.toLong).toInt
    val limited = if (fetch == Int.MaxValue) rendered else rendered.limit(fetch)
    val bindings = limited.rdd
      .mapPartitions(renderBindings(vars, maxBytes))
      .toLocalIterator
    bindings.hasNext // force the first partition's job NOW, on this thread
    new PreparedJson(None, vars, bindings, maxRows)
  }
}
