package perfbench

import java.io.{File, PrintWriter}
import scala.io.Source
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Layer names and the layer-specific traced figures every traced run
  * reports (0 where the workload does not call the layer). */
object Layers {
  val all: Seq[String] = Seq("queries", "plans", "streaming", "etl", "operators")
  val kernels: Seq[String] = Seq("graft_tokens", "graft_shingles",
    "graft_minhash", "graft_text_metrics", "graft_cosine",
    "graft_argmax_cosine")
  val extras: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count") ++
    kernels.map(k => s"plans.$k.ns_per_row" -> "ns") ++ Seq(
    "streaming.delta_write_ms" -> "ms", "streaming.state_write_bytes" -> "bytes",
    "streaming.files_written" -> "count", "streaming.state_files" -> "count",
    "streaming.state_read_bytes" -> "bytes", "etl.decide_ms" -> "ms",
    "operators.topk_exact_ms" -> "ms", "operators.topk_ivf_ms" -> "ms",
    "operators.topk_ivfpq_ms" -> "ms", "operators.append_ms" -> "ms",
    "operators.rows_examined_per_result" -> "count")
}

/** Order-insensitive result digest: row count plus the sum of per-row
  * 64-bit hashes (split in halves so the sums cannot overflow). */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(DoubleType) + lit(0.0)
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}" +
      s":${java.lang.Long.toHexString(r.getLong(2))}"
  }
}

/** Goldens: one `name<TAB>digest` line per checked output. */
object Goldens {
  def read(path: String): Map[String, String] =
    if (!new File(path).exists) Map.empty
    else {
      val s = Source.fromFile(path)
      try s.getLines().filter(_.contains("\t")).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap finally s.close()
    }

  def write(path: String, g: Map[String, String]): Unit =
    Json.writeLines(path, g.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" })
}

/** Counter validation: the listener's per-op counts against a replay of
  * the same op interval from Spark's own event log. */
object EventLog {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def validate(t: Tracer, op: OpRec, dir: String): Map[String, (Long, Long)] = {
    val files = Option(new File(dir).listFiles).toSeq.flatten
    require(files.nonEmpty, s"no event log under $dir")
    val events = files.flatMap { f =>
      val s = Source.fromFile(f)
      try s.getLines().toList.flatMap(l =>
        scala.util.Try(JsonMethods.parse(l)).toOption) finally s.close()
    }
    implicit val fmt: Formats = DefaultFormats
    def within(v: JValue) = v.extractOpt[Long].exists(x => x >= op.t0 && x <= op.t1)
    def ev(e: JValue) = (e \ "Event").extractOpt[String].getOrElse("")
    val jobs = events.filter(e => ev(e) == "SparkListenerJobStart" &&
      within(e \ "Submission Time"))
    val stageIds = events.filter(e => ev(e) == "SparkListenerStageSubmitted" &&
      within(e \ "Stage Info" \ "Submission Time"))
      .map(e => (e \ "Stage Info" \ "Stage ID").extract[Int]).toSet
    val tasks = events.filter(e => ev(e) == "SparkListenerTaskEnd" &&
      stageIds((e \ "Stage ID").extract[Int]))
    def sumOf(path: JValue => JValue) =
      tasks.map(e => path(e).extractOpt[Long].getOrElse(0L)).sum
    val replay = Map(
      "jobs" -> jobs.size.toLong, "stages" -> stageIds.size.toLong,
      "tasks" -> tasks.size.toLong,
      "shuffle_write_bytes" -> sumOf(_ \ "Task Metrics" \
        "Shuffle Write Metrics" \ "Shuffle Bytes Written"),
      "shuffle_read_bytes" -> (sumOf(_ \ "Task Metrics" \
        "Shuffle Read Metrics" \ "Remote Bytes Read") + sumOf(_ \
        "Task Metrics" \ "Shuffle Read Metrics" \ "Local Bytes Read")))
    val listener = t.countsFor(op)
    replay.collect { case (k, v) if listener(k) != v => k -> (listener(k), v) }
  }
}

/** Minimal JSON rendering for the result line, report and spans. */
object Json {
  def obj(kv: Seq[(String, Any)]): Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)

  def metrics(ms: Seq[(String, Double, String)]): Map[String, Any] =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> v, "unit" -> u)) })

  def span(s: Span): String = render(obj(Seq("op" -> s.op, "kind" -> s.kind,
    "name" -> s.name, "t0_ms" -> s.t0, "t1_ms" -> s.t1, "attrs" -> s.attrs)))

  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" +
      render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
