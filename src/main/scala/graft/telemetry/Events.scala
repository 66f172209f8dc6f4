package graft.telemetry

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The one operator-event channel. Operators report what they did (a
  * guard's exclusions, a loop's rounds, a cache touch) as [[Event]]s into
  * the scope of the query that ran them. The scope is thread-inherited
  * (a thread started inside it reports into it), never a JVM global, so
  * queries on separate threads keep separate records. */
object Events {

  /** `name` is the operator, loop or cache family the event is about;
    * `fields` are numbers, strings or sequences of them. */
  final case class Event(query: Option[String], kind: String, name: String,
      fields: Seq[(String, Any)]) {
    def json: String =
      (Seq("query" -> query.orNull, "kind" -> kind, "name" -> name) ++ fields)
        .map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  }

  private val scope = new DynamicVariable[Option[(String, ArrayBuffer[Event])]](None)

  /** Runs `body` in a fresh scope for `query`; returns its result and the
    * events it emitted, in order. */
  def scoped[T](query: String)(body: => T): (T, Seq[Event]) = {
    val events = ArrayBuffer.empty[Event]
    val out = scope.withValue(Some((query, events)))(body)
    (out, events.synchronized(events.toList))
  }

  private def emit(kind: String, name: String, fields: Seq[(String, Any)]): Event = {
    val e = Event(scope.value.map(_._1), kind, name, fields)
    scope.value.foreach { case (_, events) => events.synchronized(events += e) }
    e
  }

  /** Appends an event to the active scope; outside a scope, nothing. */
  def record(kind: String, name: String, fields: (String, Any)*): Unit =
    emit(kind, name, fields)

  /** [[record]], plus the event's JSON line on stderr, so a caller
    * outside any scope still sees every exclusion. */
  def warn(kind: String, name: String, fields: (String, Any)*): Unit =
    System.err.println(emit(kind, name, fields).json)

  /** The shared guard report: `over` is the materialized relation of the
    * keys `who` excludes for exceeding `cap`. Counts it and, if it is not
    * empty, warns a `guard` event with the count, the cap and the three
    * largest keys by `by`, each shown by `show` (the count job, plus one
    * top-3 job). Returns the count. */
  def guard(who: String, over: DataFrame, cap: Int, by: String)(show: Row => Any): Long = {
    val n = over.count()
    if (n > 0) warn("guard", who, "n" -> n, "cap" -> cap,
      "worst" -> over.orderBy(col(by).desc).limit(3).collect().toSeq.map(show))
    n
  }

  /** JSON string literal; escapes quote, backslash and every control char. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => x.toString
  }
}
