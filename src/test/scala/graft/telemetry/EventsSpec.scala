package graft.telemetry

import org.scalatest.funsuite.AnyFunSuite

/** The operator-event channel: scoping, the outside-scope behaviour of
  * `record` and `warn`, and the JSON form. */
class EventsSpec extends AnyFunSuite {

  test("events land in the enclosing scope only, render as JSON, " +
      "and warn reaches stderr outside any scope") {
    Events.record("fixpoint", "unscoped", "rounds" -> 1) // dropped: no scope
    val (v, evs) = Events.scoped("q1") {
      Events.record("fixpoint", "loop", "rounds" -> 3)
      Events.scoped("q2")(Events.record("cache_touch", "tf"))
      Events.record("guard", "who\"q", "n" -> 2L, "cap" -> 64, "worst" -> Seq("a:9", "b:8"))
      42
    }
    assert(v == 42)
    assert(evs.map(e => (e.query, e.kind, e.name)) ==
      Seq((Some("q1"), "fixpoint", "loop"), (Some("q1"), "guard", "who\"q")))
    val parsed = org.json4s.jackson.JsonMethods.parse(evs(1).json)
    assert(parsed.asInstanceOf[org.json4s.JObject].obj.map(_._1) ==
      List("query", "kind", "name", "n", "cap", "worst"))
    assert((parsed \ "name").values == "who\"q")
    assert((parsed \ "worst").values == List("a:9", "b:8"))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Events.warn("guard", "lonely", "n" -> 1L)
    finally System.setErr(saved)
    assert(err.toString.linesIterator.contains(
      """{"query":null,"kind":"guard","name":"lonely","n":1}"""))
  }
}

object EventsSpec {
  /** The round counts the `fixpoint` events of loop `name` record, in order. */
  def rounds(evs: Seq[Events.Event], name: String): Seq[Int] = evs.collect {
    case Events.Event(_, "fixpoint", `name`, fields) =>
      fields.toMap.apply("rounds").asInstanceOf[Int]
  }

  /** `(who, n, cap)` of each `guard` event, in order. */
  def guards(evs: Seq[Events.Event]): Seq[(String, Long, Int)] = evs.collect {
    case Events.Event(_, "guard", who, fields) =>
      val f = fields.toMap
      (who, f("n").asInstanceOf[Long], f("cap").asInstanceOf[Int])
  }
}
