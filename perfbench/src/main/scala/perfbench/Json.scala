package perfbench

/** Minimal JSON encoding for the run record. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}"))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def enc(v: Any): String = v match {
    case null                       => "null"
    case r: Raw                     => r.s
    case s: String                  => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean                 => b.toString
    case n: java.lang.Number        => n.toString
    case m: collection.Map[_, _]    =>
      m.map { case (k, x) => s"${str(k.toString)}:${enc(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_]            => xs.map(enc).mkString("[", ",", "]")
    case other                      => str(other.toString)
  }

  def op(r: OpRec): Raw = obj("name" -> r.name, "pass" -> r.pass,
    "start_ms" -> r.startMs, "end_ms" -> r.endMs,
    "construct_s" -> r.constructS, "plan_s" -> r.planS,
    "execute_s" -> r.executeS, "latency_s" -> r.latencyS,
    "rows" -> r.rows, "digest" -> r.digest, "ok" -> r.ok,
    "error" -> r.error, "pins_leaked" -> r.pinsLeaked, "extra" -> r.extra)
}
