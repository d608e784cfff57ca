package graft

/** Local-iteration query filter shared by Bench and Verify:
  * `SPARK_GRAFT_ONLY=q62_stream_join,q64_...` restricts the run to
  * those queries (the round driver never sets it). Unknown names fail
  * fast — a typo would otherwise run an empty set and read as success.
  */
object EnvFilter {
  /** JSON string-content escape shared by Bench and Verify: backslash,
    * quote, and ALL control chars (< 0x20) — a tab or CR in
    * builder-authored SQL or an error message would otherwise break the
    * driver's json.load and silently zero a round's record. ONE
    * implementation on purpose: two hand-rolled escapers had already
    * diverged (one lossily mapped control chars to spaces).
    */
  def jsonEsc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The query names in `raw` (default: `SPARK_GRAFT_ONLY`), if set. */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Set[String]] = {
    val o = raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    o.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    o
  }
}
