package graft.tools

/** `key=value` session-conf entries: `Bench` and `Dev` read them from
  * the `SPARK_GRAFT_CONF` env var (comma-separated, so values must not
  * contain commas). */
object DevConf {

  /** Splits each entry at its first `=`; an entry without one fails
    * with its text and `source` named. */
  def parse(entries: Seq[String], source: String): Seq[(String, String)] =
    entries.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"$source entry '$kv' is not key=value")
      }
    }

  /** The entries of `SPARK_GRAFT_CONF`, none when it is unset. */
  def fromEnv: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(v => parse(v.split(",").toSeq, "SPARK_GRAFT_CONF"))
}
